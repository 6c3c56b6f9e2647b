package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Adversarial-scale dedup soak (VERDICT r4 task #4): the hot-bucket fix is
 * spec-proved at 10⁴ identical docs; this main turns the 100-TB argument
 * from design into measurement by running the FULL near-dup pipeline —
 * minhash signatures → exact-dup collapse → LSH banding → occupancy cap →
 * estimate prefilter → exact verify → star-contraction components — on a
 * synthetic corpus one order of magnitude larger, with the dominant
 * web-scale duplicate mode planted deliberately:
 *
 *  - a single CLUSTER_SIZE-member byte-identical boilerplate cluster (the
 *    Common-Crawl "same consent page on 10⁵ hosts" shape — the input that
 *    made the r3 implementation quadratic);
 *  - (nDocs − clusterSize)/4 four-member NEAR-duplicate families (distinct
 *    texts, ~0.8 shingle Jaccard within a family, disjoint across
 *    families) — the load-bearing LSH work, since near-dups survive the
 *    exact collapse and must be banded, paired, estimated and verified.
 *
 * Success criteria checked here (the run FAILS loudly otherwise):
 *  1. the boilerplate cluster resolves to ONE exact-dup group — its
 *     members table carries exactly CLUSTER_SIZE rows under one
 *     representative (the collapse absorbed it before banding);
 *  2. the occupancy cap dropped ZERO banded rows ([[graft.operators.Dedup.capDroppedRows]])
 *     — with the collapse in place nothing in this corpus is hot;
 *  3. every family resolves to one component of size 4 (star contraction
 *     over the verified pairs).
 *
 * Output: one JSON line with corpus shape, per-stage wall times, pair/
 * component counts and the cap-drop counter — committed as the soak
 * section of SCALING/BENCH evidence.
 *
 * Usage: sbt "runMain graft.DedupSoak [nDocs] [clusterSize] [cpus]"
 *        (defaults 1,000,000 / 100,000 / 32)
 */
object DedupSoak {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nDocs = if (args.length > 0) args(0).toLong else 1000000L
    val clusterSize = if (args.length > 1) args(1).toLong else 100000L
    val cpus = if (args.length > 2) args(2).toInt else 32
    require(clusterSize < nDocs && (nDocs - clusterSize) % 4 == 0,
      s"need clusterSize < nDocs and 4 | (nDocs - clusterSize)")
    val spark = Bench.buildSession(cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup

    // Deterministic corpus, synthesized distributed (no driver loop, no
    // external data): ids [0, clusterSize) share one boilerplate text;
    // id >= clusterSize belongs to family (id-clusterSize)/4, member id%4.
    // A family text is 40 family-keyed md5-hex tokens plus one member
    // token. Shingles are CHARACTER 5-grams, so tokens must be
    // character-disjoint across families — random 8-hex-char tokens give
    // two unrelated docs an expected shared-5-gram count ≈ 356²/16⁵ ≈ 0.1;
    // within a family only the ~12-char member suffix differs, so
    // within-family Jaccard ≈ 0.95 (> the 0.7 threshold).
    val boiler = "cookie consent notice please accept our terms and " +
      "conditions to continue to the requested page thank you for visiting"
    val fam = expr(s"(id - $clusterSize) DIV 4").cast("string")
    val famTokens = concat_ws(" ", transform(sequence(lit(1), lit(40)),
      i => substring(md5(concat(fam, lit("_"), i.cast("string"))), 1, 8)))
    val memberTok = substring(
      md5(concat(fam, lit("_m"), pmod(col("id"), lit(4)).cast("string"))), 1, 10)
    val docs = spark.range(0, nDocs, 1, cpus * 4).select(col("id").as("doc_id"),
      when(col("id") < clusterSize, lit(boiler))
        .otherwise(concat(famTokens, lit(" z"), memberTok)).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nActual = docs.count()

    Dedup.resetCapDrops()
    val t0 = System.nanoTime()
    val (repPairs, members) = Dedup.minhashLshPairsCollapsed(docs, "doc_id", "text")
    val repPairsP = repPairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRepPairs = repPairsP.count()
    val membersP = members.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nMembers = membersP.count()
    val tPairs = (System.nanoTime() - t0) / 1e9

    // criterion 1: the planted mega-cluster is ONE exact-dup group
    val boilerGroup = membersP.groupBy("__rid").count()
      .filter(col("count") === clusterSize).count()
    require(boilerGroup == 1L,
      s"expected exactly one $clusterSize-member exact-dup group, got $boilerGroup")
    // criterion 2: the occupancy cap never engaged
    val dropped = Dedup.capDroppedRows.get()
    require(dropped == 0L,
      s"occupancy cap dropped $dropped banded rows — collapse failed to absorb")

    val t1 = System.nanoTime()
    val comps = Dedup.components(repPairsP.select("id_a", "id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = comps.groupBy("comp").count()
      .groupBy("count").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tComps = (System.nanoTime() - t1) / 1e9

    // criterion 3: every 4-member family is one component of size 4 (LSH at
    // j≈0.8 with 32 bands of 4 rows misses a true pair with P ≈ 1e-5; a
    // missed pair splits a family and shows up here)
    val nFamilies = (nDocs - clusterSize) / 4
    val fam4 = sizes.getOrElse(4L, 0L)
    require(fam4 >= (nFamilies * 9999) / 10000,
      s"expected ~$nFamilies size-4 components, got $fam4 (sizes: $sizes)")

    val total = tPairs + tComps
    println(f"""{"n_docs":$nActual,"cluster_size":$clusterSize,"cpus":$cpus,""" +
      f""""rep_pairs":$nRepPairs,"members":$nMembers,""" +
      f""""cap_dropped_rows":$dropped,"boiler_groups":$boilerGroup,""" +
      f""""n_families":$nFamilies,"size4_components":$fam4,""" +
      f""""pairs_sec":$tPairs%.2f,"components_sec":$tComps%.2f,""" +
      f""""total_sec":$total%.2f,""" +
      f""""docs_per_sec":${nActual / total}%.1f}""")
    spark.stop()
  }
}
