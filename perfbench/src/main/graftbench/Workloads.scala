package graftbench

import scala.collection.mutable

import graft.operators.{ConflationPipeline, MatchPostProcessor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One client call: its wall and process CPU time. */
final case class Call(name: String, wallS: Double, cpuS: Double)

/** Everything a workload needs during a run. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
    val dataDir: String, val conf: Conf) {
  /** The client calls made in the current pass, in call order. */
  val calls = mutable.ArrayBuffer.empty[Call]
  var traced = false

  /** One client call: timed on its full result, a span when tracing. */
  def call[T](name: String, span: String)(body: => T): T = {
    val (t0, c0) = (System.nanoTime(), trace.cpuNs())
    val out = if (traced) trace.span(span)(body)._1 else body
    calls += Call(name, (System.nanoTime() - t0) / 1e9, (trace.cpuNs() - c0) / 1e9)
    out
  }
}

/** What one pass produced: its output row count, digests to compare, the
  * number of calls that threw, per-layer extras and results kept for checks. */
final case class PassOut(rows: Long, digests: Map[String, Digest], failed: Int = 0,
    extra: Map[String, Double] = Map.empty, keep: Map[String, DataFrame] = Map.empty)

trait Workload {
  def name: String
  /** Build this seed's inputs under `ctx.dataDir` (timed as set-up). */
  def setup(spark: SparkSession, seed: Long, dataDir: String, conf: Conf): Unit = ()
  /** One pass of the workload; persisted results stay until [[cleanup]]. */
  def pass(ctx: Ctx): PassOut
  /** The unmeasured first pass of a run. */
  def warmup(ctx: Ctx): PassOut = pass(ctx)
  /** Unmeasured output checks: a message per failed check. */
  def verify(ctx: Ctx, out: PassOut, first: PassOut): Seq[String]
  /** Further checks on the warm-up pass's output, before its cleanup. */
  def firstChecks(ctx: Ctx, first: PassOut): Seq[String] = Nil
  def cleanup(ctx: Ctx): Unit = ctx.spark.catalog.clearCache()
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "conflate" => Conflate
    case "queries" => Queries
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")
}

/**
 * `ConflationPipeline.run` then zoom-12 `tiles`, at the page count in
 * [[Conf]] with `roads + seed % 16` roads (the seed re-deals every page).
 * The untraced pass is the composed pipeline; the traced pass calls each
 * public stage itself and materializes it, so every stage is one span.
 */
object Conflate extends Workload {
  val name = "conflate"
  private val Mem = StorageLevel.MEMORY_AND_DISK

  def roads(ctx: Ctx): Int = ctx.conf.roads + (ctx.seed % 16).toInt

  private def materialize(df: DataFrame): (DataFrame, Digest) = {
    val p = df.persist(Mem)
    (p, Digest.run(p))
  }

  def pass(ctx: Ctx): PassOut = if (ctx.traced) stagePass(ctx) else {
    import ctx.spark.implicits._
    val (segs, segD) = ctx.call("segments", "conflate.kernel") {
      materialize(ConflationPipeline.run(ctx.spark, ctx.conf.pages, roads(ctx)).toDF())
    }
    val tileD = ctx.call("tiles", "conflate.tiles") {
      Digest.run(ConflationPipeline.tiles(segs.as[graft.model.ConflationSegment], 12))
    }
    PassOut(segD.rows, Map("segments" -> segD, "tiles" -> tileD), keep = Map("segments" -> segs))
  }

  /** The warm-up pass, then (unmeasured) a digest of the QA
    * length-conservation summary of its segments. */
  override def warmup(ctx: Ctx): PassOut = {
    import ctx.spark.implicits._
    val out = pass(ctx)
    val n = roads(ctx)
    val features = ConflationPipeline.features(ConflationPipeline.pages(ctx.spark, ctx.conf.pages, n), n)
    val qa = ConflationPipeline.qaSummary(ConflationPipeline.qaReport(features,
      out.keep("segments").as[graft.model.ConflationSegment]))
    val noFeatures = qa.filter(col("n_features") <= 0).count()
    out.copy(digests = out.digests + ("qa" -> Digest.run(qa)),
      extra = out.extra + ("qa_maps_without_features" -> noFeatures.toDouble))
  }

  private def stagePass(ctx: Ctx): PassOut = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val n = roads(ctx)
    def stage(phase: String)(df: => DataFrame): (DataFrame, Digest) =
      ctx.call(phase, s"conflate.$phase")(materialize(df))
    val (pages, pagesD) = stage("pages")(ConflationPipeline.pages(spark, ctx.conf.pages, n).toDF())
    val (feats, featsD) = stage("features")(
      ConflationPipeline.features(pages.as[graft.model.WebPage], n).toDF())
    val (refs, refsD) = stage("references")(ConflationPipeline.references(spark, n).toDF())
    val f = feats.as[graft.model.TargetMapFeature]
    val r = refs.as[graft.model.ShstReference]
    val (cands, candsD) = stage("candidates")(ConflationPipeline.matchCandidates(f, r))
    val (scored, scoredD) = stage("score")(ConflationPipeline.scoredCandidates(cands))
    val (post, postD) = stage("postprocess")(MatchPostProcessor(scored).toDF())
    val (enriched, enrichedD) = stage("enrich")(ConflationPipeline.enrichMatches(f, post))
    val (segs, segD) = stage("kernel")(ConflationPipeline.conflate(r, enriched).toDF())
    val tileD = ctx.call("tiles", "conflate.tiles")(
      Digest.run(ConflationPipeline.tiles(segs.as[graft.model.ConflationSegment], 12)))
    def ratio(a: Digest, b: Digest) = if (b.rows == 0) 0.0 else a.rows.toDouble / b.rows
    val rows = Map("pages" -> pagesD, "features" -> featsD, "references" -> refsD,
      "candidates" -> candsD, "score" -> scoredD, "postprocess" -> postD,
      "enrich" -> enrichedD, "kernel" -> segD, "tiles" -> tileD)
      .map { case (k, d) => s"conflate.$k.rows" -> d.rows.toDouble }
    PassOut(segD.rows, Map("segments" -> segD, "tiles" -> tileD), extra = rows ++ Map(
      "conflate.features.kept_ratio" -> ratio(featsD, pagesD),
      "conflate.candidates.fanout" -> ratio(candsD, featsD),
      "conflate.score.hit_ratio" -> ratio(scoredD, candsD)))
  }

  def verify(ctx: Ctx, out: PassOut, first: PassOut): Seq[String] = {
    val want = ctx.conf.expectedConflate(ctx.seed)
    out.digests.toSeq.sortBy(_._1).flatMap { case (k, d) =>
      Workloads.mismatch(s"$k digest vs first pass", Some(d), first.digests.get(k)) ++
        want.get(k).flatMap(w => Workloads.mismatch(s"$k vs committed", d.toString, w))
    }
  }

  override def firstChecks(ctx: Ctx, first: PassOut): Seq[String] =
    Workloads.mismatch("target maps without features in qaSummary",
      first.extra("qa_maps_without_features"), 0.0).toSeq ++
      (if (first.digests("qa").rows == 0) Seq("qaSummary is empty") else Nil)
}

/**
 * SparkEntry queries over tables generated once from a fixed data seed, so
 * every result can be checked against committed digests. A pass runs the
 * query mix in sorted order, starting at an offset chosen by the seed.
 */
object Queries extends Workload {
  val name = "queries"
  val DataSeed = 42L

  /** Writes the tables concurrently: each is a small job, so one at a
    * time the set-up would mostly wait on job start-up. */
  override def setup(spark: SparkSession, seed: Long, dataDir: String, conf: Conf): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(Gen.tables(spark, DataSeed, conf.sf).toSeq) { case (t, df) =>
      Future(df.write.mode("overwrite").parquet(s"$dataDir/tables/$t.parquet"))
    }, Duration.Inf)
    finally pool.shutdown()
  }

  def order(ctx: Ctx): Seq[String] = {
    val mix = ctx.conf.queryMix.sorted
    val k = (ctx.seed % mix.size).toInt
    mix.drop(k) ++ mix.take(k)
  }

  def pass(ctx: Ctx): PassOut = {
    val all = graft.SparkEntry.queries
    val dir = s"${ctx.dataDir}/tables"
    var failed = 0
    val digests = order(ctx).flatMap { q =>
      try Some(q -> ctx.call(q, s"queries.${ctx.conf.familyOf(q)}.$q") {
        Digest.run(all(q)(ctx.spark, dir))
      }) catch {
        case e: Exception =>
          System.err.println(s"query $q failed: $e")
          failed += 1
          None
      }
    }.toMap
    PassOut(digests.values.map(_.rows).sum, digests, failed)
  }

  def verify(ctx: Ctx, out: PassOut, first: PassOut): Seq[String] =
    out.digests.toSeq.sortBy(_._1).flatMap { case (q, d) =>
      ctx.conf.expectedQueries.get(q) match {
        case Some(w) => Workloads.mismatch(s"$q vs committed", d.toString, w)
        case None => Some(s"$q has no committed digest")
      }
    }
}
