package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded generators for the benchmark's inputs. Every value is a hash of
 * (seed, table, row, column), so a seed always gives the same tables.
 *
 * [[tables]] writes the star schema the 86 SparkEntry queries read (the
 * shapes and value ranges of the sf test tables: same columns, types,
 * vocabularies and key domains).
 */
object Gen {
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  private def lits(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("array(", ", ", ")")

  /** Uniform long in [0, n) from (seed, tag, key...). */
  private def u(seed: Long, tag: String, n: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(tag) +: keys): _*), lit(n))

  private def pick(seed: Long, tag: String, xs: Seq[String], key: Column): Column =
    element_at(expr(lits(xs)), (u(seed, tag, xs.size, key) + 1).cast("int"))

  private def money(seed: Long, tag: String, lo: Double, hi: Double, key: Column): Column =
    round(lit(lo) + u(seed, tag, ((hi - lo) * 100).toLong, key) / lit(100.0), 2)

  private def day(seed: Long, tag: String, from: String, days: Int, key: Column): Column =
    to_timestamp(date_add(lit(from).cast("date"), u(seed, tag, days, key).cast("int")))

  /** Document text for a source key: 10 to 100 words drawn from [[Vocab]]. */
  def text(seed: Long, key: Column): Column =
    array_join(transform(sequence(lit(1), (u(seed, "nw", 91, key) + 10).cast("int")), i =>
      element_at(expr(lits(Vocab)),
        (pmod(xxhash64(lit(seed), lit("w"), key, i), lit(Vocab.size.toLong)) + 1).cast("int"))),
      " ")

  /** Table name -> rows at scale factor `sf` (the sf0.1 sizes scale by 10 per step). */
  def sizes(sf: Double): Map[String, Long] = Map(
    "customer" -> 150000, "orders" -> 1500000, "lineitem" -> 6000000, "part" -> 200000,
    "supplier" -> 10000, "events" -> 1000000, "documents" -> 50000, "embeddings" -> 20000)
    .map { case (k, v) => k -> math.max(1L, math.round(v * sf)) }

  def tables(spark: SparkSession, seed: Long, sf: Double): Map[String, DataFrame] = {
    val n = sizes(sf)
    val id = col("id")
    val nUsers = math.max(1L, math.round(15000 * sf))
    Map(
      "region" -> spark.range(5).select(id.cast("int").as("r_regionkey"),
        element_at(expr(lits(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))),
          (id + 1).cast("int")).as("r_name")),
      "nation" -> spark.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")),
      "customer" -> spark.range(n("customer")).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        u(seed, "c_n", 25, id).cast("int").as("c_nationkey"),
        money(seed, "c_b", -999.99, 9999.99, id).as("c_acctbal"),
        pick(seed, "c_s", Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"),
          id).as("c_mktsegment")),
      "supplier" -> spark.range(n("supplier")).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        u(seed, "s_n", 25, id).cast("int").as("s_nationkey"),
        money(seed, "s_b", -999.99, 9999.99, id).as("s_acctbal")),
      "part" -> spark.range(n("part")).select(id.as("p_partkey"),
        concat_ws(" ", pick(seed, "p_a", Seq("blue", "hot", "small", "old", "red", "new", "cold"), id),
          pick(seed, "p_o", Seq("bolt", "gear", "anvil", "ring", "widget", "rod", "plate"), id))
          .as("p_name"),
        concat(lit("Brand#"), u(seed, "p_b", 25, id) + 1).as("p_brand"),
        pick(seed, "p_t", Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"), id)
          .as("p_type"),
        (u(seed, "p_s", 50, id) + 1).cast("int").as("p_size"),
        (lit(900.0) + (id % 1000) / lit(10.0)).as("p_retailprice")),
      "orders" -> spark.range(n("orders")).select(id.as("o_orderkey"),
        u(seed, "o_c", n("customer"), id).as("o_custkey"),
        pick(seed, "o_s", Seq("F", "O", "P"), id).as("o_orderstatus"),
        money(seed, "o_p", 1000.0, 500000.0, id).as("o_totalprice"),
        day(seed, "o_d", "1995-01-01", 2404, id).as("o_orderdate"),
        pick(seed, "o_r", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
          .as("o_orderpriority")),
      "lineitem" -> spark.range(n("lineitem")).select(
        u(seed, "l_o", n("orders"), id).as("l_orderkey"),
        u(seed, "l_p", n("part"), id).as("l_partkey"),
        u(seed, "l_s", n("supplier"), id).as("l_suppkey"),
        (u(seed, "l_l", 7, id) + 1).cast("int").as("l_linenumber"),
        (u(seed, "l_q", 50, id) + 1).cast("double").as("l_quantity"),
        money(seed, "l_e", 900.0, 105000.0, id).as("l_extendedprice"),
        (u(seed, "l_d", 11, id) / lit(100.0)).as("l_discount"),
        (u(seed, "l_t", 9, id) / lit(100.0)).as("l_tax"),
        pick(seed, "l_r", Seq("A", "N", "R"), id).as("l_returnflag"),
        pick(seed, "l_x", Seq("O", "F"), id).as("l_linestatus"),
        day(seed, "l_h", "1995-01-02", 2498, id).as("l_shipdate")),
      "events" -> spark.range(n("events")).select(id.as("event_id"),
        timestamp_micros(lit(1704067200000000L) + u(seed, "e_t", 30L * 86400 * 1000000, id))
          .as("ts"),
        u(seed, "e_u", nUsers, id).as("user_id"),
        pick(seed, "e_y", Seq("click", "signup", "error", "view", "purchase"), id).as("event_type"),
        money(seed, "e_v", 0.01, 490.02, id).as("value"),
        format_string("{\"k\": %d}", u(seed, "e_k", 100, id)).as("props")),
      "documents" -> documents(spark, seed, n("documents")),
      "embeddings" -> embeddings(spark, seed, n("embeddings")))
  }

  /** Documents; about 2% repeat an earlier document's text plus " dup". */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val isDup = id > 10 && u(seed, "d_dup", 100, id) < 2
    val src = when(isDup, id - 1 - u(seed, "d_src", 10, id)).otherwise(id)
    spark.range(n)
      .select(id.as("doc_id"),
        when(isDup, concat(text(seed, src), lit(" dup"))).otherwise(text(seed, src)).as("text"),
        pick(seed, "d_l", Seq("en", "en", "en", "es", "fr", "zh", "de"), id).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit vectors of 64 floats around one of ten label centres. */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val label = u(seed, "v_l", 10, id)
    def unif(tag: String, key: Column, i: Column) =
      pmod(xxhash64(lit(seed), lit(tag), key, i), lit(2000001L)) / lit(1e6) - lit(1.0)
    val raw = transform(sequence(lit(1), lit(64)), i =>
      unif("v_c", label, i) + unif("v_n", id, i) * lit(0.35))
    spark.range(n).select(id.as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
  }
}
