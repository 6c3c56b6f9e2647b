package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Tests of the benchmark's own code: percentiles, digest order
 * independence and span self time. Prints one line per check and exits 1
 * when any fails.
 *
 * {{{ python3 perfbench/run.py --selftest }}}
 */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") } catch {
      case e: Throwable => failures += 1; println(s"FAIL $name: $e")
    }

  private def same[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, expected $want")

  private def near(got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"got $got, expected $want")

  def main(args: Array[String]): Unit = {
    val a = Main.parse(args.toSeq)

    check("percentile interpolates between closest ranks") {
      near(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 0.5), 2.5)
      near(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 0.9), 3.7)
      near(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 0.0), 1.0)
      near(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 1.0), 4.0)
      near(Stats.median(Seq(7.0)), 7.0)
      near(Stats.median(Seq(5.0, 1.0, 9.0)), 5.0)
    }

    check("span self time excludes children; self times sum to the root wall") {
      val root = new Span("pass", None)
      val a1 = new Span("a", Some(root)); val b1 = new Span("b", Some(root))
      val a2 = new Span("a.inner", Some(a1))
      root.children ++= Seq(a1, b1); a1.children += a2
      root.wallNs = 10000000000L; a1.wallNs = 6000000000L; b1.wallNs = 3000000000L
      a2.wallNs = 2500000000L
      near(root.selfS, 1.0)
      near(a1.selfS, 3.5)
      near(Seq(root, a1, b1, a2).map(_.selfS).sum, root.wallS)
    }

    check("skew is max over median task time of the longest stage") {
      val s = new Span("x", None)
      val short = new StageAgg; short.wallMs = 10; Seq(1L, 100L).foreach(short.add(_, 0, 0))
      val long = new StageAgg; long.wallMs = 50; Seq(10L, 20L, 30L, 90L).foreach(long.add(_, 0, 0))
      s.stages = Seq(short, long)
      near(s.skew, 90.0 / 25.0)
    }

    val spark = Main.session(a("cpus").toInt, a("run-dir"))
    try {
      import spark.implicits._
      val df = Seq(
        (1L, 0.1 + 0.2, "a", Seq(1.5, 2.5), Map("k" -> 1)),
        (2L, -0.0, "b", Seq.empty[Double], Map.empty[String, Int]),
        (3L, 1e300, null, Seq(0.0), Map("z" -> 26)))
        .toDF("id", "x", "s", "xs", "m")

      check("digest ignores row order and partitioning") {
        val d = Digest.run(df)
        same(d.rows, 3L)
        same(Digest.run(df.orderBy(col("id").desc).repartition(3)), d)
        same(Digest.run(df.orderBy(rand(7)).coalesce(1)), d)
      }

      check("digest sees every value and duplicate rows") {
        val d = Digest.run(df)
        if (Digest.run(df.withColumn("s", when(col("id") === 2, "c").otherwise(col("s")))) == d)
          throw new AssertionError("a changed string kept the digest")
        if (Digest.run(df.withColumn("xs", when(col("id") === 1, array(lit(1.5)))
            .otherwise(col("xs")))) == d)
          throw new AssertionError("a changed array kept the digest")
        same(Digest.run(df.union(df)).rows, 6L)
        if (Digest.run(df.union(df)).hash == d.hash)
          throw new AssertionError("duplicated rows kept the hash")
      }

      check("digest compares top-level doubles at 10 significant digits") {
        val a1 = Seq((1L, 0.3), (2L, 0.0)).toDF("id", "x")
        val b1 = Seq((1L, 0.1 + 0.2), (2L, -0.0)).toDF("id", "x")
        same(Digest.run(a1), Digest.run(b1))
        if (Digest.run(Seq((1L, 0.3001), (2L, 0.0)).toDF("id", "x")) == Digest.run(a1))
          throw new AssertionError("a changed double kept the digest")
      }

      check("trace attributes each job's stages to the span that ran it") {
        val rec = new Recorder
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(rec)
        val t = new Trace(spark, rec)
        val (_, root) = t.span("root") {
          spark.range(1000).repartition(3).write.format("noop").mode("overwrite").save()
          t.span("child") {
            spark.range(1000).repartition(4).groupBy((col("id") % 5).as("k")).count()
              .write.format("noop").mode("overwrite").save()
          }
        }
        val child = root.children.head
        assert(root.jobs >= 1, "root ran no job")
        assert(child.jobs >= 1, "child ran no job")
        assert(root.stages.map(_.taskMs.size).sum >= 3, "root lost its tasks")
        assert(child.exchanges >= 1, "child counted no exchange")
        assert(child.shuffleMb > 0, "child wrote no shuffle")
        near(root.selfS + child.selfS, root.wallS)
        spark.sparkContext.removeSparkListener(rec)
        spark.listenerManager.unregister(rec)
      }
    } finally spark.stop()

    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
