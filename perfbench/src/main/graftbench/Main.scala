package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run in one JVM: set up (several times), one warm-up pass,
 * then measured passes for `--seconds`, then, with `--trace 1`, one traced
 * pass. Prints one JSON result line last on stdout and exits 1 when any
 * output check failed.
 *
 * {{{
 * Main --workload conflate|queries --seed N --seconds S --trace 0|1
 *      --conf DIR --run-dir DIR --cpus N [--trace-out FILE] [--mix all]
 *      [--pages N --roads N] [--record]
 * }}}
 * `--record` prints the first pass's digests instead of checking them
 * against `expected.json` (how the committed values are produced).
 */
object Main {
  val SetupRepeats = 3
  val MinPasses = 3
  /** Stop starting passes after this long, so the run ends well in time. */
  val DeadlineS = 140.0

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  /** `--key value` pairs; `--record` takes no value. */
  def parse(args: Seq[String]): Args = Args(
    args.flatMap(x => if (x == "--record") Seq(x, "1") else Seq(x)).grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap)

  def session(cpus: Int, runDir: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graftbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.broadcastTimeout", "1800")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$runDir/local")
    .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    .getOrCreate()

  /** Block-manager memory plus disk still held by RDD blocks, in MB. */
  def retainedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def log(msg: String): Unit = System.err.println(f"graftbench [$elapsed%6.1f s] $msg")
    val a = parse(argv.toSeq)
    val w = Workloads(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val record = a.get("record").isDefined
    val runDir = a("run-dir")
    val conf = Conf.load(a("conf"), a.m)
    val dataDir = s"$runDir/data"

    var spark: SparkSession = null
    val setups = (1 to SetupRepeats).map { _ =>
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = session(a("cpus").toInt, runDir)
      w.setup(spark, seed, dataDir, conf)
      (System.nanoTime() - s0) / 1e9
    }
    log(f"set-up x$SetupRepeats: ${setups.map(x => f"$x%.2f").mkString(" ")} s")
    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    if (traced) spark.listenerManager.register(recorder)
    val trace = new Trace(spark, recorder)
    val ctx = new Ctx(spark, trace, seed, dataDir, conf)

    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def check(errs: Seq[String], calls: Int, threw: Int): Unit = {
      attempted += calls + threw
      failed += math.min(calls + threw, threw + errs.size)
      errors ++= errs
    }
    def onePass(body: => PassOut = w.pass(ctx)): (PassOut, Span, Seq[Call]) = {
      ctx.calls.clear()
      val (out, span) = trace.span("pass")(body)
      (out, span, ctx.calls.toSeq)
    }

    val (first, _, firstCalls) = onePass(w.warmup(ctx))
    if (record) {
      println(first.digests.toSeq.sortBy(_._1)
        .map { case (k, d) => s"""  "$k": "$d"""" }.mkString("{\n", ",\n", "\n}"))
      println(s"extra: ${first.extra}")
      println(firstCalls.map(c => f"${c.name}=${c.wallS}%.3f").mkString("calls: ", " ", ""))
    }
    check(if (record) Nil else w.verify(ctx, first, first), firstCalls.size, first.failed)
    check(if (record) Nil else w.firstChecks(ctx, first), 1, 0)
    w.cleanup(ctx)
    log("warm-up pass and its checks done")

    val shuffles, rows, retained = mutable.ArrayBuffer.empty[Double]
    val callSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Call]]
    val m0 = elapsed
    while (rows.size < (if (record) 1 else MinPasses) || (elapsed - m0 < seconds && elapsed < DeadlineS)) {
      val (out, span, calls) = onePass()
      check(if (record) Nil else w.verify(ctx, out, first), calls.size, out.failed)
      if (record) {
        println(calls.map(c => f"${c.name}=${c.wallS}%.3f").mkString("calls: ", " ", ""))
        out.digests.foreach { case (k, d) =>
          if (first.digests.get(k).exists(_ != d)) println(s"UNSTABLE $k: ${first.digests(k)} then $d")
        }
      }
      shuffles += span.shuffleMb
      rows += out.rows.toDouble
      calls.foreach(c => callSamples.getOrElseUpdate(c.name, mutable.ArrayBuffer.empty) += c)
      w.cleanup(ctx)
      retained += retainedMb(spark)
      log(f"pass ${rows.size}: ${span.wallS}%.3f s")
    }
    // A pass's time is the sum over its calls of each call's median across
    // the measured passes: one call slowed by the host in one pass then
    // moves the figure by its own share, not by the whole pass.
    val wallS = callSamples.values.map(cs => Stats.median(cs.map(_.wallS).toSeq)).sum
    val cpuS = callSamples.values.map(cs => Stats.median(cs.map(_.cpuS).toSeq)).sum

    log(callSamples.map { case (n, cs) => f"$n=${Stats.median(cs.map(_.wallS).toSeq)}%.3f" }
      .mkString(s"call medians (${callSamples.values.map(_.size).sum} samples): ", " ", ""))
    val metrics: Seq[(String, Double, String)] = if (!traced) {
      val samples = callSamples.values.flatten.map(_.wallS).toSeq
      Seq(("setup_s", Stats.median(setups), "s"),
        ("wall_s", wallS, "s"),
        ("cpu_s", cpuS, "s"),
        ("shuffle_mb", Stats.median(shuffles.toSeq), "MB"),
        ("rows_per_s", Stats.median(rows.toSeq) / wallS, "1/s"),
        ("op_p50_s", Stats.percentile(samples, 0.5), "s"),
        ("op_p75_s", Stats.percentile(samples, 0.75), "s"))
    } else {
      ctx.traced = true
      val (out, span, calls) = onePass()
      check(w.verify(ctx, out, first), calls.size, out.failed)
      val layers = Layers.fromPass(w.name, span) ++ out.extra ++ Map(
        s"${w.name}.trace_overhead_s" -> (span.wallS - wallS),
        s"${w.name}.retained_mb" -> Stats.median(retained.toSeq))
      w.cleanup(ctx)
      a.get("trace-out").foreach(f => Json.writeTrace(f, w.name, seed, span))
      log(f"traced pass: ${span.wallS}%.3f s")
      Layers.names.map(n => (n, layers.getOrElse(n, 0.0), Json.unitOf(n)))
    }

    errors.foreach(e => System.err.println(s"CHECK FAILED: $e"))
    spark.stop()
    println(Json.result(failed == 0, attempted, failed, metrics))
    System.exit(if (failed == 0) 0 else 1)
  }
}
