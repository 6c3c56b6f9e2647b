package graft

import org.apache.spark.{SparkConf, SparkContext}

/**
 * Scaling evidence for the north rule (BASELINE.json): the identical
 * conflation job on identical deterministic input, one parallelism level
 * per fresh JVM (back-to-back sessions in one JVM contaminate each other
 * through heap state). `tools/scaling.sh` runs the levels, asserts equal
 * segment and tile counts across every run, and reports the efficiency of
 * the per-level medians, (T_N / T_kN) / k.
 *
 * The session is [[Bench.buildSession]] (tmpfs local dir, stale-dir wipe,
 * shuffle partitions = cpus) with AQE off: adaptive replanning is
 * driver-serial work, so every certified level ran without it.
 *
 * `master` defaults to `local[cpus]`. Any other master (the
 * `local-cluster[W,C,MB]` that `tools/scaling.sh --cluster` submits: W
 * separate executor JVMs of C cores) is started first, so that the
 * session builder's `getOrCreate` joins it instead of overriding it with
 * `local[cpus]`; its local dirs are then the deployment's, not the tmpfs
 * dir the builder wipes.
 *
 * Usage: ScalingBench <cpus> [pages] [roads] [master]
 */
object ScalingBench {

  /** Aggregate /proc/stat cpu jiffies (user nice system idle iowait irq
    * softirq steal ...). Steal is the one signal that tells "this box was
    * quiet" from "the hypervisor taxed the run", so every run records it. */
  private def cpuStat(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    // the JSON line below is f-interpolated; a comma-decimal default locale
    // would make it unparseable by tools/scaling.sh
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = args(0).toInt
    val nPages = if (args.length > 1) args(1).toLong else 400000L
    val nRoads = if (args.length > 2) args(2).toInt else 16000
    val master = if (args.length > 3) args(3) else s"local[$cpus]"
    if (master != s"local[$cpus]")
      SparkContext.getOrCreate(new SparkConf().setMaster(master)
        .setAppName("graft.ScalingBench").set("spark.ui.enabled", "false"))
    val spark = Bench.buildSession(cpus.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("WARN")
    try {
      // warm-up (JIT, codegen caches) at small scale through the measured
      // session's own executors: under a local-cluster master the executors
      // die with their session, so a separate warm-up session warms nothing
      Bench.conflationThroughput(spark, 2000, 200)
      val s0 = cpuStat()
      val (segs, tiles, sec) = Bench.conflationThroughput(spark, nPages, nRoads)
      val d = cpuStat().zip(s0).map { case (a, b) => (a - b).toDouble }
      val total = math.max(d.sum, 1.0)
      val stealPct = if (d.length > 7) d(7) / total * 100 else 0.0
      val sysPct = if (d.length > 2) d(2) / total * 100 else 0.0
      println(f"""{"cpus":$cpus,"n_pages":$nPages,"n_roads":$nRoads,""" +
        f""""segments":$segs,"tiles":$tiles,"sec":$sec%.2f,""" +
        f""""rows_per_sec":${segs / sec}%.1f,"tiles_per_sec":${tiles / sec}%.1f,""" +
        f""""steal_pct":$stealPct%.1f,"sys_pct":$sysPct%.1f}""")
    } finally spark.stop()
  }
}
