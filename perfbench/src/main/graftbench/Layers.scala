package graftbench

/**
 * Names of the per-layer metrics. A traced run of any workload reports the
 * whole set: layers the workload does not drive read 0, which is what an
 * idle layer costs.
 */
object Layers {
  val Measures: Seq[String] = Seq("s", "rows", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "skew")
  val ConflatePhases: Seq[String] = Seq("pages", "features", "references", "candidates", "score",
    "postprocess", "enrich", "kernel", "tiles")
  val Families: Seq[String] =
    Seq("relational", "geo", "text", "dedup", "iterative", "conflation", "io", "sketch")
  val Workloads: Seq[String] = Seq("conflate", "queries")

  val names: Seq[String] =
    ConflatePhases.flatMap(p => Measures.map(m => s"conflate.$p.$m")) ++
      Seq("conflate.features.kept_ratio", "conflate.candidates.fanout", "conflate.score.hit_ratio") ++
      Families.map(f => s"queries.$f.s") ++
      Seq("queries.exchanges", "queries.jobs", "queries.gc_s", "queries.spill_mb") ++
      Workloads.flatMap(w => Seq(s"$w.trace_overhead_s", s"$w.unattributed_s", s"$w.retained_mb"))

  /**
   * Per-layer figures of one traced pass rooted at `pass`. Phase spans are
   * named `<workload>.<phase>` (queries: `queries.<family>.<query>`).
   */
  def fromPass(workload: String, pass: Span): Map[String, Double] = {
    val spans = pass.children.toSeq
    val phases: Map[String, Double] = workload match {
      case "queries" =>
        val byFamily = spans.groupBy(_.name.split('.')(1))
        Families.map(f => s"queries.$f.s" -> byFamily.getOrElse(f, Nil).map(_.selfS).sum).toMap ++
          Map("queries.exchanges" -> spans.map(_.exchanges).sum.toDouble,
            "queries.jobs" -> spans.map(_.jobs).sum.toDouble,
            "queries.gc_s" -> spans.map(_.selfGcS).sum,
            "queries.spill_mb" -> spans.map(_.spillMb).sum)
      case _ =>
        spans.groupBy(_.name).flatMap { case (name, ss) =>
          Map(s"$name.s" -> ss.map(_.selfS).sum,
            s"$name.cpu_s" -> ss.map(_.selfCpuS).sum,
            s"$name.gc_s" -> ss.map(_.selfGcS).sum,
            s"$name.shuffle_mb" -> ss.map(_.shuffleMb).sum,
            s"$name.spill_mb" -> ss.map(_.spillMb).sum,
            s"$name.skew" -> ss.map(_.skew).max)
        }
    }
    phases + (s"$workload.unattributed_s" -> pass.selfS)
  }
}
