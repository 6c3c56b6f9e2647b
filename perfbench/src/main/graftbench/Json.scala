package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The result line and the trace file: two flat shapes, written by hand. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0.0" else java.lang.Double.toString(d)

  def unitOf(metric: String): String = metric.split('.').last match {
    case m if m == "s" || m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case "rows" | "rounds" | "exchanges" | "jobs" => "count"
    case _ => "ratio"
  }

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Every span of a traced pass with its self figures, plus the pass's
    * unattributed remainder: the self times and the remainder sum to the
    * pass wall time. */
  def writeTrace(path: String, workload: String, seed: Long, pass: Span): Unit = {
    val spans = pass.children.map { s =>
      Seq("name" -> str(s.name), "wall_s" -> num(s.wallS), "self_s" -> num(s.selfS),
        "cpu_s" -> num(s.selfCpuS), "gc_s" -> num(s.selfGcS), "shuffle_mb" -> num(s.shuffleMb),
        "spill_mb" -> num(s.spillMb), "skew" -> num(s.skew), "jobs" -> s.jobs.toString,
        "exchanges" -> s.exchanges.toString)
        .map { case (k, v) => s"${str(k)}: $v" }.mkString("    {", ", ", "}")
    }
    val body = s"""{"workload": ${str(workload)}, "seed": $seed, "pass_wall_s": ${num(pass.wallS)},
                  |  "unattributed_s": ${num(pass.selfS)}, "spans": [
                  |${spans.mkString(",\n")}
                  |]}
                  |""".stripMargin
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
  }
}
