package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/**
 * Workload scales, the query mix and families (`workloads.json`) and the
 * committed outputs the checks compare against (`expected.json`).
 */
final class Conf(workloads: JsonNode, expected: JsonNode, overrides: Map[String, String]) {
  private def obj(n: JsonNode): Map[String, JsonNode] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toMap

  private def num(key: String, path: String): String =
    overrides.getOrElse(key, workloads.at(path).asText)

  val pages: Long = num("pages", "/conflate/pages").toLong
  val roads: Int = num("roads", "/conflate/roads").toInt
  val sf: Double = workloads.at("/queries/sf").asDouble

  /** family -> queries, as listed by the module their queries call. */
  val families: Map[String, Seq[String]] = obj(workloads.at("/queries/families")).map {
    case (f, n) => f -> n.get("queries").elements().asScala.map(_.asText).toSeq
  }
  private val familyByQuery = families.toSeq.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
  def familyOf(q: String): String = familyByQuery.getOrElse(q, "unlisted")

  /** The queries a `queries` pass runs: the committed mix, or every
    * SparkEntry query with `--mix all`. */
  val queryMix: Seq[String] = overrides.get("mix") match {
    case Some("all") => graft.SparkEntry.queries.keys.toSeq.sorted
    case _ => workloads.at("/queries/mix").elements().asScala.map(_.asText).toSeq
  }

  /** Committed digests ("rows:hash") for this scale and seed, if any. */
  def expectedConflate(seed: Long): Map[String, String] =
    Option(expected.at(s"/conflate/pages${pages}_roads${roads}_seed$seed")).filterNot(_.isMissingNode)
      .map(obj(_).map { case (k, v) => k -> v.asText }).getOrElse(Map.empty)
  val expectedQueries: Map[String, String] =
    obj(expected.at("/queries")).map { case (k, v) => k -> v.asText }
}

object Conf {
  def load(dir: String, overrides: Map[String, String]): Conf = {
    val m = new ObjectMapper()
    new Conf(m.readTree(new File(dir, "workloads.json")), m.readTree(new File(dir, "expected.json")),
      overrides)
  }
}
