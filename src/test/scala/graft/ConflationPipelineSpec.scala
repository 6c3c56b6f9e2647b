package graft

import graft.operators.ConflationPipeline
import graft.synth.Synth
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ConflationPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val NPages = 400L
  private val NRoads = 40

  private lazy val pages = ConflationPipeline.pages(spark, NPages, NRoads).cache()
  private lazy val feats = ConflationPipeline.features(pages, NRoads).cache()
  private lazy val refs = ConflationPipeline.references(spark, NRoads).cache()
  private lazy val matched = ConflationPipeline.matches(
    ConflationPipeline.matchCandidates(feats, refs)).cache()
  private lazy val segments = ConflationPipeline.conflate(refs, matched).cache()

  test("pages are deterministic and unique by url") {
    assert(pages.count() == NPages)
    assert(pages.select("url").distinct().count() == NPages)
    val p0 = pages.filter($"url" === Synth.pageUrl(0, NRoads)).collect()(0)
    assert(p0.text == Synth.pageText(Synth.pageUrl(0, NRoads)))
  }

  test("geocoder: byte-identical text per url end-to-end (input_hint invariant)") {
    val joined = pages.toDF().select($"url", $"text".as("page_text"))
      .join(feats.toDF().select($"url", $"text".as("feat_text")), "url")
    assert(joined.count() == feats.count()) // every kept feature has its page
    assert(joined.filter($"page_text" =!= $"feat_text").count() == 0)
    // byte-level: compare utf-8 encodings too
    val bad = joined.filter(encode($"page_text", "UTF-8") =!= encode($"feat_text", "UTF-8"))
    assert(bad.count() == 0)
  }

  test("match rate: nearly every feature matches at least one reference") {
    val total = feats.count()
    val matchedFeatures = matched.select("targetMapId").distinct().count()
    val rate = matchedFeatures.toDouble / total
    assert(rate >= 0.95, s"match rate $rate ($matchedFeatures / $total)")
  }

  test("matches land on the feature's own road (ground truth)") {
    // feature id encodes its road via Synth.geocode(url); ref ids are r{road}g{i}{F|B}
    val nRoads = NRoads // local copy: don't capture the (non-serializable) suite
    val withRoad = feats.toDF()
      .select($"targetMapId", $"url")
      .as[(String, String)]
      .map { case (tmId, url) => (tmId, Synth.hmod(url + "/road", nRoads)) }
      .toDF("targetMapId", "true_road")
    val matchRoads = matched.select($"targetMapId", $"shstReferenceId")
      .as[(String, String)]
      .map { case (tmId, refId) =>
        (tmId, refId.stripPrefix("r").takeWhile(_.isDigit).toInt)
      }.toDF("targetMapId", "matched_road")
    val joined = matchRoads.join(withRoad, "targetMapId")
    val wrong = joined.filter($"true_road" =!= $"matched_road").count()
    val total = joined.count()
    assert(wrong.toDouble / total <= 0.02, s"$wrong / $total wrong-road matches")
  }

  test("direction gate: back-reference matches run with the feature direction") {
    // every match interval was positive along the chosen ref; scores bounded
    assert(matched.filter($"score" > ConflationPipeline.MatchHausdorffKm).count() == 0)
  }

  test("conflation segments: per-reference partition invariants") {
    val segDf = segments.toDF().cache()
    // adjacency + coverage per reference (validateShstReferenceSplitting analog)
    val perRef = segDf.groupBy("shstReferenceId").agg(
      min("startDist").as("minS"), max("endDist").as("maxE"),
      count(lit(1)).as("n"), max("totalSegments").as("tot"),
      sum($"endDist" - $"startDist").as("covered"))
    assert(perRef.filter($"minS" =!= 0.0).count() == 0)
    assert(perRef.filter($"n" =!= $"tot").count() == 0)
    // covered length == maxE - 0 (no gaps): sum of pieces equals span
    assert(perRef.filter(abs($"covered" - $"maxE") > 1e-9).count() == 0)
    // segmentIndex is 1..totalSegments
    assert(segDf.filter($"segmentIndex" < 1 || $"segmentIndex" > $"totalSegments").count() == 0)
  }

  test("QA: length-conservation and match-rate thresholds (reference QA re-expressed)") {
    val qa = ConflationPipeline.qaReport(feats, segments).cache()
    val summary = ConflationPipeline.qaSummary(qa).collect()
    assert(summary.nonEmpty)
    summary.foreach { r =>
      val matchRate = r.getAs[Double]("match_rate")
      val passingRatio = r.getAs[Double]("passing_ratio")
      assert(matchRate >= 0.9, s"${r.getString(0)} match_rate=$matchRate")
      assert(passingRatio >= 0.8, s"${r.getString(0)} passing_ratio=$passingRatio")
    }
  }

  test("tiles: zoom-gated density aggregation") {
    val t12 = ConflationPipeline.tiles(segments, 12)
    val t3 = ConflationPipeline.tiles(segments, 3)
    assert(t12.count() > 0)
    // zoom 3 keeps only networklevel ≤ 1 (Motorway/Trunk)
    val lowRankKm = segments.filter($"networklevel" <= 1.0).count()
    if (lowRankKm == 0) assert(t3.count() == 0) else assert(t3.count() > 0)
    val cols = t12.columns.toSet
    assert(Set("tile_x", "tile_y", "zoom", "n_segments", "total_km", "match_density")
      .subsetOf(cols))
  }

  test("metadata window: conflation_map_idx dense from 0 per (tm, tmId)") {
    val meta = ConflationPipeline.conflationMetadata(segments)
    val byKey = meta.groupBy("targetMap", "targetMapId")
      .agg(min("conflation_map_idx").as("mn"), max("conflation_map_idx").as("mx"),
        count(lit(1)).as("n"))
    assert(byKey.filter($"mn" =!= 0).count() == 0)
    assert(byKey.filter($"mx" =!= $"n" - 1).count() == 0)
  }

  test("global ordered id: contiguous 1..N in (networklevel, geoprox) order") {
    val seg = segments.toDF().withColumn("gpk",
      graft.functions.geo.geoprox_key(
        element_at(element_at($"coordinates", 1), 1),
        element_at(element_at($"coordinates", 1), 2)))
    val withId = ConflationPipeline.withGlobalOrderedId(
      seg, Seq("networklevel", "gpk"), "conflation_map_id", 8)
    val n = withId.count()
    val ids = withId.agg(min("conflation_map_id"), max("conflation_map_id"),
      countDistinct("conflation_map_id")).collect()(0)
    assert(ids.getLong(0) == 1L && ids.getLong(1) == n && ids.getLong(2) == n)
    // order respected: id order matches sort order
    val misordered = withId.select("networklevel", "gpk", "conflation_map_id")
      .orderBy("conflation_map_id")
      .withColumn("prev_nl", lag("networklevel", 1).over(
        Window.orderBy("conflation_map_id")))
      .filter($"prev_nl" > $"networklevel")
    assert(misordered.count() == 0)
  }

  test("segments and zoom-12 tiles are identical at any shuffle partitioning, AQE on or off") {
    // the scaling certificates compare runs at different parallelism with
    // AQE off; this pins that the rows themselves, not just their counts,
    // do not depend on either setting. Segments compare exactly. A tile's
    // total_km is a double sum whose last bits follow the summation order,
    // which the partitioning sets, so tile doubles compare at 10
    // significant digits, the precision perfbench digests doubles at.
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    def tileRow(r: org.apache.spark.sql.Row): String = r.toSeq.map {
      case d: Double => BigDecimal(d).round(new java.math.MathContext(10)).toString
      case v => String.valueOf(v)
    }.mkString(",")
    def outputs(parts: Int, aqe: Boolean): (Seq[String], Seq[String]) = {
      spark.conf.set(keys(0), parts.toLong)
      spark.conf.set(keys(1), aqe)
      val segs = ConflationPipeline.run(spark, NPages, NRoads)
      (segs.toDF().collect().map(_.toString).toSeq.sorted,
        ConflationPipeline.tiles(segs, 12).collect().map(tileRow).toSeq.sorted)
    }
    try {
      val runs = for (parts <- Seq(1, 3, 7); aqe <- Seq(false, true))
        yield (parts, aqe) -> outputs(parts, aqe)
      val (segs0, tiles0) = runs.head._2
      assert(segs0.nonEmpty && tiles0.nonEmpty)
      runs.tail.foreach { case (conf, (segs, tiles)) =>
        assert(segs == segs0, s"segments differ at (partitions, aqe) = $conf")
        assert(tiles == tiles0, s"zoom-12 tiles differ at (partitions, aqe) = $conf")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def Window = org.apache.spark.sql.expressions.Window
}
