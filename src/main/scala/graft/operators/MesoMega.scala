package graft.operators

import graft.geo.Geo
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Meso/mega-level match metadata (SURVEY.md §3.2 steps 4-5):
 *
 *  - micro direction-of-travel bucketing (F11) with the reference's `||`
 *    quirk: every non-northbound bearing buckets EASTBOUND
 *    (ShStReferenceFeatureIterator.js:45-62, §5.1.2) — exact semantics
 *    behind `parity`, proper quadrants otherwise
 *  - meso level (addMesoLevelMetadata.js): per meso group, toposort the
 *    simplified per-chain edges, flatten to meso indices + chain bearing;
 *    on sort failure fall back to the bearing-diff<45° flip rule
 *  - mega level (addMegaLevelMetadata.js): bbox axis → NORTH_SOUTH if the
 *    bbox is taller than wide; direction from meso bearing; micro id
 *    `targetMapId|DIR` (or `!DIR` when meso idx is null)
 */
object MesoMega {

  /** src/constants/directionOfTravel.js codes. */
  final val Northbound = 1
  final val Eastbound = 3
  final val Southbound = 5
  final val Westbound = 7

  final val BearingDiffThreshold = 45.0 // addMesoLevelMetadata.js:11

  /** F11 with the observed `||` quirk (parity=true): any bearing outside
    * the northbound wedge returns EASTBOUND. parity=false gives the
    * intended quadrants. */
  def microDirectionOfTravel(bearing: Double, parity: Boolean = true): Int = {
    if (bearing <= 45 || bearing > 315) Northbound
    else if (parity) Eastbound // `bearing > 45 || bearing <= 135` is always true here
    else if (bearing <= 135) Eastbound
    else if (bearing <= 225) Southbound
    else Westbound
  }

  // ------------------------------------------------------- meso level

  final case class MesoIn(
      matchedTargetMapId: String,
      matchedTargetMapMicroProtoId: String,
      matchedTargetMapMicroIdx: Int,
      shstFromIntersectionId: String,
      shstToIntersectionId: String,
      targetMapMicroLevelBearing: Option[Int],
      matchedTargetMapMicroLevelBearing: Option[Int],
      targetMapMesoLevelBearing: Option[Int],
      geometry: Seq[Seq[Double]])

  final case class MesoOut(
      matchedTargetMapId: String,
      matchedTargetMapMesoLevelBearing: Option[Int],
      matchedTargetMapMesoIdx: Option[Int])

  /** Per-meso-group kernel: toposort simplified chain edges; flatten to meso
    * indices; fallback = flip rule with null idx. */
  def mesoGroup(rows: Seq[MesoIn]): Seq[MesoOut] = {
    val byProto = rows.groupBy(_.matchedTargetMapMicroProtoId)
      .map { case (k, ms) => k -> ms.sortBy(_.matchedTargetMapMicroIdx) }
    val simplified = byProto.toSeq.sortBy(_._1).map { case (proto, chain) =>
      TopoSort.Edge(proto, chain.head.shstFromIntersectionId, chain.last.shstToIntersectionId)
    }
    TopoSort.sort(bidirectional = true, simplified) match {
      case Right(chains) if chains.nonEmpty =>
        chains.flatMap { edgeChain =>
          val flat = edgeChain.flatMap(e => byProto(e.id))
          val bearing = TopoSort.chainBearing(flat.map(_.geometry.map(_.toArray).toArray))
          flat.zipWithIndex.map { case (m, j) =>
            MesoOut(m.matchedTargetMapId, Some(bearing), Some(j))
          }
        }
      case _ =>
        // handleFailedNetworkBasedApproach (addMesoLevelMetadata.js:60-93)
        rows.flatMap { m =>
          (m.targetMapMicroLevelBearing, m.matchedTargetMapMicroLevelBearing) match {
            case (Some(tb), Some(mb)) =>
              val follows = math.abs(tb - mb) < BearingDiffThreshold
              val mesoBearing = m.targetMapMesoLevelBearing.map { meso =>
                if (follows) meso else (meso + 180) % 360
              }
              Some(MesoOut(m.matchedTargetMapId, mesoBearing, None))
            case _ => None
          }
        }
    }
  }

  // ------------------------------------------------------- mega level

  /** Mega axis from the group bbox: NORTH_SOUTH iff the south-west→north-west
    * geodesic span exceeds the south-west→south-east span. */
  def megaAxisIsNorthSouth(bbox: (Double, Double, Double, Double)): Boolean = {
    val (minLon, minLat, maxLon, maxLat) = bbox
    Geo.haversineKm(minLon, minLat, minLon, maxLat) >
      Geo.haversineKm(minLon, minLat, maxLon, minLat)
  }

  /** addMegaLevelMetadata.js:34-45. */
  def megaDirection(northSouth: Boolean, mesoBearing: Int): String =
    if (northSouth) {
      if (mesoBearing <= 90 || mesoBearing > 270) "NORTHBOUND" else "SOUTHBOUND"
    } else if (mesoBearing <= 180) "EASTBOUND" else "WESTBOUND"

  /** DataFrame form: per (targetMap, megaId) group, compute bbox (A6 as
    * min/max aggregates), join back, derive direction + micro id. */
  def megaMetadata(matchesWithMeso: DataFrame): DataFrame = {
    // group bbox from the per-match bbox summaries (computed once at scoring
    // time): min-of-mins / max-of-maxes over match bboxes equals the min/max
    // over all polyline vertices exactly — no polyline explode
    val bboxes = matchesWithMeso.groupBy("targetMap", "targetMapMegaId")
      .agg(min("mMinLon").as("minLon"), min("mMinLat").as("minLat"),
        max("mMaxLon").as("maxLon"), max("mMaxLat").as("maxLat"))
      .withColumn("is_ns",
        graft.functions.geo.haversine_km(col("minLon"), col("minLat"), col("minLon"), col("maxLat")) >
        graft.functions.geo.haversine_km(col("minLon"), col("minLat"), col("maxLon"), col("minLat")))
    matchesWithMeso.join(broadcast(bboxes.select(col("targetMap"), col("targetMapMegaId"), col("is_ns"))),
        Seq("targetMap", "targetMapMegaId"), "left")
      .withColumn("matchedTargetMapMegaLevelDirectionOfTravel",
        when(col("is_ns"),
          when(col("matchedTargetMapMesoLevelBearing") <= 90 ||
            col("matchedTargetMapMesoLevelBearing") > 270, "NORTHBOUND").otherwise("SOUTHBOUND"))
        .otherwise(
          when(col("matchedTargetMapMesoLevelBearing") <= 180, "EASTBOUND").otherwise("WESTBOUND")))
      .withColumn("matchedTargetMapMicroId",
        concat(col("targetMapId"),
          when(col("matchedTargetMapMesoIdx").isNull, lit("!")).otherwise(lit("|")),
          col("matchedTargetMapMegaLevelDirectionOfTravel")))
      .drop("is_ns")
  }
}
