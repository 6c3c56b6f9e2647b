package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Stats {
  /** Percentile with linear interpolation between closest ranks (q in [0, 1]). */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}

/** Row count plus an order-independent hash of a result's full contents. */
final case class Digest(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Digest {
  private val Mod = BigInt(1) << 64

  /** Per-row hash over every column. Top-level floating-point values are
    * compared at 10 significant digits, so a result whose floating sums were
    * merged in another order still digests the same; maps (which Spark
    * cannot hash) are hashed through their JSON text. */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType =>
          format_string("%.9e", when(c === 0, lit(0.0)).otherwise(c.cast(DoubleType)))
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  /** Write `df` to the noop sink (every row and column computed, nothing
    * stored) and return the digest an observation took of the rows on
    * their way. */
  def run(df: DataFrame): Digest = {
    val obs = Observation()
    df.observe(obs,
      count(lit(1)).as("rows"),
      coalesce(sum(rowHash(df).cast(DecimalType(38, 0))), lit(BigDecimal(0))).as("hash"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val h = BigInt(m("hash").asInstanceOf[java.math.BigDecimal].toBigInteger).mod(Mod)
    Digest(m("rows").asInstanceOf[Long], f"${h.toLong}%016x")
  }
}
