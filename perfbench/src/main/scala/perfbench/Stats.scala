package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}

/** The benchmark's own statistics: percentiles, logical bytes and the
  * order-insensitive output checksum. `SelfTest` covers each of them.
  */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail percentile the sample supports: the highest whole percentile
    * up to `maxPct` that leaves at least `minBeyond` samples strictly above
    * the rank it reads (nearest-rank). When not even the median leaves that
    * many, it reads the median. Returns (percentile, value).
    */
  def tailPercentile(xs: Seq[Double], maxPct: Int = 90, minBeyond: Int = 10): (Int, Double) = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val n = xs.size
    // rank r (0-based, nearest-rank) has n - 1 - r samples beyond it
    val pct = (maxPct to 50 by -1).find { p =>
      val r = math.ceil(p / 100.0 * n).toInt - 1
      n - 1 - math.max(r, 0) >= minBeyond
    }.getOrElse(50)
    val s = xs.sorted
    (pct, s(math.max(math.ceil(pct / 100.0 * n).toInt - 1, 0)))
  }

  /** Logical bytes of one column: 4 B per int32, 8 B per float64, the UTF-8
    * length of each string; nulls count nothing. Independent of how the
    * format encodes the column.
    */
  def logicalBytes(df: DataFrame, name: String): Column = df.schema(name).dataType match {
    case IntegerType => count(col(name)) * 4L
    case DoubleType => count(col(name)) * 8L
    case StringType => coalesce(sum(octet_length(col(name)).cast("long")), lit(0L))
    case t => throw new IllegalArgumentException(s"no logical size for $name: $t")
  }

  /** Logical bytes per column of `df`, in one job. */
  def logicalBytesByColumn(df: DataFrame): Map[String, Long] = {
    val names = df.columns.toSeq
    val row = df.agg(logicalBytes(df, names.head), names.tail.map(logicalBytes(df, _)): _*).head()
    names.zipWithIndex.map { case (n, i) => n -> row.getLong(i) }.toMap
  }

  /** Row count plus an order-insensitive digest of a result: the sum of
    * the rows' 32-bit murmur3 hashes (as a long, so it cannot overflow
    * below 2^32 rows). Columns are hashed in name order, so column order
    * never matters.
    */
  final case class Checksum(rows: Long, hashSum: Long) {
    def json: String = s"""{"rows":$rows,"hash_sum":$hashSum}"""
  }

  def checksum(df: DataFrame): Checksum = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.agg(count(lit(1)), coalesce(sum(hash(cols: _*).cast("long")), lit(0L))).head()
    Checksum(r.getLong(0), r.getLong(1))
  }
}
