package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sample statistics, span self time and result fingerprints. */
object Stats {
  /** Samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p < 1), or None when fewer than
    * [[MinBeyond]] samples lie above the rank: a p90 needs 100 samples. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val s = xs.sorted
    val idx = math.ceil(p * s.size).toInt - 1
    if (idx < 0 || s.size - 1 - idx < MinBeyond) None else Some(s(idx))
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** A span's duration minus the part of it its children cover; children
    * may overlap one another (concurrent jobs, parallel stages). */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - covered(children, start, end)

  /** Row count, sorted column names and an order-insensitive content hash.
    *
    * Columns are hashed in name order, so neither row nor column order
    * changes the result; each value is hashed with its null flag, so a null
    * cannot trade places with a neighbouring value unnoticed. The per-row
    * 64-bit hashes are summed exactly as decimals. The action forces every
    * column of the result to be computed. */
  final case class Fingerprint(rows: Long, columns: Seq[String], hash: String) {
    def shape: String = s"rows=$rows cols=${columns.mkString(",")}"
    override def toString: String = s"$shape hash=$hash"
  }

  def fingerprint(df: DataFrame): Fingerprint = {
    val names = df.columns.toSeq.sorted
    val parts = names.flatMap(n => Seq(col(s"`$n`").isNull, col(s"`$n`")))
    val rowHash =
      if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    val r = df.agg(count(lit(1)), sum(rowHash.cast("decimal(38,0)"))).head()
    val h = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    Fingerprint(r.getLong(0), names, h)
  }
}
