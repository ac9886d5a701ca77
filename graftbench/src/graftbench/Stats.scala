package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Pure helpers the harness and its tests share. */
object Stats {

  /** Median of a non-empty sample; the mean of the two middle values when
    * the sample is even. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `p` quantile, reported only when at least ten samples lie
    * beyond it: a p90 needs 100 samples, a p99 1000. */
  def tailPercentile(xs: Seq[Double], p: Double): Option[Double] = {
    val n = xs.size
    val rank = math.ceil(p * n - 1e-9).toInt.max(1)
    if (n - rank < 10) None else Some(xs.sorted.apply(rank - 1))
  }

  /** Intervals merged where they overlap or touch, sorted by start. Empty
    * and inverted intervals are dropped. */
  private def merged(iv: Seq[(Double, Double)]): List[(Double, Double)] =
    iv.filter { case (a, b) => a < b }.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, b0.max(b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Total length covered by the union of the intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double =
    merged(iv).map { case (a, b) => b - a }.sum

  /** The intervals cut to the window [lo, hi]. */
  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter { case (a, b) => a < b }

  /** Order-insensitive fingerprint of a result: the row count and the sum,
    * modulo 2^64, of a 64-bit digest of each row's normalised text. Equal
    * multisets of rows give equal fingerprints in any order. */
  def fingerprint(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val d = md.digest(render(r).getBytes(StandardCharsets.UTF_8))
      acc + java.nio.ByteBuffer.wrap(d).getLong
    }
    f"${rows.size}:$sum%016x"
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", "\u0001", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
