package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Row count plus an order-sensitive 64-bit hash of a full result.
  *
  * Each partition folds its rows into a polynomial hash
  * `H = H * P + h(row)` (wrapping mod 2^64), and the driver joins the
  * partitions in partition order with `H(A ++ B) = H(A) * P^|B| + H(B)`.
  * The join rule makes the value independent of where the partition
  * boundaries fall, so it equals the hash of the rows in result order.
  * Every column of every row is decoded, so Catalyst cannot prune
  * columns or drop a sort the way it can under `count()`.
  */
object Fingerprint {
  final case class Fp(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  private val P = 0x100000001b3L // FNV-1a 64 prime, odd

  def of(df: DataFrame): Fp = {
    val parts = df.mapPartitions(it => Iterator(fold(it)))(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    combine(parts.toSeq)
  }

  /** The same value computed from rows already on the driver. */
  def ofRows(rows: Seq[Row]): Fp = combine(Seq(fold(rows.iterator)))

  private def fold(it: Iterator[Row]): (Long, Long) = {
    var h = 0L
    var n = 0L
    it.foreach { r => h = h * P + rowHash(r); n += 1 }
    (h, n)
  }

  private def combine(parts: Seq[(Long, Long)]): Fp =
    parts.foldLeft(Fp(0L, 0L)) { case (acc, (h, n)) =>
      Fp(acc.rows + n, acc.hash * pow(P, n) + h)
    }

  private def pow(b: Long, e: Long): Long = {
    var r = 1L; var x = b; var k = e
    while (k > 0) { if ((k & 1) == 1) r *= x; x *= x; k >>= 1 }
    r
  }

  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def seqHash(tag: Long, xs: Iterator[Any]): Long =
    xs.foldLeft(mix(tag))((h, v) => mix(h * 31 + valueHash(v)))

  private def rowHash(r: Row): Long = seqHash(1, r.toSeq.iterator)

  private def valueHash(v: Any): Long = v match {
    case null => 0x9e3779b97f4a7c15L
    case d: Double => mix(java.lang.Double.doubleToLongBits(d))
    case f: Float => mix(java.lang.Float.floatToIntBits(f).toLong)
    case l: Long => mix(l)
    case i: Int => mix(i.toLong)
    case s: Short => mix(s.toLong)
    case b: Byte => mix(b.toLong)
    case b: Boolean => if (b) 3L else 5L
    case s: String => seqHash(2, s.iterator.map(_.toLong))
    case t: java.sql.Timestamp =>
      mix(t.getTime / 1000 * 1000000000L + t.getNanos)
    case d: java.sql.Date => mix(d.toLocalDate.toEpochDay)
    case t: java.time.Instant => mix(t.getEpochSecond * 1000000000L + t.getNano)
    case d: java.time.LocalDate => mix(d.toEpochDay)
    case d: java.math.BigDecimal => seqHash(3, d.toPlainString.iterator.map(_.toLong))
    case d: BigDecimal => seqHash(3, d.bigDecimal.toPlainString.iterator.map(_.toLong))
    case b: Array[Byte] => seqHash(4, b.iterator.map(_.toLong))
    case r: Row => rowHash(r)
    case m: scala.collection.Map[_, _] =>
      seqHash(5, m.iterator.map { case (k, x) => mix(valueHash(k)) ^ valueHash(x) })
    case s: Iterable[_] => seqHash(6, s.iterator)
    case other => seqHash(7, other.toString.iterator.map(_.toLong))
  }
}
