package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive result digest: row count plus the wrapping 64-bit sum
  * of one MD5-derived hash per row. A row is encoded with its columns in
  * name order (the oracle compare in `scripts/check.py` also sorts columns
  * by name) and each value in a canonical text form that `digest.py`
  * reproduces for DuckDB rows, so a Spark result and its DuckDB oracle
  * digest equal exactly when they hold the same multiset of rows.
  */
object Digest {

  final case class Result(rows: Long, hash: Long)

  /** Canonical text of one value; must match `digest.py`'s `canon`. */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case f: Float => doubleBits(f.toDouble)
    case d: Double => doubleBits(d)
    case d: java.math.BigDecimal => plain(d)
    case d: scala.math.BigDecimal => plain(d.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case i: java.time.Instant =>
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case t: java.time.LocalDateTime => canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def doubleBits(d: Double): String =
    f"${java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)}%016x"

  private def plain(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  /** Hash of one row whose values are already in column-name order. */
  def rowHash(values: Seq[Any]): Long = {
    val md = MessageDigest.getInstance("MD5")
    val bytes = md.digest(values.map(canon).mkString("\u001f").getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(bytes, 0, 8).getLong
  }

  /** Digest of in-memory rows (column names given in result order). */
  def of(columns: Seq[String], rows: Iterable[Seq[Any]]): Result = {
    val order = columns.indices.sortBy(columns(_))
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += rowHash(order.map(r)) }
    Result(n, h)
  }

  /** Materialize `df` into a sink that discards the rows after folding
    * them into the digest: every row is produced exactly as a `noop`
    * write would produce it, plus one hash per row.
    */
  def sink(df: DataFrame): Result = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("perfbench.rows")
    val hash = sc.longAccumulator("perfbench.hash")
    val cols = df.columns.toSeq
    val order = cols.indices.sortBy(cols(_)).toArray
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(order.toSeq.map(r.get)) }
      rows.add(n)
      hash.add(h)
    }
    Result(rows.sum, hash.sum)
  }
}
