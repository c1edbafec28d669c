package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprints.
  *
  * A result is fingerprinted as (row count, sum of per-row hashes mod 2^64),
  * so row order never matters. Floating-point values are rounded to six
  * significant digits first: sums over a shuffle may differ in their last
  * bits between runs, and those bits are not a correctness signal.
  *
  * Two implementations: [[rowHash]] hashes rows already in the JVM (pages
  * decoded off the wire, or a collected result); [[fingerprint]] computes
  * the same kind of fingerprint inside Spark for results too large to
  * collect. They agree with themselves, not with each other.
  */
object RowHash {

  final case class Fingerprint(rows: Long, hash: Long)

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.6g".format(d)

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000).toLong)

  /** Canonical text of one value; equal values from Spark rows and from
    * Arrow pages map to the same text.
    */
  def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal => dbl(b.doubleValue)
    case b: scala.math.BigDecimal => dbl(b.toDouble)
    case n: java.lang.Number => n.longValue.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case xs: java.util.List[_] =>
      xs.toArray.toSeq.map(canon).mkString("[", ",", "]")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** 64-bit hash of one row's canonical text. */
  def rowHash(values: Seq[Any]): Long = {
    val s = values.map(canon).mkString("\u0001")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  def of(hashes: Iterable[Long]): Fingerprint =
    Fingerprint(hashes.size.toLong, hashes.sum)

  /** Fingerprint computed by Spark: one job over the full result. */
  def fingerprint(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      val text = f.dataType match {
        case DoubleType | FloatType | _: DecimalType =>
          when(c.cast(DoubleType) === 0.0, lit("0"))
            .otherwise(format_string("%.6g", c.cast(DoubleType)))
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType)).cast(StringType)
        case _ => c.cast(StringType)
      }
      coalesce(text, lit("\u0000"))
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    // exact sum as a decimal, folded to 64 bits here: a plain
    // long sum overflows under ANSI arithmetic
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val total = Option(r.getDecimal(1)).map(_.toBigInteger)
      .getOrElse(java.math.BigInteger.ZERO)
    Fingerprint(r.getLong(0), total.longValue)
  }
}
