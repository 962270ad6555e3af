package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types._

/** Order-independent content digest of a result: the row count and the
  * sum (mod 2^64) of the first 8 bytes of md5 over each row's canonical
  * text. Columns are taken in name order; a cell renders as its plain
  * text, doubles as the hex of their IEEE bits, timestamps as epoch
  * microseconds and null as `\u0000` — the same encoding `check.py`
  * applies to DuckDB and generator references, so a digest match is a
  * bag-of-rows match. */
object Digest {
  final case class Out(rows: Long, digest: String)

  def of(df: DataFrame): Out = {
    val names = df.columns.sorted
    val cols = names.map { n =>
      df.schema(n).dataType match {
        case TimestampType | TimestampNTZType =>
          unix_micros(col(n).cast(TimestampType)).as(n)
        case _ => col(n)
      }
    }
    val rows = df.select(cols.toIndexedSeq: _*).collect()
    of(rows.iterator.map(r => (0 until r.length).map(r.get)), rows.length)
  }

  def of(rows: Iterator[Seq[Any]], n: Long): Out = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(r.map(cell).mkString("\u001f")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    Out(n, f"$sum%016x")
  }

  private def cell(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => f"d${java.lang.Double.doubleToRawLongBits(d)}%016x"
    case f: Float =>
      f"d${java.lang.Double.doubleToRawLongBits(f.toDouble)}%016x"
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case other => other.toString
  }
}
