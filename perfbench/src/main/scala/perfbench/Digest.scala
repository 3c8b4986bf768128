package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-free digest of a query result, computed identically by
  * `benchlib.digest` over the DuckDB oracle's rows:
  *  - columns are taken in name order;
  *  - each cell has one canonical text: integers exact, every other number
  *    rounded to 9 significant digits, timestamps as epoch microseconds,
  *    dates in ISO form, structs and maps with their keys sorted;
  *  - each row's text is hashed, and the hashes are summed, so the digest
  *    is the same for any row order and still counts duplicate rows.
  */
object Digest {
  private val Sig = new MathContext(9, RoundingMode.HALF_EVEN)
  val Null = "\\N"

  def number(v: java.math.BigDecimal): String =
    if (v.signum == 0) "0" else v.round(Sig).stripTrailingZeros.toPlainString

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else number(new java.math.BigDecimal(d))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def cell(v: Any): String = v match {
    case null                      => Null
    case b: Boolean                => b.toString
    case x: Byte                   => x.toString
    case x: Short                  => x.toString
    case x: Int                    => x.toString
    case x: Long                   => x.toString
    case x: java.math.BigInteger   => x.toString
    case x: Float                  => double(x.toDouble)
    case x: Double                 => double(x)
    case x: java.math.BigDecimal   => number(x)
    case x: scala.math.BigDecimal  => number(x.bigDecimal)
    case x: String                 => x
    case x: java.sql.Timestamp     => micros(x.toInstant).toString
    case x: java.time.Instant      => micros(x).toString
    case x: java.time.LocalDateTime =>
      micros(x.toInstant(java.time.ZoneOffset.UTC)).toString
    case x: java.sql.Date          => x.toLocalDate.toString
    case x: java.time.LocalDate    => x.toString
    case x: Array[Byte]            => x.map(b => f"${b & 0xff}%02x").mkString
    case r: Row if r.schema != null =>
      keyed(r.schema.fieldNames.toSeq.zip(r.toSeq).map { case (k, x) => (k, cell(x)) })
    case r: Row                    => r.toSeq.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      keyed(m.toSeq.map { case (k, x) => (cell(k), cell(x)) })
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other                     => other.toString
  }

  private def keyed(kvs: Seq[(String, String)]): String =
    kvs.sortBy(_._1).map { case (k, x) => s"$k=$x" }.mkString("{", ",", "}")

  /** The text of one row, cells in `order` (indices of name-sorted columns). */
  def line(row: Row, order: Seq[Int]): String =
    order.map(i => cell(row.get(i))).mkString("\u001f")

  def rowHash(line: String): Long =
    java.nio.ByteBuffer.wrap(
      MessageDigest.getInstance("SHA-256").digest(line.getBytes(UTF_8))).getLong

  def of(schema: StructType, rows: Iterator[Row]): (Long, String) = {
    val names = schema.fieldNames.toSeq
    val order = names.indices.sortBy(names(_))
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += rowHash(line(r, order)) }
    (n, s"${order.map(names(_)).mkString(",")}|$n|${java.lang.Long.toUnsignedString(sum, 16)}")
  }
}
