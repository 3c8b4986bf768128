package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the canonical cell texts and one digest to the same values as
  * test_benchlib.py, so the JVM and DuckDB sides of every result check
  * cannot drift apart. */
class DigestSpec extends AnyFunSuite {
  test("numbers have one canonical text") {
    val cases = Seq[(Any, String)](
      1 -> "1", 123456789012L -> "123456789012", true -> "true",
      1.0 -> "1", 0.1 -> "0.1", -0.0 -> "0", (2.0 / 3.0) -> "0.666666667",
      1e20 -> "100000000000000000000", 1.5e-7 -> "0.00000015",
      12345678.15 -> "12345678.2", Double.NaN -> "NaN",
      Double.NegativeInfinity -> "-Infinity",
      new java.math.BigDecimal("12.500") -> "12.5",
      new java.math.BigDecimal("0E-10") -> "0")
    cases.foreach { case (v, text) => assert(Digest.cell(v) == text, v) }
  }

  test("times and containers have one canonical text") {
    assert(Digest.cell(Ingest.timestamp(1704067211172425L)) == "1704067211172425")
    assert(Digest.cell(java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 11, 172425000)) ==
      "1704067211172425")
    assert(Digest.cell(java.sql.Date.valueOf("2024-01-02")) == "2024-01-02")
    assert(Digest.cell(Seq(1, null, 2.5)) == "[1,\\N,2.5]")
    assert(Digest.cell(Map("b" -> 1, "a" -> "x")) == "{a=x,b=1}")
    val schema = StructType(Seq(StructField("b", IntegerType), StructField("a", StringType)))
    assert(Digest.cell(new GenericRowWithSchema(Array(1, "x"), schema)) == "{a=x,b=1}")
    assert(Digest.cell(Array[Byte](0, -1)) == "00ff")
    assert(Digest.cell(null) == "\\N")
  }

  test("the golden table digests as in test_benchlib.py, in any row order") {
    val schema = StructType(Seq(StructField("v", DoubleType), StructField("id", LongType),
      StructField("ts", TimestampType), StructField("tags", ArrayType(StringType))))
    val rows = Seq(
      Row(0.1, 1L, Ingest.timestamp(1704067211172425L), Seq("a", "b")),
      Row(null, 2L, Ingest.timestamp(-500000L), Seq()),
      Row(2.0 / 3.0, 3L, null, Seq("c")))
    val golden = "id,tags,ts,v|3|50a2f49f2cb2a9eb"
    assert(Digest.of(schema, rows.iterator) == (3L, golden))
    assert(Digest.of(schema, rows.reverseIterator) == (3L, golden))
  }
}
