package graft

import org.apache.spark.sql.functions._

/** The deflate-length kernel: agreement with a fresh per-string Deflater
  * (catches state leakage through the thread-local reuse), the
  * quality-signal ordering the ratio exists for, and codegen integrity.
  */
class DeflateKernelSpec extends SparkSpec {

  private def oneShot(s: String): Long = {
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.BEST_COMPRESSION, true)
    d.setInput(s.getBytes("UTF-8"))
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    d.end()
    total
  }

  test("kernel == fresh-Deflater baseline across many reused rows") {
    graft.functions.TextKernels.register(spark)
    // fixture texts through the reused thread-local kernel vs a fresh
    // native stream per string — any reset/carry-over bug diverges
    val rows = graft.engine.Tables.documents(spark, sfDir)
      .select(col("text"), expr("graft_deflate_len(text)").as("n"))
      .collect()
    assert(rows.length > 50)
    rows.foreach { r =>
      assert(r.getLong(1) == oneShot(r.getString(0)),
        s"kernel diverged on: ${r.getString(0).take(40)}...")
    }
  }

  test("ratio orders quality: repetition << prose << high-entropy") {
    val rep = "spam spam spam spam " * 50
    val prose = ("the quick brown fox jumps over the lazy dog and then " +
      "wanders far away to find a better sentence to live in ") * 10
    val noise = {
      val rnd = new scala.util.Random(42)
      Seq.fill(1000)(rnd.nextPrintableChar()).mkString
    }
    def ratio(s: String): Double = oneShot(s).toDouble / s.getBytes("UTF-8").length
    assert(ratio(rep) < ratio(prose), "repetition must compress harder than prose")
    assert(ratio(prose) < ratio(noise), "prose must compress harder than noise")
    assert(ratio(noise) > 0.8, "random printables should be near-incompressible")
  }

  test("graft_deflate_len runs inside whole-stage codegen (no interpreted fallback)") {
    graft.functions.TextKernels.register(spark)
    val plan = graft.engine.Tables.documents(spark, sfDir)
      .select(expr("graft_deflate_len(text)").as("n"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(plan.toLowerCase.contains("deflatelen"), plan)
  }
}
