package graft

import org.apache.spark.sql.functions._

/** ANSI table constraints on catalog tables (Spark 4's SPARK-51207
  * framework): the catalog stores and serves them; CHECK enforcement on
  * every write path is Spark's own `ResolveTableConstraints`, so a
  * violating write fails in-flight and the 2PC publishes nothing.
  */
class ConstraintSpec extends SparkSpec {

  private def cat(): Unit =
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)

  test("CHECK constraint: violating INSERT fails atomically; valid writes pass; DROP lifts it") {
    cat()
    spark.range(5).select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .writeTo("graft_cat.spec.ck").create()
    try {
      spark.sql(
        "ALTER TABLE graft_cat.spec.ck ADD CONSTRAINT v_nonneg CHECK (v >= 0)")
      // valid append passes
      spark.sql("INSERT INTO graft_cat.spec.ck VALUES (100, 1.5)")
      assert(spark.table("graft_cat.spec.ck").count() === 6L)
      // violating append fails IN FLIGHT — and atomically: nothing lands
      val e = intercept[Exception] {
        spark.sql(
          "INSERT INTO graft_cat.spec.ck VALUES (101, 2.0), (102, -1.0)")
      }
      assert(Option(e.getMessage).exists(m =>
        m.contains("v_nonneg") || m.toUpperCase.contains("CHECK")),
        s"expected a CHECK violation, got: ${e.getMessage}")
      assert(spark.table("graft_cat.spec.ck").count() === 6L,
        "a violating write must publish nothing (2PC abort)")
      // UPDATE through the row-level path is enforced too
      val e2 = intercept[Exception] {
        spark.sql("UPDATE graft_cat.spec.ck SET v = v - 100 WHERE k = 0")
      }
      assert(Option(e2.getMessage).exists(m =>
        m.contains("v_nonneg") || m.toUpperCase.contains("CHECK")))
      // DESCRIBE-level visibility: the constraint is served from the table
      val served = spark.sessionState.catalogManager.catalog("graft_cat")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("spec"), "ck")).constraints()
      assert(served.map(_.name()).toSeq === Seq("v_nonneg"))
      // DROP CONSTRAINT lifts enforcement
      spark.sql("ALTER TABLE graft_cat.spec.ck DROP CONSTRAINT v_nonneg")
      spark.sql("INSERT INTO graft_cat.spec.ck VALUES (103, -5.0)")
      assert(spark.table("graft_cat.spec.ck").count() === 7L)
    } finally spark.sql("DROP TABLE graft_cat.spec.ck")
  }

  test("informational PRIMARY KEY (NOT ENFORCED) is stored and served, writes unaffected") {
    cat()
    spark.range(5).select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .writeTo("graft_cat.spec.pk").create()
    try {
      spark.sql("ALTER TABLE graft_cat.spec.pk ADD CONSTRAINT pk_k " +
        "PRIMARY KEY (k) NOT ENFORCED")
      // duplicate key writes pass — informational, the warehouse model
      spark.sql("INSERT INTO graft_cat.spec.pk VALUES (0, 9.0)")
      assert(spark.table("graft_cat.spec.pk").count() === 6L)
      val served = spark.sessionState.catalogManager.catalog("graft_cat")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("spec"), "pk")).constraints()
      assert(served.map(_.name()).toSeq === Seq("pk_k"))
    } finally spark.sql("DROP TABLE graft_cat.spec.pk")
  }
}
