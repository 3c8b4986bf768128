package graft

/** AQE skew-join handling is the engine's answer for hot-key JOINs at
  * 100 TB (salting covers the aggregation case — `SkewSaltingSpec`).
  * This pins that the runtime re-plan actually engages: with thresholds
  * scaled to fixture bytes, a 95%-hot-key join must come back with its
  * skewed side split (`skew=true` in the final plan) and identical
  * results to the unsplit join.
  */
class SkewJoinAqeSpec extends SparkSpec {

  test("AQE splits the hot partition of a skewed sort-merge join") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffled join
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")

      val left = (1 to 50000).map { i =>
        (if (i % 20 != 0) "hot" else s"cold${i % 13}", i.toLong)
      }.toDF("k", "v")
      val right = (0 until 13).map(i => (s"cold$i", i.toLong))
        .:+(("hot", 99L)).toDF("k", "w")

      val joined = left.join(right, "k")
      val n = joined.collect().length // collect THIS df so ITS adaptive plan finalizes
      assert(n == 50000, s"join lost rows: $n")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew handling did not engage:\n$plan")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("bloom_skew_join: runtime bloom AND AQE skew split engage in ONE plan") {
    // same isolated-session discipline as the production entry — the
    // conf flips never touch the shared spec session. sf0.01: the skew
    // thresholds are sized for real fixture bytes (the sf0.001 hot
    // partition is under every sane threshold)
    val scoped = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (scoped.conf.isModifiable(k)) scoped.conf.set(k, v)
    }
    graft.operators.WarehouseOps.bloomSkewConfs
      .foreach { case (k, v) => scoped.conf.set(k, v) }
    val df = graft.operators.WarehouseOps.bloomSkewPlan(scoped, "/root/testdata/sf0.01")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"runtime bloom filter did not engage:\n$plan")
    assert(plan.contains("skew=true"),
      s"AQE skew split did not engage:\n$plan")
    // fixture skew sanity: the hot key (supplier 1) must carry more
    // surviving rows than all cold keys combined — the property the
    // skew split exists for
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val hotShare = li.agg(
      avg(when(pmod(col("l_suppkey"), lit(10L)) =!= 0, 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(hotShare > 0.5, s"hot-key share only $hotShare")
  }

  test("bloom_skew_join WITHOUT the confs: no bloom, no skew split (gate can't pass vacuously)") {
    val df = graft.operators.WarehouseOps.bloomSkewPlan(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("might_contain"), "bloom filter leaked into default confs")
    assert(!plan.contains("skew=true"), "skew split engaged without the scaled thresholds")
  }
}
