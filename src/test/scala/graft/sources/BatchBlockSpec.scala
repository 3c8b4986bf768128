package graft.sources

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions._
import org.apache.spark.storage.BlockId
import org.apache.spark.storage.graftbridge.BlockBridge

import graft.SparkSpec

/** Committed store batches travel as BlockManager blocks: scan
  * partitions and commit messages carry block ids, never rows, and a
  * block lives exactly as long as a retained snapshot references its
  * batch. Some tests stop the shared SparkContext; [[SparkSpec.session]]
  * rebuilds it for whoever comes next.
  */
class BatchBlockSpec extends SparkSpec {

  private def ss: SparkSession = SparkSpec.session

  private def cat(s: SparkSession): Unit =
    s.conf.set("spark.sql.catalog.graft_cat", classOf[GraftCatalog].getName)

  private def stopActive(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def serializedSize(o: AnyRef): Int = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.size()
  }

  /** Graft blocks alive in the live context, on the driver and executors. */
  private def liveBlocks(): Set[BlockId] =
    BlockBridge.matching(BatchBlocks.isGraft).toSet

  /** Blocks of the batches some retained snapshot references. */
  private def retainedBlocks(): Set[BlockId] = {
    val ids = Set.newBuilder[BlockId]
    GraftStore.retainedBatches().forEach { b =>
      BatchBlocks.idOf(b.asInstanceOf[Array[Array[Any]]]).foreach(ids += _)
    }
    ids.result()
  }

  private def storeBlocks(key: String): Set[BlockId] =
    GraftStore.history(key).filter(_ != null).flatMap(_.batches)
      .flatMap(BatchBlocks.idOf).toSet

  private def rowsOf(s: SparkSession, table: String): Seq[String] =
    s.table(table).collect().map(_.toString).toSeq.sorted

  test("scan partitions and COW commit messages carry block ids: each under 4 KB, flat as rows grow 10x") {
    cat(ss)
    def sizes(n: Long): Seq[Int] = {
      val table = s"graft_cat.blk.pin$n"
      val key = s"cat::$table"
      ss.range(0, n, 1, 4).select(col("id").as("k"), (col("id") % 7).as("g"))
        .writeTo(table).create()
      try {
        val schema = GraftStore.stores(key).schema
        val parts = new GraftStoreScan(key, schema).planInputPartitions() ++
          new GraftGroupScan(key, schema).planInputPartitions() ++
          new GraftDeltaScan(key, schema).planInputPartitions()
        // the writer tasks of a COW rewrite: each buffers its partition
        // and commits one message
        val messages: Array[WriterCommitMessage] =
          ss.table(table).queryExecution.toRdd.mapPartitions { it =>
            val w = new StoreRowWriter(schema)
            it.foreach(w.write)
            Iterator(w.commit())
          }.collect()
        new GraftStoreBatchWrite(key, schema, truncate = true).commit(messages)
        assert(ss.table(table).count() === n)
        // the driver published the very arrays the blocks hold (local[N])
        GraftStore.stores(key).batches.foreach { b =>
          assert(BlockBridge.get(BatchBlocks.idOf(b).get).get eq b)
        }
        (parts ++ messages).toSeq.map(serializedSize)
      } finally ss.sql(s"DROP TABLE $table")
    }
    val small = sizes(100000L)
    val big = sizes(1000000L)
    assert(small.max < 4096, s"largest partition/message ${small.max} B")
    assert(big.max === small.max)
  }

  test("after MERGEs and expire_versions the live blocks are exactly the retained batches'; DROP frees them") {
    cat(ss)
    val table = "graft_cat.blk.life"
    val key = s"cat::$table"
    ss.range(0, 2000, 1, 4).select(col("id").as("k"), col("id").as("v"))
      .writeTo(table).create()
    try {
      (1 to 6).foreach { i =>
        ss.range(i * 500L, i * 500L + 800L)
          .select(col("id").as("k"), (col("id") * i).as("v"))
          .createOrReplaceTempView("blk_src")
        ss.sql(s"""MERGE INTO $table t USING blk_src s ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET t.v = s.v
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        assert(ss.table(table).count() === math.max(2000L, i * 500L + 800L))
      }
      val written = storeBlocks(key)
      ss.sql("CALL graft_cat.system.expire_versions('blk.life', 2)").collect()
      val kept = storeBlocks(key)
      assert(kept.nonEmpty && kept.size < written.size)
      assert(liveBlocks() === retainedBlocks())
      assert((liveBlocks() intersect (written -- kept)).isEmpty,
        "expired batches must release their blocks")
      ss.sql(s"DROP TABLE $table")
      assert((liveBlocks() intersect written).isEmpty)
      assert(liveBlocks() === retainedBlocks())
    } finally ss.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a replayed streaming epoch drops its blocks") {
    cat(ss)
    val table = "graft_cat.blk.epoch"
    val key = s"cat::$table"
    ss.range(0, 4).select((col("id") % 2).cast("string").as("p"), col("id").as("v"))
      .writeTo(table).partitionedBy(col("p")).create()
    try {
      val w = new GraftPartsStreamingWrite(key, GraftStore.stores(key).schema,
        GraftCatalog.parts(key), GraftCatalog.currentSpecId(key))
      def msg(v: Long): GraftPartCommit = GraftPartCommit(Map(
        "0" -> Array(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString("0"), v))))
      val first = msg(10L)
      w.commit(0L, Array(first))
      assert(liveBlocks().contains(first.blocks("0").id))
      val replay = msg(10L)
      w.commit(0L, Array(replay))
      assert(!liveBlocks().contains(replay.blocks("0").id))
      assert(ss.table(table).count() === 5L)
    } finally ss.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a write whose last task throws after the others committed leaves no block behind") {
    cat(ss)
    val table = "graft_cat.blk.fail"
    ss.range(0, 10).select(col("id").as("k")).writeTo(table).create()
    try {
      val lastFails = udf { (k: Long) =>
        if (TaskContext.get().partitionId() == 3) {
          Thread.sleep(1500)
          throw new IllegalStateException("poisoned partition")
        }
        k
      }
      intercept[Exception] {
        ss.range(0, 400, 1, 4).select(lastFails(col("id")).as("k"))
          .writeTo(table).append()
      }
      assert(ss.table(table).count() === 10L)
      assert(liveBlocks() === retainedBlocks())
    } finally ss.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("readers never write through shared rows: a self-join, projection and sort leave the snapshot unchanged") {
    cat(ss)
    val table = "graft_cat.blk.shared"
    val key = s"cat::$table"
    ss.range(0, 5000, 1, 4).select(col("id").as("k"), (col("id") % 13).as("v"),
        concat(lit("s"), col("id").cast("string")).as("s"))
      .writeTo(table).create()
    try {
      def digest: Seq[String] = GraftStore.stores(key).batches
        .flatMap(_.map(_.mkString("|"))).sorted
      val before = digest
      val t = ss.table(table)
      val out = t.as("a").join(t.as("b"), col("a.k") === col("b.v"))
        .select(col("a.k"), (col("a.v") * 2 + col("b.k")).as("vv"),
          upper(col("b.s")).as("s"))
        .orderBy(col("vv").desc, col("s")).collect()
      assert(out.nonEmpty)
      assert(digest === before)
    } finally ss.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a table committed before spark.stop() reads correctly in the next SparkContext") {
    cat(ss)
    val table = "graft_cat.blk.restart"
    ss.range(0, 3000, 1, 4).select(col("id").as("k"), (col("id") % 5).as("v"))
      .writeTo(table).create()
    try {
      val want = rowsOf(ss, table)
      stopActive(ss)
      cat(ss) // a fresh SparkContext: none of the table's blocks exist
      assert(rowsOf(ss, table) === want)
      ss.sql(s"UPDATE $table SET v = v + 1 WHERE k < 10")
      assert(ss.table(table).filter(col("k") < 10).agg(sum("v")).head.getLong(0) ===
        (0 until 10).map(_ % 5 + 1).sum)
      assert(liveBlocks() === retainedBlocks())
    } finally ss.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("on local[4,2] a write task that fails its first attempt commits its rows exactly once") {
    stopActive(ss)
    val s = graft.engine.Sessions.tune(
      SparkSession.builder().master("local[4,2]").appName("graft-retry"), "4")
      .getOrCreate()
    try {
      cat(s)
      val table = "graft_cat.blk.retry"
      s.range(0, 10).select(col("id").as("k")).writeTo(table).create()
      val flaky = udf { (k: Long) =>
        val tc = TaskContext.get()
        if (tc.partitionId() == 0 && tc.attemptNumber() == 0)
          throw new IllegalStateException("first attempt fails")
        k
      }
      s.range(100, 500, 1, 4).select(flaky(col("id")).as("k"))
        .writeTo(table).append()
      assert(s.table(table).collect().map(_.getLong(0)).sorted.toSeq ===
        ((0L until 10L) ++ (100L until 500L)))
      assert(liveBlocks() === retainedBlocks())
      s.sql(s"DROP TABLE $table")
    } finally stopActive(s)
  }
}
