package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._

/** Optimistic concurrency on direct table commits (VERDICT r15 missing
  * #3): a row-level operation pins the snapshot its scan read and the
  * commit validates identity under the store lock — two writers that
  * both read version v and then write cannot interleave as
  * last-write-wins. The STALE writer is refused loudly with a
  * `ConcurrentModificationException` and publishes nothing; the retry
  * story is re-running the statement against the fresh snapshot (what
  * Iceberg's commit loop automates for metadata-compatible conflicts).
  *
  * The interleaving is real, not simulated: writer A's UPDATE blocks
  * inside a gate UDF mid-execution (after its op scan pinned the
  * snapshot), writer B commits, then A resumes and must be refused.
  */
class ConcurrencySpec extends SparkSpec {

  private def cat(): Unit =
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)

  /** run `sql` on a background thread; returns (thread, error holder). */
  private def background(sql: String): (Thread, Array[Throwable]) = {
    val err = new Array[Throwable](1)
    val t = new Thread(() =>
      try { spark.sql(sql); () } catch { case e: Throwable => err(0) = e })
    t.setDaemon(true)
    t.start()
    (t, err)
  }

  private def conflictIn(t: Throwable): Boolean = {
    var cur = t
    while (cur != null) {
      if (cur.isInstanceOf[java.util.ConcurrentModificationException] ||
          Option(cur.getMessage).exists(_.contains("commit conflict")))
        return true
      cur = cur.getCause
    }
    false
  }

  test("COW UPDATE vs concurrent INSERT: the stale writer is refused, never lost-update") {
    cat()
    spark.range(0, 10).repartition(1)
      .select(col("id").as("k"), lit(1.0).as("v"))
      .writeTo("graft_cat.spec.occ1").create()
    try {
      ConcurrencyGates.arm()
      spark.udf.register("occ_gate1", (k: Long) => ConcurrencyGates.pass(k))
      val (t, err) = background(
        "UPDATE graft_cat.spec.occ1 SET v = v + 1 WHERE occ_gate1(k) >= 0")
      assert(ConcurrencyGates.started.await(30, TimeUnit.SECONDS),
        "writer A never reached its gate")
      // writer B lands BETWEEN A's snapshot read and A's commit
      spark.sql("INSERT INTO graft_cat.spec.occ1 VALUES (100, 9.0)")
      ConcurrencyGates.resume.countDown()
      t.join(120000)
      assert(err(0) != null, "the stale COW writer was NOT refused")
      assert(conflictIn(err(0)), s"wrong failure: ${err(0)}")
      // no lost update: B's row survived, A's rewrite never published
      val rows = spark.table("graft_cat.spec.occ1").collect()
      assert(rows.exists(r => r.getLong(0) == 100L && r.getDouble(1) == 9.0))
      assert(!rows.exists(_.getDouble(1) == 2.0),
        "the refused UPDATE leaked rows")
      assert(rows.length === 11)
    } finally spark.sql("DROP TABLE graft_cat.spec.occ1")
  }

  test("MOR UPDATE vs concurrent INSERT: the stale delta commit is refused (positions would be stale)") {
    cat()
    spark.range(0, 10).repartition(1)
      .select(col("id").as("k"), lit(1.0).as("v"))
      .writeTo("graft_cat.spec.occ2")
      .tableProperty("write.mode", "merge-on-read").create()
    try {
      ConcurrencyGates.arm()
      spark.udf.register("occ_gate2", (k: Long) => ConcurrencyGates.pass(k))
      val (t, err) = background(
        "UPDATE graft_cat.spec.occ2 SET v = v + 1 WHERE occ_gate2(k) >= 0")
      assert(ConcurrencyGates.started.await(30, TimeUnit.SECONDS))
      spark.sql("INSERT INTO graft_cat.spec.occ2 VALUES (100, 9.0)")
      ConcurrencyGates.resume.countDown()
      t.join(120000)
      assert(err(0) != null, "the stale MOR writer was NOT refused")
      assert(conflictIn(err(0)), s"wrong failure: ${err(0)}")
      val rows = spark.table("graft_cat.spec.occ2").collect()
      assert(rows.exists(r => r.getLong(0) == 100L && r.getDouble(1) == 9.0))
      assert(!rows.exists(_.getDouble(1) == 2.0))
      assert(rows.length === 11)
    } finally spark.sql("DROP TABLE graft_cat.spec.occ2")
  }

  test("partitioned COW: conflict detection is SHARD-grained — a disjoint-partition writer does not conflict") {
    cat()
    val seed = spark.range(0, 10).repartition(1)
      .select(col("id").as("k"),
        when(col("id") % 2 === 0, "a").otherwise("b").as("p"),
        lit(1.0).as("v"))
    seed.writeTo("graft_cat.spec.occ3").partitionedBy(col("p")).create()
    try {
      // case 1: concurrent append into a DIFFERENT partition — no
      // conflict, the UPDATE applies (shard-grain isolation)
      ConcurrencyGates.arm()
      spark.udf.register("occ_gate3", (k: Long) => ConcurrencyGates.pass(k))
      val (t1, err1) = background(
        "UPDATE graft_cat.spec.occ3 SET v = v + 1 WHERE p = 'a' AND occ_gate3(k) >= 0")
      assert(ConcurrencyGates.started.await(30, TimeUnit.SECONDS))
      spark.sql("INSERT INTO graft_cat.spec.occ3 VALUES (200, 'b', 9.0)")
      ConcurrencyGates.resume.countDown()
      t1.join(120000)
      assert(err1(0) == null,
        s"disjoint-partition writers must not conflict: ${err1(0)}")
      assert(spark.table("graft_cat.spec.occ3")
        .filter(col("p") === "a" && col("v") === 2.0).count() === 5L)
      // case 2: concurrent append into the SAME partition — refused.
      // The partitioned op runs TWO passes (runtime group filtering
      // plans a matching-groups subquery BEFORE the op scan pins its
      // snapshot), so gate both: release the subquery pass first, then
      // land the conflicting INSERT during the REWRITE pass — after the
      // op scan's capture, before its commit.
      ConcurrencyGates.arm()
      spark.udf.register("occ_gate4", (k: Long) => ConcurrencyGates.pass(k))
      val (t2, err2) = background(
        "UPDATE graft_cat.spec.occ3 SET v = v + 1 WHERE p = 'a' AND occ_gate4(k) >= 0")
      assert(ConcurrencyGates.started.await(30, TimeUnit.SECONDS),
        "subquery pass never reached its gate")
      val resume1 = ConcurrencyGates.resume
      ConcurrencyGates.arm() // fresh latches for the rewrite pass
      resume1.countDown()
      assert(ConcurrencyGates.started.await(30, TimeUnit.SECONDS),
        "rewrite pass never reached its gate")
      spark.sql("INSERT INTO graft_cat.spec.occ3 VALUES (300, 'a', 9.0)")
      ConcurrencyGates.resume.countDown()
      t2.join(120000)
      assert(err2(0) != null, "the same-shard stale writer was NOT refused")
      assert(conflictIn(err2(0)), s"wrong failure: ${err2(0)}")
      // B's row survived; A's second pass (v=3.0) never published
      val a = spark.table("graft_cat.spec.occ3").filter(col("p") === "a")
      assert(a.filter(col("k") === 300L && col("v") === 9.0).count() === 1L)
      assert(a.filter(col("v") === 3.0).count() === 0L)
    } finally spark.sql("DROP TABLE graft_cat.spec.occ3")
  }

  test("partitioned MOR: validation covers every SCANNED shard — a scanned-but-unmodified shard conflict is refused") {
    cat()
    // k < 5 lives in partition 'a'; k >= 5 in 'b'. The UPDATE's
    // predicate is NOT a partition conjunct, so its delta op scan
    // captures BOTH shards, while the statement only modifies 'a'.
    // A concurrent INSERT into 'b' — a shard the statement read but
    // did not touch — must still refuse the commit: the statement's
    // decisions depended on 'b' rows (serializable validation, not
    // modified-shards-only snapshot isolation).
    spark.range(0, 10).repartition(1)
      .select(col("id").as("k"),
        when(col("id") < 5, "a").otherwise("b").as("p"),
        lit(1.0).as("v"))
      .writeTo("graft_cat.spec.occ6").partitionedBy(col("p"))
      .tableProperty("write.mode", "merge-on-read").create()
    try {
      ConcurrencyGates.arm()
      spark.udf.register("occ_gate6", (k: Long) => ConcurrencyGates.pass(k))
      val (t, err) = background(
        "UPDATE graft_cat.spec.occ6 SET v = v + 1 WHERE k < 5 AND occ_gate6(k) >= 0")
      assert(ConcurrencyGates.started.await(30, TimeUnit.SECONDS))
      spark.sql("INSERT INTO graft_cat.spec.occ6 VALUES (100, 'b', 9.0)")
      ConcurrencyGates.resume.countDown()
      t.join(120000)
      assert(err(0) != null,
        "a write to a scanned-but-unmodified shard was NOT refused")
      assert(conflictIn(err(0)), s"wrong failure: ${err(0)}")
      val rows = spark.table("graft_cat.spec.occ6").collect()
      assert(rows.exists(r => r.getLong(0) == 100L && r.getDouble(2) == 9.0))
      assert(!rows.exists(_.getDouble(2) == 2.0),
        "the refused UPDATE leaked row deltas")
      // the retry against the fresh snapshot applies cleanly
      spark.sql("UPDATE graft_cat.spec.occ6 SET v = v + 1 WHERE k < 5")
      assert(spark.table("graft_cat.spec.occ6")
        .filter(col("v") === 2.0).count() === 5L)
    } finally spark.sql("DROP TABLE graft_cat.spec.occ6")
  }

  test("partitioned MOR: partition-conjunct pruning keeps disjoint writers conflict-free") {
    cat()
    spark.range(0, 10).repartition(1)
      .select(col("id").as("k"),
        when(col("id") < 5, "a").otherwise("b").as("p"),
        lit(1.0).as("v"))
      .writeTo("graft_cat.spec.occ7").partitionedBy(col("p"))
      .tableProperty("write.mode", "merge-on-read").create()
    try {
      // `p = 'a'` prunes the delta op scan to shard 'a' — shard 'b' is
      // never captured, so the concurrent 'b' append cannot conflict
      // even under scanned-shard validation (shard-grain isolation
      // survives the serializable tightening)
      ConcurrencyGates.arm()
      spark.udf.register("occ_gate7", (k: Long) => ConcurrencyGates.pass(k))
      val (t, err) = background(
        "UPDATE graft_cat.spec.occ7 SET v = v + 1 WHERE p = 'a' AND occ_gate7(k) >= 0")
      assert(ConcurrencyGates.started.await(30, TimeUnit.SECONDS))
      spark.sql("INSERT INTO graft_cat.spec.occ7 VALUES (200, 'b', 9.0)")
      ConcurrencyGates.resume.countDown()
      t.join(120000)
      assert(err(0) == null,
        s"disjoint-partition MOR writers must not conflict: ${err(0)}")
      assert(spark.table("graft_cat.spec.occ7")
        .filter(col("p") === "a" && col("v") === 2.0).count() === 5L)
      assert(spark.table("graft_cat.spec.occ7")
        .filter(col("k") === 200L).count() === 1L)
    } finally spark.sql("DROP TABLE graft_cat.spec.occ7")
  }

  test("the retry story: re-running the refused statement against the fresh snapshot succeeds") {
    cat()
    spark.range(0, 6).repartition(1)
      .select(col("id").as("k"), lit(1.0).as("v"))
      .writeTo("graft_cat.spec.occ5").create()
    try {
      ConcurrencyGates.arm()
      spark.udf.register("occ_gate5", (k: Long) => ConcurrencyGates.pass(k))
      val (t, err) = background(
        "UPDATE graft_cat.spec.occ5 SET v = v + 1 WHERE occ_gate5(k) >= 0")
      assert(ConcurrencyGates.started.await(30, TimeUnit.SECONDS))
      spark.sql("INSERT INTO graft_cat.spec.occ5 VALUES (100, 9.0)")
      ConcurrencyGates.resume.countDown()
      t.join(120000)
      assert(err(0) != null && conflictIn(err(0)))
      // the retry: same statement, fresh snapshot — applies to ALL rows
      // including the concurrently inserted one (serializable order:
      // INSERT then UPDATE)
      spark.sql("UPDATE graft_cat.spec.occ5 SET v = v + 1 WHERE occ_gate5(k) >= 0")
      val rows = spark.table("graft_cat.spec.occ5").collect()
      assert(rows.count(_.getDouble(1) == 2.0) === 6)
      assert(rows.exists(r => r.getLong(0) == 100L && r.getDouble(1) == 10.0))
    } finally spark.sql("DROP TABLE graft_cat.spec.occ5")
  }
}

/** Latch pair for the interleaving: the FIRST gate call of each STAGE
  * signals the armed latch and parks until the concurrent writer
  * releases it (later rows of the same stage pass through). Stage-
  * grained parking is what lets a test align a phase with each pass of
  * a multi-stage rewrite: by the time any task of a stage runs, that
  * stage's scan has planned its partitions — i.e. the op scan has
  * already pinned its read snapshot.
  */
object ConcurrencyGates {
  @volatile var started: CountDownLatch = new CountDownLatch(1)
  @volatile var resume: CountDownLatch = new CountDownLatch(1)
  private val parkedStages =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  def arm(): Unit = {
    started = new CountDownLatch(1)
    resume = new CountDownLatch(1)
    // parkedStages intentionally NOT cleared: stage ids are session-
    // monotonic, and a released stage must not re-park on fresh latches
  }
  def pass(k: Long): Long = {
    val tc = org.apache.spark.TaskContext.get()
    val stage = if (tc == null) -1 else tc.stageId()
    if (parkedStages.add(stage)) {
      // read the resume latch BEFORE signalling: the woken test thread
      // may re-arm() before this thread runs on, and parking on the
      // fresh latch would never be released
      val r = resume
      started.countDown()
      r.await(60, TimeUnit.SECONDS)
      ()
    }
    k
  }
}
