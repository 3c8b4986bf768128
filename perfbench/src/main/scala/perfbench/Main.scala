package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.{Sessions, Tables}

/** The benchmark's JVM side. `run.py` starts it in one of two modes:
  *
  *  - `catalog <out.json>`: write each registered query's name, module and
  *    oracle SQL, so `run.py` can build schedules and oracle digests
  *    without a Spark session;
  *  - `run <config.json>`: set up the engine, run one workload as a single
  *    closed-loop client, and write the raw samples (and, when traced, the
  *    spans and listener events) to the config's `result` path.
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = args.toList match {
    case "catalog" :: out :: Nil => writeJson(out, catalog)
    case "run" :: config :: Nil =>
      val conf = mapper.readValue(new java.io.File(config), classOf[java.util.Map[String, Any]])
      val result = new Runner(conf.asScala.toMap).run()
      writeJson(conf.get("result").toString, result)
    case _ =>
      System.err.println("usage: perfbench.Main catalog <out.json> | run <config.json>")
      sys.exit(2)
  }

  /** Every registered query, with the module that registers it when the
    * module is one a workload draws from. */
  def catalog: Seq[Map[String, Any]] = {
    val modules = Seq(
      graft.operators.Relational, graft.operators.WindowsAndStats, graft.operators.SetOps,
      graft.operators.OrderingOps, graft.operators.ReshapeOps, graft.operators.SamplingOps,
      graft.operators.AsofOps, graft.operators.RangeOps, graft.operators.SkewOps,
      graft.operators.ProfilingOps, graft.operators.EventLifecycleOps,
      graft.streaming.StreamingOps)
    val moduleOf = modules.flatMap { m =>
      m.queries.map(_.name -> m.getClass.getSimpleName.stripSuffix("$"))
    }.toMap
    SparkEntry.registry.map { q =>
      Map("name" -> q.name, "module" -> moduleOf.getOrElse(q.name, ""),
        "oracle" -> q.oracle.orNull)
    }
  }

  /** Writes Scala maps, sequences and scalars as JSON. */
  def writeJson(path: String, value: Any): Unit = {
    def toJava(v: Any): Any = v match {
      case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
      case s: Iterable[_] => s.map(toJava).toSeq.asJava
      case o: Option[_] => o.map(toJava).orNull
      case x => x
    }
    mapper.writeValue(new java.io.File(path), toJava(value))
  }
}

/** One workload run. Setup is repeated `setup_cycles` times, each time
  * building a session, loading the fixtures (and the `ingest` table) and
  * running one untimed warm-up request; the first cycle is timed from the
  * JVM's own start, and every cycle but the last tears its session down.
  */
final class Runner(conf: Map[String, Any]) {
  private val workload = conf("workload").toString
  private val seed = conf("seed").toString.toLong
  private val capNs = (conf("cap_s").toString.toDouble * 1e9).toLong
  private val data = conf("data").toString
  private val cores = conf("cores").toString.toInt
  private val trace = new Trace(conf("trace").toString.toBoolean)
  private val queries = SparkEntry.queries

  private def names: Seq[String] =
    conf("requests").asInstanceOf[java.util.List[Any]].asScala.map(_.toString).toSeq

  private val requests = ArrayBuffer.empty[Map[String, Any]]
  private val checks = ArrayBuffer.empty[Map[String, Any]]
  private var timedNs = 0L
  private var truncated = false

  private def heapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cycles = conf("setup_cycles").toString.toInt
    val setups = ArrayBuffer.empty[Map[String, Any]]
    var spark: SparkSession = null
    var model: IngestModel = null
    for (c <- 1 to cycles) {
      val start = if (c == 1) jvmStart else System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      spark = Sessions.tune(SparkSession.builder().master(s"local[$cores]")
        .appName(s"perfbench-$workload"), cores.toString).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val t1 = System.nanoTime()
      model = load(spark)
      val t2 = System.nanoTime()
      warmUp(spark)
      setups += Map(
        "total_s" -> (System.currentTimeMillis() - start) / 1000.0,
        "session_ms" -> (t1 - t0) / 1e6, "load_ms" -> (t2 - t1) / 1e6,
        "warm_ms" -> (System.nanoTime() - t2) / 1e6)
      if (c < cycles) {
        if (workload == "ingest") spark.sql(s"DROP TABLE ${Ingest.table}")
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    trace.register(spark)
    val heapStart = heapMb()
    workload match {
      case "ingest" => runIngest(spark, model)
      case _ => runQueries(spark, names)
    }
    val heapEnd = heapMb()
    if (trace.enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "spark_version" -> spark.version,
      "conf" -> spark.conf.getAll,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup" -> setups.toSeq, "timed_s" -> timedNs / 1e9, "truncated" -> truncated,
      "heap_start_mb" -> heapStart, "heap_end_mb" -> heapEnd,
      "requests" -> requests.toSeq, "checks" -> checks.toSeq) ++
      (if (trace.enabled) Map("trace" -> trace.toJson) else Map.empty)
    spark.stop()
    result
  }

  private def load(spark: SparkSession): IngestModel = {
    val tables = workload match {
      case "adhoc" => Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events")
      case _ => Seq("events")
    }
    tables.foreach(t => Tables.table(spark, data, t).count())
    if (workload != "ingest") return null
    spark.conf.set("spark.sql.catalog.graft_cat", classOf[graft.sources.GraftCatalog].getName)
    val events = Tables.events(spark, data)
    events.writeTo(Ingest.table).create()
    new IngestModel(events.collect().iterator)
  }

  private def warmUp(spark: SparkSession): Unit = workload match {
    case "ingest" =>
      spark.sql(Ingest.snapshotSql).collect()
      // one MERGE into a scratch table, so the first timed MERGE is not the
      // JVM's first
      val scratch = "graft_cat.bench.warm"
      Tables.events(spark, data).limit(2000).writeTo(scratch).create()
      Ingest.merge(spark, scratch, new IngestGen(0L, 100000L, 0L).batch())
      spark.sql(s"DROP TABLE $scratch")
    case _ => queries(conf("warmup").toString)(spark, data).collect()
  }

  /** Times `body`, adds it to the timed phase and records one request;
    * a request that throws is recorded as failed and yields None. */
  private def timed[T](kind: String, name: String)(body: => T): Option[T] = {
    trace.request = requests.size
    val start = trace.now()
    val t0 = System.nanoTime()
    val out = try Right(trace.span(s"request.$kind")(body)) catch { case e: Throwable => Left(e) }
    val ns = System.nanoTime() - t0
    timedNs += ns
    requests += Map("kind" -> kind, "name" -> name, "start" -> start,
      "end" -> (start + ns / 1e6), "ms" -> ns / 1e6)
    out.left.foreach { e =>
      note("ok" -> false, "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    out.toOption
  }

  /** Adds fields to the last recorded request. */
  private def note(fields: (String, Any)*): Unit =
    requests(requests.size - 1) = requests.last ++ fields

  private def check(ok: Boolean, detail: => String): Unit =
    if (ok) note("ok" -> true) else note("ok" -> false, "error" -> detail)

  /** Whether the timed phase has outrun its safety cap; the requests left
    * are then skipped and the result says so. */
  private def overCap: Boolean = {
    if (timedNs > capNs) truncated = true
    truncated
  }

  /** `adhoc` and `stream`: each request builds a registered query and
    * collects its whole result. */
  private def runQueries(spark: SparkSession, names: Seq[String]): Unit = {
    val kind = if (workload == "stream") "stream" else "read"
    names.iterator.takeWhile(_ => !overCap).foreach { name =>
      val fn = queries(name)
      timed(kind, name) {
        val df = trace.span("operators.build")(fn(spark, data))
        (df.schema, trace.span("spark.execute")(df.collect()))
      }.foreach { case (schema, rows) =>
        val (n, digest) = Digest.of(schema, rows.iterator)
        note("ok" -> true, "rows" -> n, "digest" -> digest)
      }
    }
  }

  /** `ingest`: each batch is one MERGE write and one snapshot read. Every
    * fourth batch adds an audit read of the latest commit's change feed and
    * a retention call that keeps the last four versions. Creating the table
    * commits two versions (empty, then loaded), so batch k commits version
    * k + 1. */
  private def runIngest(spark: SparkSession, model: IngestModel): Unit = {
    val maxId = model.rows.keysIterator.max
    val gen = new IngestGen(seed, maxId + 1, model.rows.valuesIterator.map(_._1).max)
    val period = 4
    var version = 1
    var counts = Vector(0L, model.rows.size.toLong)
    var batchNo = 0
    while (batchNo < conf("batches").toString.toInt && !overCap) {
      batchNo += 1
      val batch = gen.batch()
      timed("write", "merge") {
        trace.span("sources.merge")(Ingest.merge(spark, Ingest.table, batch))
      }.foreach(_ => note("ok" -> true, "source_rows" -> batch.count(_.valid)))
      model.apply(batch)
      version += 1
      counts :+= model.rows.size.toLong
      timed("read", "snapshot") {
        trace.span("sources.snapshot_read")(spark.sql(Ingest.snapshotSql).collect())
      }.foreach { snap =>
        check(Ingest.snapshotMatches(snap.head, model.snapshot),
          s"snapshot ${snap.head} != model ${model.snapshot}")
      }
      if (batchNo % period == 0) {
        timed("read", "changes") {
          trace.span("sources.changes_read") {
            graft.sources.ChangeFeed.tableChanges(spark, "bench.events", version - 1, version)
              .groupBy("_change_type").count().collect()
          }
        }.foreach { changes =>
          val n = changes.map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
          val net = n("insert") - n("delete") + n("update_postimage") - n("update_preimage")
          val want = counts(version) - counts(version - 1)
          check(net == want, s"change feed net rows $net != $want ($n)")
        }
        timed("maintenance", "expire") {
          trace.span("sources.expire") {
            spark.sql(s"CALL graft_cat.system.expire_versions('bench.events', $period)").collect()
          }
        }.foreach { expired =>
          val firstLive = version - period + 1
          check(expired.head.getAs[Number](1).longValue == firstLive,
            s"expire_versions returned ${expired.head}, want first live $firstLive")
        }
      }
    }
    val table = spark.table(Ingest.table)
    val got = Digest.of(table.schema, table.collect().iterator)._2
    val want = Digest.of(table.schema, model.tableRows)._2
    checks += Map("name" -> "final_table", "ok" -> (got == want),
      "detail" -> s"table $got, model $want", "table_rows" -> model.rows.size)
  }
}
