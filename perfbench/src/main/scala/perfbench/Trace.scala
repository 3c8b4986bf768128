package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's record: spans the benchmark opens around its calls into
  * each layer, plus raw events from Spark's public listener APIs. Events
  * carry their own wall-clock times, so `benchlib.py` attributes each one to
  * the request whose window holds it. Everything stays in memory until the
  * run ends.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  val spans = ArrayBuffer.empty[Span]
  val tasks = ArrayBuffer.empty[Map[String, Any]]
  val jobs = ArrayBuffer.empty[Double]
  val stages = ArrayBuffer.empty[Double]
  val queries = ArrayBuffer.empty[Map[String, Any]]
  val progress = ArrayBuffer.empty[Map[String, Any]]

  private var open: List[Int] = Nil
  /** Index of the request in progress; spans opened now belong to it. */
  var request: Int = -1

  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()

  /** Wall clock in fractional milliseconds since the epoch, on the same
    * scale as the millisecond times Spark puts in its events. */
  def now(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val start = now()
      spans += Span(id, open.headOption.getOrElse(-1), request, name, start, start)
      open = id :: open
      try body
      finally {
        spans(id) = spans(id).copy(endMs = now())
        open = open.tail
      }
    }

  def register(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val m = e.taskMetrics
        if (m != null) tasks += Map(
          "launch" -> e.taskInfo.launchTime.toDouble,
          "finish" -> e.taskInfo.finishTime.toDouble,
          "run_ms" -> m.executorRunTime,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime,
          "deserialize_ms" -> m.executorDeserializeTime,
          "result_bytes" -> m.resultSize,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs += e.time.toDouble
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        e.stageInfo.submissionTime.foreach(t => stages += t.toDouble)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = synchronized {
        val phases = qe.tracker.phases
        def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val start = phases.values.map(_.startTimeMs).minOption
        start.foreach { s =>
          queries += Map("start" -> s.toDouble, "analysis_ms" -> ms("analysis"),
            "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
        }
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
        val p = e.progress
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        progress += Map(
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "input_rows" -> p.numInputRows,
          "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
          "query_planning_ms" -> d("queryPlanning"), "get_batch_ms" -> d("getBatch"),
          "latest_offset_ms" -> d("latestOffset"), "wal_commit_ms" -> d("walCommit"),
          "commit_offsets_ms" -> d("commitOffsets"),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_memory_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    })
  }

  def toJson: Map[String, Any] = synchronized(Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "request" -> s.request, "name" -> s.name, "start" -> s.startMs,
      "end" -> s.endMs)).toSeq,
    "tasks" -> tasks.toSeq, "jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
    "queries" -> queries.toSeq, "progress" -> progress.toSeq))
}

object Trace {
  final case class Span(id: Int, parent: Int, request: Int, name: String,
      startMs: Double, endMs: Double)
}
