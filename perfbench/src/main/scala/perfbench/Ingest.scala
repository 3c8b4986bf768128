package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One row of a change batch: the `events` columns plus the operation. */
final case class Change(op: String, eventId: Long, tsMicros: Option[Long],
    userId: Long, eventType: String, value: Double, props: String) {
  /** The reference's validation predicate (`IncrementalPipeline.isValid`):
    * key and event time present, value non-negative. */
  def valid: Boolean = tsMicros.isDefined && !(value < 0)

  def toRow: Row = Row(op, eventId, tsMicros.map(Ingest.timestamp).orNull,
    userId, eventType, value, props)
}

/** The `ingest` workload's change batches, generated from a seed.
  *
  *  - sizes run from 100 to 10,000 rows, skewed towards small batches
  *    (the median batch holds ~1,000);
  *  - keys are unique within a batch;
  *  - about 55% of rows update an existing key, chosen with an exponential
  *    preference for the most recently created keys; 25% insert new keys;
  *    12% delete; 8% fail validation (no event time, or a negative value);
  *  - event times move forward from the fixture's last event.
  *
  * `firstNewId` is one past the fixture's largest key and `startMicros` its
  * latest event time, so the same seed always yields the same batches.
  */
final class IngestGen(seed: Long, firstNewId: Long, startMicros: Long) {
  // SplittableRandom mixes its seed, so neighbouring seeds start apart
  private val rnd = new java.util.SplittableRandom(seed)
  private var nextId = firstNewId
  private var clock = startMicros
  private val types = Vector("click", "error", "purchase", "signup", "view")

  private def recentKey(): Long = {
    val back = (-math.log(1.0 - rnd.nextDouble()) * 5000.0).toLong
    math.max(0L, nextId - 1 - back)
  }

  private def payload(op: String, key: Long, ts: Option[Long], value: Double) =
    Change(op, key, ts, rnd.nextInt(1500).toLong, types(rnd.nextInt(types.size)),
      value, s"""{"k": ${rnd.nextInt(100)}}""")

  /** Sizes follow a golden-ratio sequence from a seeded start, so every
    * run of a few batches spans the whole size range evenly. */
  private var sizePhase = rnd.nextDouble()

  def batch(): Vector[Change] = {
    sizePhase = (sizePhase + 0.6180339887498949) % 1.0
    val size = math.round(100.0 * math.pow(100.0, sizePhase * sizePhase)).toInt
    val used = mutable.HashSet.empty[Long]
    val out = Vector.newBuilder[Change]
    while (used.size < size) {
      val kind = rnd.nextDouble()
      clock += 1000L + rnd.nextInt(60000000)
      val value = math.round(rnd.nextDouble() * 50000.0) / 100.0
      val key =
        if (kind < 0.55) recentKey()
        else if (kind < 0.80) { nextId += 1; nextId - 1 }
        else (rnd.nextDouble() * nextId).toLong
      if (used.add(key)) out += (
        if (kind < 0.80) payload("upsert", key, Some(clock), value)
        else if (kind < 0.92) payload("delete", key, Some(clock), value)
        else if (kind < 0.96) payload("upsert", key, None, value)
        else payload("upsert", key, Some(clock), -value - 0.01))
    }
    out.result()
  }
}

/** What the table must hold: the fixture's rows with every valid change
  * applied in order. The benchmark checks each snapshot and the final
  * table against it. */
final class IngestModel(initial: Iterator[Row]) {
  /** key → (ts micros, user_id, event_type, value, props) */
  val rows = mutable.HashMap.empty[Long, (Long, Long, String, Double, String)]
  initial.foreach { r =>
    rows(r.getLong(0)) = (Ingest.micros(r.getTimestamp(1)), r.getLong(2),
      r.getString(3), r.getDouble(4), r.getString(5))
  }

  def apply(batch: Seq[Change]): Unit = batch.filter(_.valid).foreach { c =>
    if (c.op == "delete") rows.remove(c.eventId)
    else rows(c.eventId) = (c.tsMicros.get, c.userId, c.eventType, c.value, c.props)
  }

  /** The snapshot aggregate's expected row, in [[Ingest.snapshotSql]] order. */
  def snapshot: Seq[Any] = {
    val vs = rows.values
    Seq(vs.size.toLong, vs.count(_._3 == "purchase").toLong,
      vs.count(_._3 == "error").toLong, vs.map(_._1).min, vs.map(_._1).max,
      vs.map(_._2).toSet.size.toLong, vs.map(_._4).sum)
  }

  def tableRows: Iterator[Row] = rows.iterator.map { case (k, (ts, u, t, v, p)) =>
    Row(k, Ingest.timestamp(ts), u, t, v, p)
  }
}

object Ingest {
  val table = "graft_cat.bench.events"
  val batchSchema: StructType = StructType(Seq(
    StructField("op", StringType), StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  def micros(t: java.sql.Timestamp): Long =
    Math.addExact(Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L),
      (t.getNanos / 1000).toLong)

  def timestamp(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  /** One write request: the batch, filtered by the reference's validation
    * predicate, merged into `target` by key. */
  def merge(spark: SparkSession, target: String, batch: Seq[Change]): Unit = {
    spark.createDataFrame(batch.map(_.toRow).asJava, batchSchema)
      .filter(graft.pipeline.IncrementalPipeline.isValid)
      .createOrReplaceTempView("bench_source")
    spark.sql(mergeSql(target))
  }

  def mergeSql(target: String): String =
    s"""MERGE INTO $target t USING bench_source s
       |ON t.event_id = s.event_id
       |WHEN MATCHED AND s.op = 'delete' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET t.ts = s.ts, t.user_id = s.user_id,
       |  t.event_type = s.event_type, t.value = s.value, t.props = s.props
       |WHEN NOT MATCHED AND s.op <> 'delete' THEN
       |  INSERT (event_id, ts, user_id, event_type, value, props)
       |  VALUES (s.event_id, s.ts, s.user_id, s.event_type, s.value, s.props)""".stripMargin

  /** The reference's snapshot aggregate (`IncrementalPipeline.run`). */
  val snapshotSql: String =
    s"""SELECT count(*) AS total_events,
       |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS total_purchases,
       |  count(CASE WHEN event_type = 'error' THEN 1 END) AS total_errors,
       |  min(ts) AS earliest_ts, max(ts) AS latest_ts,
       |  count(DISTINCT user_id) AS total_users, sum(value) AS total_value
       |FROM $table""".stripMargin

  /** Whether a snapshot row equals the model's: exact except the double
    * sum, whose last bits depend on the summation order. */
  def snapshotMatches(got: Row, want: Seq[Any]): Boolean =
    (0 until 3).forall(i => got.getLong(i) == want(i)) &&
      micros(got.getTimestamp(3)) == want(3) && micros(got.getTimestamp(4)) == want(4) &&
      got.getLong(5) == want(5) && {
        val (g, w) = (got.getDouble(6), want(6).asInstanceOf[Double])
        math.abs(g - w) <= 1e-9 * math.max(1.0, math.abs(w))
      }
}
