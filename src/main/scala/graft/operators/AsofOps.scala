package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

import graft.engine.Tables

/** As-of join — an operator vanilla Spark lacks. Composed from existing
  * ops (preference (a) of the custom-operator ladder): union both sides,
  * one window pass carrying the latest right row forward
  * (`last_value(ignoreNulls)` over rows-unbounded-preceding), keep left
  * rows. ONE shuffle on the key, state O(1) per row — no range cross join,
  * no per-left-row probe. DuckDB's native ASOF JOIN is the oracle.
  */
object AsofOps extends QueryModule {

  /** For each left row: the nearest right row sharing `key` — the latest
    * with `right.ts <= left.ts` (`direction = "backward"`, the default) or
    * the earliest with `right.ts >= left.ts` (`"forward"`), both inclusive.
    * Right columns come back nested as a `matched` struct (null when no
    * qualifying right row exists).
    *
    * `toleranceMicros` bounds the match distance (pandas `merge_asof`
    * tolerance): a nearest match farther than the bound nulls out. The
    * tolerance check is a post-projection on the already-matched row, so
    * it adds no shuffle or state — the plan stays ONE exchange on the key
    * and one window pass regardless. Timestamp columns must be
    * TimestampType when a tolerance is given.
    *
    * Forward is the same merge as backward run in reverse time order:
    * the window iterates descending, so the "last right row seen" is
    * exactly the earliest right row at-or-after the left row.
    *
    * Tie contract on DUPLICATE right timestamps for a key: backward keeps
    * the row with the LARGEST `rightTieBreak` (latest-wins, matching the
    * merge family's convention), forward the SMALLEST (first-wins in
    * forward reading order). Both are deterministic; note DuckDB's ASOF
    * JOIN makes no tie promise at all, so oracle-compared exercises must
    * use a right side with unique (key, ts) — true of the fixtures, and
    * the safe production spelling is deduplicating the right side first.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               key: String, leftTs: String, rightTs: String,
               rightTieBreak: String,
               direction: String = "backward",
               toleranceMicros: Option[Long] = None): DataFrame = {
    val lStruct = struct(left.columns.toIndexedSeq.map(col): _*)
    val rStruct = struct(right.columns.toIndexedSeq.map(col): _*)
    val lType = StructType(left.schema.fields)
    val rType = StructType(right.schema.fields)

    val l = left.select(
      col(key).as("__k"), col(leftTs).as("__ts"), lit(1).as("__tag"),
      lit(null).cast("long").as("__rid"),
      lStruct.as("__lv"), lit(null).cast(rType).as("__rv"))
    val r = right.select(
      col(key).as("__k"), col(rightTs).as("__ts"), lit(0).as("__tag"),
      col(rightTieBreak).cast("long").as("__rid"),
      lit(null).cast(lType).as("__lv"), rStruct.as("__rv"))

    // right rows sort before left rows at equal ts (inclusive match);
    // __rid makes duplicate right timestamps deterministic
    val w = (direction match {
      case "backward" =>
        Window.partitionBy("__k").orderBy(col("__ts"), col("__tag"), col("__rid"))
      case "forward" =>
        Window.partitionBy("__k").orderBy(col("__ts").desc, col("__tag"), col("__rid").desc)
      case other => sys.error(s"asofJoin direction must be backward|forward, got $other")
    }).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r)
      .withColumn("__m", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    val bounded = toleranceMicros match {
      case None => matched
      case Some(t) => matched.withColumn("__m",
        when(abs(unix_micros(col("__ts")) - unix_micros(col("__m").getField(rightTs))) <= t,
          col("__m")))
    }
    bounded.select(col("__lv").as("left"), col("__m").as("matched"))
  }

  /** Native-plan twin of [[asofJoin]] (preference (c) of the ladder):
    * builds a [[graft.plans.AsofJoin]] logical node and lets the injected
    * [[graft.plans.AsofJoinStrategy]] plan it into the one-pass merge
    * [[graft.plans.AsofJoinExec]]. Output schema matches [[asofJoin]]:
    * every left column, then every right column nullable (flat, not
    * struct-nested — the physical operator doesn't need the struct
    * carrier the window composition did).
    */
  def asofJoinNative(left: DataFrame, right: DataFrame,
                     key: String, leftTs: String, rightTs: String,
                     rightTieBreak: String): DataFrame = {
    val spark = left.sparkSession
    // the strategy is injected by GraftExtensions; this runtime fallback
    // covers sessions built without the extensions config (same pattern
    // as TextKernels.register). Synchronized check-then-append so two
    // threads composing native as-of joins can't double-register.
    AsofOps.synchronized {
      if (!spark.experimental.extraStrategies.contains(graft.plans.AsofJoinStrategy) &&
          !spark.sessionState.planner.strategies.contains(graft.plans.AsofJoinStrategy)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ graft.plans.AsofJoinStrategy
      }
    }
    // re-alias the right side so its attribute ids are fresh even when
    // both inputs scan the same table (self-as-of) — sidesteps any
    // reliance on analyzer dedup for a custom node
    val r2 = right.select(right.columns.toIndexedSeq.map(c => col(c).as(c)): _*)
    val lp = org.apache.spark.sql.graftbridge.DatasetBridge.analyzed(left)
    val rp = org.apache.spark.sql.graftbridge.DatasetBridge.analyzed(r2)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(sys.error(s"no column $n"))
    org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(spark,
      graft.plans.AsofJoin(lp, rp,
        Seq(attr(lp, key)), Seq(attr(rp, key)),
        attr(lp, leftTs), attr(rp, rightTs), attr(rp, rightTieBreak)))
  }

  /** Registered exercise: each purchase matched to the user's latest
    * preceding click.
    */
  def asofClicks(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    asofJoin(purchases, clicks, "user_id", "ts", "ts", "event_id")
      .select(
        col("left.event_id").as("event_id"),
        col("left.user_id").as("user_id"),
        unix_micros(col("left.ts")).as("ts_us"),
        unix_micros(col("matched.ts")).as("last_click_ts_us"),
        col("matched.event_id").as("last_click_id"))
      .orderBy("event_id")
  }

  /** Same exercise through the native plan node — identical oracle, so
    * the custom `LogicalPlan`/`SparkStrategy`/`SparkPlan` path is gated
    * by the full rows+schema+hash check, not just a spec.
    */
  def asofClicksNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    asofJoinNative(purchases, clicks, "user_id", "ts", "ts", "event_id")
      .toDF("event_id", "user_id", "ts", "r_event_id", "r_user_id", "r_ts")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        unix_micros(col("r_ts")).as("last_click_ts_us"),
        col("r_event_id").as("last_click_id"))
      .orderBy("event_id")
  }

  val asofOracle: String =
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
      | epoch_us(c.ts) AS last_click_ts_us,
      | c.event_id AS last_click_id
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      | ON p.user_id = c.user_id AND c.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin

  /** Forward + tolerance exercise: each click matched to the user's NEXT
    * purchase, but only within 7 days — the attribution-window join shape
    * (click → conversion within the window, else unattributed). The
    * composed tier carries the full pandas-merge_asof surface
    * (direction × tolerance); the native plan node covers the hot
    * backward default.
    */
  def asofNextPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    asofJoin(clicks, purchases, "user_id", "ts", "ts", "event_id",
        direction = "forward", toleranceMicros = Some(7L * 86400L * 1000000L))
      .select(
        col("left.event_id").as("event_id"),
        col("left.user_id").as("user_id"),
        unix_micros(col("left.ts")).as("ts_us"),
        unix_micros(col("matched.ts")).as("next_purchase_ts_us"),
        col("matched.event_id").as("next_purchase_id"))
      .orderBy("event_id")
  }

  val asofFwdOracle: String =
    """SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
      | CASE WHEN p.ts - c.ts <= INTERVAL 7 DAY THEN epoch_us(p.ts) END AS next_purchase_ts_us,
      | CASE WHEN p.ts - c.ts <= INTERVAL 7 DAY THEN p.event_id END AS next_purchase_id
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      | ON c.user_id = p.user_id AND p.ts >= c.ts
      |ORDER BY c.event_id""".stripMargin

  override def queries: Seq[RegisteredQuery] = Seq(
    RegisteredQuery("asof_join", asofClicks, Some(asofOracle)),
    RegisteredQuery("asof_join_native", asofClicksNative, Some(asofOracle)),
    RegisteredQuery("asof_fwd_tolerance", asofNextPurchase, Some(asofFwdOracle)),
  )
}
