package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop}

/** ScalaCheck properties for the `t@files` batch inventory: under random
  * append / DV-delete / compact programs, the inventory must agree with a
  * driver-side shadow model of the store's commit semantics — appends add
  * physical rows, a deletion-vector delete MARKS and never shrinks, compact
  * purges the marks. The model tracks (physical rows, marked indices) and
  * the property checks, after the whole program:
  *   - Σ record_count  == |physical|  (deletes never shrink a batch)
  *   - Σ dv_deleted    == |marked|
  *   - live table count == physical − marked
  *   - min-of-lower / max-of-upper `event_id` bounds == the true range of
  *     ALL physical rows (marked included — footer stats are commit-time)
  *   - `value` appears in null_value_columns iff a physical row has a null
  *     value (NaN rows poison value stats but are NOT nulls)
  *   - per batch: lower ≤ upper and dv_deleted ≤ record_count
  * Deletes use range predicates (`event_id < k` / `>= k`) — the shape the
  * store's DV tier always accepts (DeleteVectorSpec) — so the shadow model
  * and the engine take the same path by construction.
  */
class FilesInventoryPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def cat(): Unit =
    spark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.sources.GraftCatalog].getName)

  sealed private trait Op
  private case class Append(rows: List[(Long, Option[Double])]) extends Op
  private case class Delete(k: Long, lt: Boolean) extends Op
  private case object Compact extends Op

  private val rowGen: Gen[(Long, Option[Double])] = for {
    id <- Gen.choose(0L, 60L)
    v <- Gen.frequency(
      6 -> Gen.choose(-100.0, 100.0).map(Some(_)),
      1 -> Gen.const(Some(Double.NaN)), // poisons value stats, never id's
      2 -> Gen.const(Option.empty[Double]))
  } yield (id, v)

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, rowGen)).map(Append(_)),
    3 -> (for { k <- Gen.choose(0L, 60L); lt <- Gen.oneOf(true, false) }
      yield Delete(k, lt)),
    1 -> Gen.const(Compact))

  private val programGen: Gen[List[Op]] = for {
    init <- Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, rowGen))
    ops <- Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, opGen))
  } yield Append(init) :: ops

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def df(rows: List[(Long, Option[Double])]): DataFrame =
    rows.toDF("event_id", "value")

  test("t@files agrees with the shadow store model under random DML programs") {
    cat()
    checkProp(minTests = 10, p = Prop.forAll(programGen) { program =>
      val t = s"fp${seq.incrementAndGet()}"
      val tbl = s"graft_cat.spec.$t"
      var physical = Vector.empty[(Long, Option[Double])]
      var marked = Set.empty[Int]
      try {
        program.zipWithIndex.foreach {
          case (Append(rows), 0) =>
            df(rows).writeTo(tbl).create()
            physical ++= rows
          case (Append(rows), _) =>
            df(rows).writeTo(tbl).append()
            physical ++= rows
          case (Delete(k, lt), _) =>
            spark.sql(
              s"DELETE FROM $tbl WHERE event_id ${if (lt) "<" else ">="} $k")
            marked ++= physical.zipWithIndex.collect {
              case ((id, _), i) if (lt && id < k) || (!lt && id >= k) => i
            }
          case (Compact, _) =>
            spark.sql(s"CALL graft_cat.system.compact('spec.$t')")
            physical = physical.zipWithIndex
              .collect { case (row, i) if !marked.contains(i) => row }
            marked = Set.empty
        }
        val files = spark.table(s"graft_cat.spec.`$t@files`").collect()
        val physOk = files.map(_.getLong(2)).sum == physical.size.toLong
        val dvOk = files.map(_.getLong(3)).sum == marked.size.toLong
        val liveOk = spark.table(tbl).count() ==
          (physical.size - marked.size).toLong
        val perBatchOk = files.forall { r =>
          val boundsOk = r.isNullAt(4) ||
            !r.getMap[String, String](4).contains("event_id") || {
              val lo = r.getMap[String, String](4)("event_id").toLong
              val hi = r.getMap[String, String](5)("event_id").toLong
              lo <= hi
            }
          boundsOk && r.getLong(3) <= r.getLong(2)
        }
        val ids = physical.map(_._1)
        val lows = files.toSeq.filterNot(_.isNullAt(4))
          .flatMap(_.getMap[String, String](4).get("event_id")).map(_.toLong)
        val highs = files.toSeq.filterNot(_.isNullAt(5))
          .flatMap(_.getMap[String, String](5).get("event_id")).map(_.toLong)
        val rangeOk =
          if (ids.isEmpty) lows.isEmpty && highs.isEmpty
          else lows.min == ids.min && highs.max == ids.max
        val nullColsOk = files.toSeq.filterNot(_.isNullAt(6))
          .flatMap(_.getSeq[String](6)).contains("value") ==
          physical.exists(_._2.isEmpty)
        val ok = physOk && dvOk && liveOk && perBatchOk && rangeOk && nullColsOk
        if (!ok) {
          info(s"program=$program")
          info(s"physOk=$physOk dvOk=$dvOk liveOk=$liveOk " +
            s"perBatchOk=$perBatchOk rangeOk=$rangeOk nullColsOk=$nullColsOk")
        }
        ok
      } finally { scala.util.Try(spark.sql(s"DROP TABLE $tbl")); () }
    })
  }
}
