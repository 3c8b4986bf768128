package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

/** Version-to-version CHANGE FEED over a catalog table's commit ledger —
  * the batch half of the CDC surface (the streaming half is
  * [[GraftStoreMicroBatchStream]], which serves append-only commits live
  * and FENCES on rewrites; this reader serves any committed range after
  * the fact, rewrites included). The Delta CDF / Iceberg
  * changelog-scan model: changes are derived from the LEDGER, not from
  * the table state, so the feed is exact for every commit kind:
  *
  *   - append commit (batch list grew, same truncation epoch): the new
  *     batches' rows are `insert`s;
  *   - deletion-vector commit ([[GraftStore.deleteWhere]]): the newly
  *     set bits name the `delete`d rows exactly — the precision a DV
  *     ledger buys CDC (a COW delete must diff whole batch contents);
  *   - MOR row-delta commit with journaled UPDATE lineage
  *     ([[GraftStore.Committed.lineage]]): each updated row renders as
  *     an `update_preimage`/`update_postimage` pair — the Delta CDF
  *     rendering, exact because the DV bits and delta batch are
  *     row-precise;
  *   - truncate-overwrite / COW rewrite / compaction: the pre-image's
  *     live rows are `delete`s and the post-image's are `insert`s (a
  *     COW UPDATE therefore reads as delete+insert, the honest
  *     rendering when the commit does not journal row lineage);
  *   - metadata-only evolution commit (same batches, schema changed):
  *     no row changes.
  *
  * PARTITIONED tables feed from the TABLE-LEVEL ledger
  * ([[GraftCatalog.partVersions]]): each version pins every shard's
  * snapshot, so one table-level commit diffs per shard with the same
  * kind classification — an untouched shard is reference-identical and
  * contributes nothing, a COW-rewritten shard renders delete+insert, a
  * dropped/retired shard renders its pre-image as deletes, a new shard
  * as inserts. That keeps CDC cost proportional to TOUCHED shards.
  *
  * Rows are rendered in the RANGE-END version's logical schema,
  * resolved BY NAME against each source snapshot's own view (a renamed
  * column's pre-rename rows still carry their values — slots are
  * stable; a column absent at some version reads NULL), plus
  * `_change_type` and `_commit_version` metadata columns.
  *
  * Computation is a driver-side walk of the in-JVM snapshot ledger —
  * at 100 TB the identical walk diffs the metadata log's file + DV
  * manifests per commit and plans a distributed scan over exactly the
  * changed files (what `table_changes` does in Delta); the LOGIC —
  * which rows each commit kind contributes — is what this implements
  * and what the gate checks.
  */
object ChangeFeed {

  /** Changes committed by versions (`fromVersion`, `toVersion`] of
    * catalog table `tbl` (e.g. "ns.t" under catalog `graft_cat`).
    */
  def tableChanges(s: SparkSession, tbl: String, fromVersion: Int,
      toVersion: Int, catalog: String = "graft_cat"): DataFrame = {
    val key = s"cat::$catalog.$tbl"
    val size = ledgerSize(key, tbl)
    require(fromVersion >= 0 && toVersion < size && fromVersion <= toVersion,
      s"version range [$fromVersion, $toVersion] out of bounds " +
        s"(table has $size commits)")
    val target =
      if (GraftCatalog.parts.contains(key)) {
        val entry = partHistOf(key, tbl)(toVersion)
        require(entry != null,
          s"version $toVersion expired by retention — the change feed " +
            "renders in the range-end version's schema")
        entry._1
      } else {
        val snap = histOf(key, tbl)(toVersion)
        require(snap != null,
          s"version $toVersion expired by retention — the change feed " +
            "renders in the range-end version's schema")
        snap.schema
      }
    val out = outSchema(target)
    val toExternal = target.fields
      .map(f => CatalystTypeConverters.createToScalaConverter(f.dataType))
    val rows = internalChangesOf(key, tbl, target, fromVersion, toVersion)
      .map { vals =>
        val ext = new Array[Any](out.length)
        var j = 0
        while (j < target.length) {
          ext(j) = if (vals(j) == null) null else toExternal(j)(vals(j))
          j += 1
        }
        ext(target.length) = vals(target.length).toString // UTF8String → String
        ext(target.length + 1) = vals(target.length + 1)
        Row.fromSeq(ext.toIndexedSeq)
      }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out)
  }

  /** Changes committed strictly AFTER wall-clock `start`, up to `end`
    * (or the ledger head) — the `startingTimestamp` spelling every
    * operator scheduling "changes since yesterday" reaches for
    * (Iceberg/Delta both accept timestamps on CDC reads). Bounds
    * resolve through the SAME commit-millis ledgers `TIMESTAMP AS OF`
    * reads ([[versionAtOrBefore]]): the start version is the commit
    * AT OR BEFORE `start` — the state current at that instant — and
    * the feed is the half-open ordinal range (start, end], so a bound
    * captured between two commits yields exactly the later commits'
    * changes. A start predating the first commit clamps to the
    * creation version; an END bound predating every commit refuses
    * loudly (an empty answer would read as "no changes" when the real
    * answer is "the range is unaddressable"). Versions inside the
    * range that retention expired refuse through the walk's existing
    * both-sides-live check.
    */
  def tableChangesSince(s: SparkSession, tbl: String, start: String,
      end: Option[String] = None, catalog: String = "graft_cat")
      : DataFrame = {
    val key = s"cat::$catalog.$tbl"
    val fromVersion = math.max(0, versionAtOrBefore(key, tbl, start))
    val toVersion = end match {
      case None => ledgerSize(key, tbl) - 1
      case Some(e) =>
        val v = versionAtOrBefore(key, tbl, e)
        require(v >= 0,
          s"graft cdc: no commit of '$tbl' at or before end bound '$e'")
        v
    }
    require(fromVersion <= toVersion,
      s"graft cdc: start bound '$start' resolves past end " +
        s"(versions $fromVersion > $toVersion)")
    tableChanges(s, tbl, fromVersion, toVersion, catalog)
  }

  /** Resolve a wall-clock bound (UTC 'yyyy-MM-dd HH:mm:ss[.SSS]' or
    * epoch millis) to the LAST version committed at or before it
    * (-1 = before every commit), through the commit-millis ledger of
    * either table shape — one resolution shim, one serving path.
    */
  private[sources] def versionAtOrBefore(key: String, tbl: String,
      bound: String): Int = {
    val ms = parseWallClockMillis(bound)
    val times =
      if (GraftCatalog.parts.contains(key))
        GraftCatalog.partVersionTimes.getOrElse(key,
          throw new IllegalStateException(s"no catalog table '$tbl'"))
      else GraftStore.historyTimes.getOrElse(key,
        throw new IllegalStateException(s"no catalog table '$tbl'"))
    times.lastIndexWhere(_ <= ms)
  }

  /** THE wall-clock bound grammar, shared by CDC bounds and
    * `expire_older_than` (one copy — review r20): non-empty
    * (optionally signed) digits = epoch millis, else a UTC
    * 'yyyy-MM-dd HH:mm:ss[.SSS]' literal; anything else refuses with
    * the format hint. `what` names the bound in the refusal.
    */
  private[sources] def parseWallClockMillis(bound: String,
      what: String = "timestamp bound"): Long = {
    val b = bound.trim
    if (b.matches("-?\\d{1,18}")) b.toLong
    else try {
      val fmt = new java.time.format.DateTimeFormatterBuilder()
        .appendPattern("yyyy-MM-dd HH:mm:ss")
        .optionalStart().appendFraction(
          java.time.temporal.ChronoField.MILLI_OF_SECOND,
          1, 3, true).optionalEnd()
        .toFormatter()
      java.time.LocalDateTime.parse(b, fmt)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"graft: cannot parse $what '$b' — use UTC " +
            "'yyyy-MM-dd HH:mm:ss[.SSS]' or epoch millis", e)
    }
  }

  private[sources] def histOf(key: String, tbl: String)
      : Vector[GraftStore.Committed] =
    GraftStore.history.getOrElse(key,
      throw new IllegalStateException(s"no catalog table '$tbl'"))

  private[sources] def partHistOf(key: String, tbl: String)
      : Vector[(StructType, Map[String, GraftStore.Committed])] =
    GraftCatalog.partVersions.getOrElse(key,
      throw new IllegalStateException(s"no catalog table '$tbl'"))

  /** ledger length (commit count) for either table shape. */
  private[sources] def ledgerSize(key: String, tbl: String): Int =
    if (GraftCatalog.parts.contains(key)) partHistOf(key, tbl).size
    else histOf(key, tbl).size

  /** the ledger walk for either table shape, internal value domain. */
  private[sources] def internalChangesOf(key: String, tbl: String,
      target: StructType, fromVersion: Int, toVersion: Int)
      : Array[Array[Any]] =
    if (GraftCatalog.parts.contains(key))
      partInternalChanges(partHistOf(key, tbl), target, fromVersion, toVersion)
    else
      internalChanges(histOf(key, tbl), target, fromVersion, toVersion)

  private[sources] def outSchema(target: StructType): StructType =
    StructType(target.fields)
      .add("_change_type", StringType, nullable = false)
      .add("_commit_version", IntegerType, nullable = false)

  /** A row renderer for (`snap`, `target`): maps physical rows of
    * `snap` into `target`'s shape, with change-type and commit-version
    * metadata appended. Resolution is NAME-FIRST over the snapshot's
    * own view, then — for target fields the snapshot's schema does not
    * name (a column RENAMED after `snap` was committed) — by SLOT
    * through `endSnap`, the SAME STORE's range-end snapshot: slots are
    * stable within a store lineage, so the renamed column keeps serving
    * its pre-rename values (the field-id contract), while a column that
    * genuinely post-dates the snapshot reads the range-end existence
    * default (`endPad`) — a fresh slot is beyond every older row's
    * width, so DROP + re-ADD can never resurrect. The composed
    * projection is computed ONCE here, not per row.
    */
  private def render(snap: GraftStore.Committed, endPad: Array[Any],
      target: StructType, endSnap: Option[GraftStore.Committed])
      : (Array[Any], String, Int) => Array[Any] = {
    val (proj, pad) = GraftStore.composeProjection(snap, target, endPad)
    // the slot fallback is only sound within ONE slot lineage: a
    // truncate-publish (compaction, clustering, COW rewrite) resets
    // physical slots to identity, so a slot index borrowed from the
    // range-end snapshot across that reset could address a DIFFERENT
    // column of the older row — e.g. serve a DROPPED column's values
    // under a post-reset ADDed name. The lineage token gates it.
    endSnap.filter(e =>
      snap.layoutId != null && (e.layoutId eq snap.layoutId)).foreach { e =>
      val eProj = e.projection
      val ePad = e.logicalPad
      var j = 0
      while (j < target.length) {
        if (proj(j) < 0) {
          // resolve the target field in the fallback snapshot BY NAME
          // (its schema need not align with `target` positionally —
          // e.g. a per-commit walk passes an OLDER snapshot), then
          // borrow that field's SLOT: within one lineage the slot is
          // the field id, so a renamed column keeps serving its
          // pre-rename values
          val ei = e.schema.fieldNames
            .indexWhere(_.equalsIgnoreCase(target.fields(j).name))
          if (ei >= 0 && ei < eProj.length) {
            proj(j) = eProj(ei)
            pad(j) = ePad(ei)
          }
        }
        j += 1
      }
    }
    (row: Array[Any], change: String, version: Int) => {
      val vals = new Array[Any](target.length + 2)
      var j = 0
      while (j < target.length) {
        val sl = proj(j)
        vals(j) = if (sl >= 0 && sl < row.length) row(sl) else pad(j)
        j += 1
      }
      vals(target.length) =
        org.apache.spark.unsafe.types.UTF8String.fromString(change)
      vals(target.length + 1) = version
      vals
    }
  }

  private def liveRows(snap: GraftStore.Committed): Iterator[Array[Any]] =
    snap.batches.iterator.zipWithIndex.flatMap { case (batch, bi) =>
      val bits = snap.readDvs.get(bi).map(java.util.BitSet.valueOf).orNull
      batch.iterator.zipWithIndex.collect {
        case (row, r) if bits == null || !bits.get(r) => row
      }
    }

  /** Diff ONE (prev, cur) snapshot pair at version `v` into `changes` —
    * the per-commit-kind rendering shared by the unpartitioned walk and
    * the partitioned per-shard walk.
    */
  private def diffCommit(prev: GraftStore.Committed,
      cur: GraftStore.Committed, v: Int, target: StructType,
      endPad: Array[Any],
      changes: scala.collection.mutable.ArrayBuffer[Array[Any]],
      endSnap: Option[GraftStore.Committed]): Unit = {
    // composed slot projections hoisted once per diffed commit — the
    // per-row work is a plain array-indexed gather
    lazy val rPrev = render(prev, endPad, target, endSnap)
    lazy val rCur = render(cur, endPad, target, endSnap)
    /** newly DV'd rows of `cur` vs `prev` as deletes (rendered from the
      * pre-image snapshot — that's what the rows meant when live).
      */
    def dvDeltaDeletes(exclude: Set[Long]): Unit =
      cur.batches.zipWithIndex.foreach { case (batch, bi) =>
        val now = cur.readDvs.get(bi).map(java.util.BitSet.valueOf).orNull
        if (now != null) {
          val before = prev.readDvs.get(bi).map(java.util.BitSet.valueOf).orNull
          var r = now.nextSetBit(0)
          while (r >= 0) {
            if ((before == null || !before.get(r)) &&
                !exclude.contains(bi.toLong << 32 | r.toLong))
              changes += rPrev(batch(r), "delete", v)
            r = now.nextSetBit(r + 1)
          }
        }
      }
    GraftStore.classifyCommit(prev, cur) match {
      case "rewrite" =>
        // full pre-image deletes + post-image inserts
        liveRows(prev).foreach(r => changes += rPrev(r, "delete", v))
        liveRows(cur).foreach(r => changes += rCur(r, "insert", v))
      case "append" =>
        cur.batches.drop(prev.batches.size).foreach(_.foreach(r =>
          changes += rCur(r, "insert", v)))
      case "delete-vectors" =>
        dvDeltaDeletes(Set.empty)
      case "equality-delete" =>
        // resolved through the READER view: the newly matched rows are
        // exactly the delta between the two snapshots' readDvs — the
        // feed renders row-exact deletes even though the commit itself
        // never resolved a position
        dvDeltaDeletes(Set.empty)
      case "row-delta" =>
        // a MOR WriteDelta commit journals its UPDATE lineage
        // ([[GraftStore.Committed.lineage]]): each (old position →
        // delta-batch index) pair renders as update_preimage /
        // update_postimage — the Delta CDF model, possible here
        // because DV bits + the delta batch are row-exact. The
        // REMAINING DV delta is genuine deletes, the REMAINING delta
        // rows genuine inserts — row-precise, where a COW format must
        // diff whole file contents.
        val lin = cur.lineage
        val newRows = cur.batches.drop(prev.batches.size).flatten
        lin.foreach { case (pos, i) =>
          val bi = (pos >>> 32).toInt
          val r = pos.toInt
          changes += rPrev(prev.batches(bi)(r), "update_preimage", v)
          changes += rCur(newRows(i), "update_postimage", v)
        }
        dvDeltaDeletes(exclude = lin.map(_._1).toSet)
        val linIdx = lin.map(_._2).toSet
        newRows.zipWithIndex.foreach { case (r, i) =>
          if (!linIdx.contains(i))
            changes += rCur(r, "insert", v)
        }
      case _ => // evolve/unknown: metadata only — no row changes
    }
  }

  /** The ledger walk shared by the batch API and the `t@changes` CDC
    * table: rows in the INTERNAL value domain (UTF8String etc.), shaped
    * to `target` by name, with `_change_type` (UTF8String) and
    * `_commit_version` (Int) appended.
    */
  private[sources] def internalChanges(hist: Vector[GraftStore.Committed],
      target: StructType, fromVersion: Int, toVersion: Int)
      : Array[Array[Any]] = {
    (((fromVersion + 1) max 1) to toVersion).foreach(v => require(
      hist(v) != null && hist(v - 1) != null,
      s"version ${v - 1} or $v expired by retention — change feed " +
        "needs both sides of every diffed commit"))

    // the slot/default RESOLVER is the snapshot `target` was DERIVED
    // from. The batch API renders in hist(toVersion)'s schema, so a
    // bounded range ending before a later RENAME must resolve by name
    // against THAT snapshot (the latest one no longer carries the old
    // name and would render endPad where the slot still bridges —
    // ADVICE r17). The per-commit streaming walk's target is the
    // CURRENT schema, so there the latest live snapshot resolves (an
    // older one can neither name a later-renamed column nor align
    // positionally with today's target). Schema identity is the tell:
    // prefer hist(toVersion) exactly when target came from it.
    // Existence defaults align to `target` by name either way: a row
    // from a snapshot predating a DEFAULT'd column renders the default.
    val endSnap = {
      val atEnd = if (toVersion < hist.size) hist(toVersion) else null
      if (atEnd != null && atEnd.schema == target) atEnd
      else hist.reverseIterator.find(_ != null).orNull
    }
    val endPad: Array[Any] =
      if (endSnap == null) new Array[Any](target.length)
      else {
        val pad = endSnap.logicalPad
        target.fields.map { f =>
          val i = endSnap.schema.fieldNames
            .indexWhere(_.equalsIgnoreCase(f.name))
          if (i < 0 || i >= pad.length) null else pad(i)
        }
      }
    val changes = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
    (((fromVersion + 1) max 1) to toVersion).foreach { v =>
      diffCommit(hist(v - 1), hist(v), v, target, endPad, changes,
        endSnap = Option(endSnap))
    }
    changes.toArray
  }

  /** The PARTITIONED ledger walk: each table-level commit diffs per
    * shard. Untouched shards are reference-identical snapshots (`eq`)
    * and contribute nothing — CDC cost ∝ touched shards, the
    * changed-manifests property of a real changelog scan. A shard
    * absent on one side renders whole (created → inserts, dropped →
    * pre-image deletes). Shards evolve in LOCKSTEP with the table
    * schema (alterTable applies the slot commit per shard), and each
    * snapshot renders through its own composed slot map — so rows from
    * a shard layout that predates an ADD COLUMN render the range-end
    * EXISTENCE DEFAULT, exactly how those rows read today.
    */
  private[sources] def partInternalChanges(
      ledger: Vector[(StructType, Map[String, GraftStore.Committed])],
      target: StructType, fromVersion: Int, toVersion: Int)
      : Array[Array[Any]] = {
    (((fromVersion + 1) max 1) to toVersion).foreach(v => require(
      ledger(v) != null && ledger(v - 1) != null,
      s"version ${v - 1} or $v expired by retention — change feed " +
        "needs both sides of every diffed commit"))
    val endPad = GraftStore.existencePad(target)
    val changes = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
    // slot-fallback reference: the SAME shard's snapshot at the ledger
    // entry `target` derives from — ledger(toVersion) for the batch
    // API's bounded range (so a RENAME landing after toVersion cannot
    // orphan the by-name lookup — ADVICE r17, flat-path twin), the
    // latest live entry for the streaming walk whose target is the
    // current schema. Absent shard (dropped before the resolver
    // entry) → no slot bridge, reads endPad.
    val endShards: Map[String, GraftStore.Committed] = {
      val atEnd = if (toVersion < ledger.size) ledger(toVersion) else null
      if (atEnd != null && atEnd._1 == target) atEnd._2
      else ledger.reverseIterator.find(_ != null).map(_._2)
        .getOrElse(Map.empty)
    }
    (((fromVersion + 1) max 1) to toVersion).foreach { v =>
      val (_, prevShards) = ledger(v - 1)
      val (_, curShards) = ledger(v)
      (prevShards.keySet ++ curShards.keySet).toSeq.sorted.foreach { pv =>
        val endSnap = endShards.get(pv)
        (prevShards.get(pv), curShards.get(pv)) match {
          case (Some(p), Some(c)) if p eq c => // untouched shard
          case (Some(p), Some(c)) =>
            diffCommit(p, c, v, target, endPad, changes, endSnap)
          case (None, Some(c)) =>
            val rC = render(c, endPad, target, endSnap)
            liveRows(c).foreach(r => changes += rC(r, "insert", v))
          case (Some(p), None) =>
            val rP = render(p, endPad, target, endSnap)
            liveRows(p).foreach(r => changes += rP(r, "delete", v))
          case _ =>
        }
      }
    }
    changes.toArray
  }
}
