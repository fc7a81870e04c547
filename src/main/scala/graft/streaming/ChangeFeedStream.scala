package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sink.{IncrementalRollup, Warehouse}

/** The change feed as a STREAMING SOURCE: a version-ledger loop that turns
  * [[graft.sink.Warehouse.readChanges]] (pull-only, exact, O(changed
  * files)) into an incremental consumer API — each snapshot commit's
  * `+I`/`-D` rows delivered once, in order, across restarts, feeding
  * [[RollupStream]]-style downstream materializations.
  *
  * This is [[EventStream]]`.incrementalLoad`'s ledger discipline applied to
  * SNAPSHOT VERSIONS instead of files: the cursor (last source version
  * delivered) lives in the warehouse batch ledger (streamId
  * `cdc:<consumer>` on the SOURCE table), not in any streaming checkpoint,
  * so it is durable, content-derived, and immune to checkpoint
  * loss/rebuild — a rebuilt caller re-reads the cursor and re-delivers
  * NOTHING already recorded.
  *
  * Delivery contract (the foreachBatch contract, made precise):
  *   - windows are CONTIGUOUS, NON-OVERLAPPING and gapless: (c₀,v₁],
  *     (v₁,v₂], … — the fold of all deliveries is exactly
  *     `readChanges(c₀, head)` net of cancellations;
  *   - a window is re-delivered (same bounds, same rows — snapshots are
  *     immutable) only if `apply` did not complete AND the cursor was not
  *     recorded; `apply` should therefore be idempotent per window (the
  *     warehouse write verbs and the ledger-guarded rollup below are);
  *   - consumers are independent: each `consumerId` has its own cursor.
  */
object ChangeFeedStream {

  private def sid(consumerId: String) = s"cdc:$consumerId"

  /** The consumer's durable cursor: last source version delivered (the
    * ledger's -1 sentinel means "never consumed").
    */
  def cursor(wh: Warehouse, fact: String, consumerId: String): Long =
    wh.lastCommittedBatchId(fact, sid(consumerId))

  /** Point a NEW consumer at `fromVersion` without delivering anything —
    * e.g. 0 to stream history from the first snapshot, or `currentVersion`
    * to consume only future commits.
    */
  def seek(wh: Warehouse, fact: String, consumerId: String, fromVersion: Long): Unit =
    wh.recordBatchId(fact, sid(consumerId), fromVersion)

  /** One poll: if commits landed past the cursor, hand `apply` the exact
    * `+I`/`-D` rows of the window (cursor, head] — `readChanges` cost:
    * O(changed files), never the table — then advance the cursor. A
    * consumer that was never seeked starts at version 0 (for tables born
    * with `create` that snapshot is empty, so it streams the whole
    * history). Returns the new cursor; a poll with nothing new applies
    * nothing and returns the cursor unchanged.
    */
  def poll(wh: Warehouse, fact: String, consumerId: String)
          (apply: (DataFrame, Long, Long) => Unit): Long = {
    val from = math.max(0L, cursor(wh, fact, consumerId))
    val head = wh.currentVersion(fact)
    if (head > from) {
      apply(wh.readChanges(fact, from, head), from, head)
      wh.recordBatchId(fact, sid(consumerId), head)
    }
    math.max(from, head)
  }

  /** Maintain a MATERIALIZED COPY of the fact from its feed: `+I` rows
    * merge in, `-D` rows are removed — the downstream-table shape of CDC
    * consumption. The copy table converges to `loadVersion(fact, cursor)`
    * after every poll (spec-pinned), so a downstream system can follow a
    * 100 TB table at O(changes) cost per poll with no full-table sync.
    *
    * Exactly-once STRUCTURALLY: the window's delta and the applied-version
    * marker (`<copy>__ledger`, consumer → fact version) land as ONE
    * [[Warehouse.transact]] commit, so there is no crash point at which
    * the data applied but the marker did not. A re-delivered window —
    * including one WIDENED by commits that landed between the crash and
    * the restart — narrows to the uncovered suffix
    * `readChanges(applied, to)` before applying; without the marker a
    * widened window is NOT generally replay-safe (a key changed in the
    * applied prefix and reverted in the suffix nets out of the wide diff
    * and would strand the copy on the pre-revert value — spec-pinned).
    * The marker read is manifest-stat bounds on `v` — zero Spark jobs.
    * One maintainer per copy table, which the single-consumer marker
    * already implies.
    *
    * Schema evolution FOLLOWS the feed: the window's from→to schema diff
    * on the fact (matched by the fact's own field ids) replays onto the
    * copy BY NAME — renames rename (the copy keeps the renamed column's
    * values instead of silently nulling a "new" column), adds add, drops
    * drop — before the window's rows apply in the to-schema. The
    * evolution steps are separate crash-resumable commits (see
    * [[replayEvolution]]); only the data delta + marker need the
    * transaction.
    */
  def mirror(wh: Warehouse, fact: String, copy: String, pks: Seq[String],
             consumerId: String): Long =
    poll(wh, fact, consumerId) { (changes0, from0, to) =>
      val ledger = s"${copy}__ledger"
      val applied = statMarker(wh, ledger, "v")
      if (to > applied) {
        val from = math.max(from0, applied)
        val changes = if (from > from0) wh.readChanges(fact, from, to) else changes0
        val toSchema = wh.manifestAt(fact, to).schema
        if (!wh.exists(copy)) wh.create(copy, toSchema)
        else replayEvolution(wh, copy, wh.manifestAt(fact, from).schema, toSchema)
        val inserts = changes.filter(col("_change_type") === "+I").drop("_change_type")
        val deletes = changes.filter(col("_change_type") === "-D").drop("_change_type")
        // order within the window is the txn's snapshot-at-start rule: both
        // delete files (the -D keys and morMerge's pk keys) apply to
        // PRE-transaction rows only, so a key updated in the window has its
        // old row killed and its new row shielded
        val delKeys = deletes.select(pks.map(col): _*)
        val spark = changes.sparkSession
        val row = spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(consumerId, to)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("consumer",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.LongType))))
        wh.transact { tx =>
          tx.equalityDelete(copy, delKeys)
          tx.morMerge(copy, inserts, pks)
          if (wh.exists(ledger)) tx.morMerge(ledger, row, Seq("consumer"))
          else tx.append(ledger, row, statsCols = Seq("consumer", "v"))
        }
      }
    }

  /** Highest manifest-stat upper bound of numeric column `col` across a
    * table's files, -1 when absent — the zero-Spark-job read of a
    * monotone high-water marker committed WITH the data it covers
    * (morMerge leaves superseded marker rows in older files, but a
    * monotone marker's max is the live one).
    */
  private def statMarker(wh: Warehouse, table: String, col: String): Long =
    if (!wh.exists(table)) -1L
    else {
      val m = wh.currentManifest(table)
      if (!m.schema.fieldNames.contains(col)) -1L
      else m.files.flatMap(_.stats.get(col))
        .collect { case graft.sink.ColStat("n", _, mx, _) if mx.nonEmpty =>
          new java.math.BigDecimal(mx).longValue() }
        .foldLeft(-1L)(math.max)
    }

  /** Replay the fact's from→to schema diff onto the copy, by name. Fields
    * pair across the window by the FACT's field ids (the copy's own ids
    * are an independent space — only names/types must track).
    *
    * CRASH-IDEMPOTENT by construction: each step is a durable commit, and
    * a re-delivered window (crash anywhere inside) resumes exactly where
    * it stopped —
    *   - DROPS run FIRST, so a window combining `DROP b` with
    *     `RENAME a TO b` (legal name reuse across two fact commits) never
    *     collides on the occupied name;
    *   - renames are two-phase through a TARGET-DERIVED temp name
    *     (`__cfs_ren_<hex(target)>`), and each phase is state-probed: a
    *     rename old→new applies old→temp only while `old` exists and
    *     temp→new only while the temp exists, so a crash between the
    *     phases resumes from the temp instead of stranding it (and a
    *     completed rename is simply skipped). Pairwise swaps a↔b stay
    *     collision-free because every old vacates into its own temp before
    *     any temp lands on its target.
    */
  private def replayEvolution(wh: Warehouse, copy: String,
                              fromSchema: org.apache.spark.sql.types.StructType,
                              toSchema: org.apache.spark.sql.types.StructType): Unit = {
    if (fromSchema == toSchema) return
    val IdKey = "parquet.field.id"
    def idOf(f: org.apache.spark.sql.types.StructField): Option[Long] =
      if (f.metadata.contains(IdKey)) Some(f.metadata.getLong(IdKey)) else None
    val fromById = fromSchema.fields.flatMap(f => idOf(f).map(_ -> f)).toMap
    val toById = toSchema.fields.flatMap(f => idOf(f).map(_ -> f)).toMap
    def copyCols = wh.currentManifest(copy).schema.fieldNames.toSet
    // drops first (see scaladoc): ids present in `from` but gone in `to`
    val dropped = fromById.collect { case (id, f)
      if !toById.contains(id) && copyCols.contains(f.name) => f.name }
    if (dropped.nonEmpty) {
      // a pending equality delete keyed on the doomed column blocks the
      // drop; materialize first (bounded by the copy's own pending set)
      if (wh.currentManifest(copy).deletes.exists(_.cols.exists(dropped.toSet)))
        wh.compactDeletes(copy)
      dropped.foreach(wh.dropColumn(copy, _))
    }
    // renames: paired purely by fact ids (no liveness filter — resumption
    // must see a rename whose `old` already vacated), temp derived from the
    // TARGET so a resumed window recomputes the same temp
    val renames = toById.toSeq.flatMap { case (id, g) =>
      fromById.get(id).filter(_.name != g.name).map(f => f.name -> g.name)
    }
    def tempOf(target: String) =
      "__cfs_ren_" + target.getBytes("UTF-8").map("%02x".format(_)).mkString
    locally {
      val cols = copyCols
      renames.foreach { case (old, nw) =>
        if (cols.contains(old)) wh.renameColumn(copy, old, tempOf(nw)) }
    }
    locally {
      val cols = copyCols
      renames.foreach { case (_, nw) =>
        if (cols.contains(tempOf(nw))) wh.renameColumn(copy, tempOf(nw), nw) }
    }
    wh.addMissingColumns(copy, toSchema)
  }

  /** Maintain an ADDITIVE rollup from the feed — the CDC generalization of
    * [[graft.sink.IncrementalRollup.maintainFromFeed]], which requires an
    * append-only fact: here merges, MOR upserts, row deletes and
    * compactions all maintain EXACTLY, because `+I` rows add their
    * contribution and `-D` rows subtract theirs (count → ±1, sum → ±value,
    * [[IncrementalRollup.windowPartials]]). Min/max are not subtractable:
    * a tick folds the window's `+I` candidates, and the groups where a `-D`
    * ties the stored extreme ([[IncrementalRollup.affectedGroups]]) land in
    * the pending side table for [[drainPendingExtremes]]. The rollup table
    * holds these partials, folded by [[IncrementalRollup.read]]'s merge
    * exactly as batch partials are.
    *
    * Exactly-once STRUCTURALLY: each partials batch carries the covered
    * source version as a `__cfs_v` column, so the delta and its own
    * watermark are THE SAME COMMIT — there is no crash point at which one
    * landed without the other (the window the original append-then-record
    * design had). The replay guard reads the high-water mark from the
    * rollup manifest's `__cfs_v` stat bounds — zero Spark jobs, O(files)
    * metadata — and a re-delivered window WIDENED by commits that landed
    * between the crash and the restart narrows to the uncovered suffix
    * `readChanges(marker, to)`, so the covered prefix never double-applies
    * (spec-pinned). [[IncrementalRollup.read]]'s keyed fold ignores the
    * extra column. Legacy rollups (pre-marker) upgrade in place with a
    * metadata-only ADD COLUMN and keep their file-ledger guard for history
    * already covered. One maintainer per rollup table (two would
    * double-count by construction — same as the ledger it replaces);
    * compact a CDC-maintained rollup with `compactFiles` (content-
    * preserving), not [[IncrementalRollup.compact]], whose keyed re-fold
    * would drop the marker column.
    */
  def maintainRollup(wh: Warehouse, fact: String, rollup: String,
                     spec: IncrementalRollup.Spec, consumerId: String,
                     drainEvery: Int = 0): Long =
    poll(wh, fact, consumerId) { (changes0, from, to) =>
      val recorded = math.max(
        math.max(
          wh.lastCommittedBatchId(rollup, sid(consumerId)), // legacy file ledger
          wh.lastCommittedBatchId(rollup, MarkSid)), // drain-preserved watermark
        statMarker(wh, rollup, VCol))
      if (to > recorded) {
        val changes = (
          if (recorded > from) wh.readChanges(fact, recorded, to) else changes0
          ).localCheckpoint() // consumers: window partials + -D extreme gate
        val partials = IncrementalRollup.windowPartials(changes, spec).withColumn(VCol, lit(to))
        if (!wh.exists(rollup))
          wh.create(rollup, org.apache.spark.sql.types.StructType(
            partials.schema.fields.map(_.copy(nullable = true))))
        else if (!wh.currentManifest(rollup).schema.fieldNames.contains(VCol))
          wh.addColumns(rollup, Seq(org.apache.spark.sql.types.StructField(
            VCol, org.apache.spark.sql.types.LongType))) // legacy upgrade, metadata-only
        // durable discovery state: record the fact + spec beside the rollup
        // so policy maintenance ([[Warehouse.maintain]]) can drain the
        // pending side table without this maintainer process (one tiny
        // sidecar read per tick; rewritten only when stale)
        val specStr = IncrementalRollup.specToString(spec)
        if (!wh.getTableMeta(rollup, CfsSpecKey).contains(specStr))
          wh.putTableMeta(rollup, CfsSpecKey, specStr)
        if (!wh.getTableMeta(rollup, CfsFactKey).contains(fact))
          wh.putTableMeta(rollup, CfsFactKey, fact)
        // EXTREMAL measures: the tie-gated affected groups land in the
        // pending side table IN THE SAME transaction as the window partials,
        // so no crash point separates "partials applied" from "damage
        // recorded". The tick itself NEVER rescans the fact;
        // [[drainPendingExtremes]] does, targeted, at its own cadence.
        IncrementalRollup.affectedGroups(wh, rollup, spec, changes) match {
          case None => wh.append(rollup, partials, statsCols = spec.keys :+ VCol)
          case Some(groups) =>
            wh.transact { tx =>
              tx.append(rollup, partials, statsCols = spec.keys :+ VCol)
              tx.append(pendingTable(rollup), groups.withColumn(VCol, lit(to)),
                statsCols = spec.keys)
            }
        }
      }
      // Self-serve drain cadence (opt-in): every `drainEvery` DELIVERING
      // ticks, drain the pending side table — a long-running maintainer no
      // longer relies on an external caller remembering the drain. The
      // drain and then the counter land BEFORE `poll` records the cursor, so
      // a crash anywhere up to the counter re-delivers this window and
      // re-runs the drain it owes (`CrashMatrixSpec`); a crash between the
      // counter and the cursor counts the window twice, which shifts an
      // N > 1 cadence one tick early. The pending gate is metadata-only
      // (manifest row counts), and a call that delivers nothing never gets
      // here, so idle calls run no Spark job; the "one maintainer per
      // rollup" discipline already makes the tick the safe place to drain
      // from.
      if (drainEvery > 0) {
        val t = math.max(0L, wh.lastCommittedBatchId(rollup, TickSid)) + 1
        if (t % drainEvery == 0 && hasPending(wh, rollup))
          drainPendingExtremes(wh, fact, rollup, spec)
        wh.recordBatchId(rollup, TickSid, t)
      }
    }

  /** Metadata-only probe: does the pending side table carry any live rows?
    * Conservative (MOR retractions may cover every data row, in which case
    * the drain itself counts zero and returns) but zero Spark jobs.
    */
  private def hasPending(wh: Warehouse, rollup: String): Boolean =
    wh.exists(pendingTable(rollup)) &&
      wh.currentManifest(pendingTable(rollup)).files.exists(_.rows > 0)

  private val VCol = IncrementalRollup.MarkerCol
  /** Drain-preserved watermark ledger (fixed streamId — the one-maintainer
    * discipline makes it single-writer): records the covered version
    * independently of the rollup's `__cfs_v` stat bounds, so a drain that
    * retracts a group with NO surviving fact rows (removing the rows that
    * uniquely carried the max marker stat) can never regress the replay
    * watermark and let a crash-replayed tick double-apply a window.
    */
  private val MarkSid = "cfsmark"
  /** Auto-drain tick counter ledger for [[maintainRollup]]'s `drainEvery`. */
  private val TickSid = "cfstick"
  /** Table-meta keys recording the rollup's fact + serialized spec (read by
    * [[Warehouse.maintain]] to drain the pending side table policy-side).
    */
  private[graft] val CfsSpecKey = "cfs_spec"
  private[graft] val CfsFactKey = "cfs_fact"

  /** [[Warehouse.maintain]]'s entry: drain `rollup`'s pending-extremes side
    * table from its RECORDED fact + spec (the [[maintainRollup]] sidecars) —
    * a SQL-only operator can repair a stream-maintained rollup they did not
    * build. Returns groups drained; 0 when the rollup is not
    * stream-maintained (no sidecars) or nothing pends. Same one-maintainer
    * caveat as [[drainPendingExtremes]]: do not race a live tick.
    */
  private[graft] def drainPendingFromMeta(wh: Warehouse, rollup: String): Long =
    (wh.getTableMeta(rollup, CfsFactKey), wh.getTableMeta(rollup, CfsSpecKey)) match {
      case (Some(fact), Some(specStr)) if wh.exists(fact) =>
        drainPendingExtremes(wh, fact, rollup, IncrementalRollup.specFromString(specStr))
      case _ => 0L
    }
  /** Side table of affected-group keys awaiting [[drainPendingExtremes]]. */
  def pendingTable(rollup: String): String = s"${rollup}__pending"

  /** Drain the PENDING affected-group set a stream-maintained extremal
    * rollup accumulated ([[maintainRollup]]'s tie-gated side table): each
    * pending group recomputes from the fact snapshot AT THE ROLLUP'S
    * COVERED VERSION (the `__cfs_v` marker — recomputing at the head would
    * pre-fold windows the stream has not delivered and double-count them
    * on delivery) through [[IncrementalRollup.recompute]], the recompute
    * [[IncrementalRollup.maintainFromChangeFeed]] runs at the head: a
    * bounded non-null key set retracts the groups' fold history, lands the
    * recomputed rows (stamped with the marker, so the replay watermark
    * survives any later compaction of the original marker files) and clears
    * their pending keys in ONE transaction commit; a keyless, null-keyed or
    * over-gate set consolidates by replace, and a crash before its pending
    * clear re-drains idempotently (same marker, same recompute).
    *
    * One maintainer per rollup (the [[maintainRollup]] discipline): the
    * drain must not race a tick. Returns the number of groups drained.
    */
  def drainPendingExtremes(wh: Warehouse, fact: String, rollup: String,
                           spec: IncrementalRollup.Spec): Long = {
    val pend = pendingTable(rollup)
    if (!wh.exists(pend) || !wh.exists(rollup)) return 0L
    val pKeys = wh.load(pend).select(spec.keys.map(col): _*).distinct().localCheckpoint()
    val n = pKeys.count()
    if (n == 0L) return 0L
    val marker = math.max(statMarker(wh, rollup, VCol),
      wh.lastCommittedBatchId(rollup, MarkSid))
    require(marker >= 0,
      s"$rollup: no $VCol marker — drainPendingExtremes applies to " +
        "stream-maintained rollups (maintainRollup)")
    // Preserve the replay watermark INDEPENDENTLY of group rows, BEFORE any
    // retraction commits: a drained group with no surviving fact rows gets
    // retracted with no replacement, and if its rows uniquely carried the
    // max __cfs_v stat the marker would regress — a crash-replayed tick
    // (to > recorded) could then re-apply already-applied signed partials.
    // Recording the CURRENT covered version is always safe (it is already
    // covered), and a crash at any later point leaves it durable.
    wh.recordBatchId(rollup, MarkSid, marker)
    IncrementalRollup.recompute(wh, rollup, spec, fact, marker, pKeys,
      carry = None, clear = Seq(pend))
    n
  }
}
