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
  * delivered) lives in a warehouse batch-id sidecar (streamId
  * `cdc:<consumer>` on the SOURCE table, [[Warehouse.recordBatchId]]), not
  * in any streaming checkpoint, so it is durable, content-derived, and
  * immune to checkpoint loss/rebuild — a rebuilt caller re-reads the cursor
  * and re-delivers NOTHING already recorded. The cursor is at-least-once;
  * [[mirror]] and [[maintainRollup]] are exactly-once by a mark on their
  * TARGET set by the commit that applies the window ([[Warehouse.marks]]).
  *
  * Delivery contract (the foreachBatch contract, made precise):
  *   - windows are CONTIGUOUS, NON-OVERLAPPING and gapless: (c₀,v₁],
  *     (v₁,v₂], … — the fold of all deliveries is exactly
  *     `readChanges(c₀, head)` net of cancellations;
  *   - a window is re-delivered (same bounds, same rows — snapshots are
  *     immutable) only if `apply` did not complete AND the cursor was not
  *     recorded; `apply` should therefore be idempotent per window (the
  *     warehouse write verbs and the mark-guarded consumers below are);
  *   - consumers are independent: each `consumerId` has its own cursor.
  */
object ChangeFeedStream {

  private def sid(consumerId: String) = s"cdc:$consumerId"

  /** The consumer's durable cursor: last source version delivered (the
    * ledger's -1 sentinel means "never consumed").
    */
  def cursor(wh: Warehouse, fact: String, consumerId: String): Long =
    wh.recordedBatchId(fact, sid(consumerId))

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
    * Exactly-once STRUCTURALLY: the window's delta and the applied fact
    * version (the copy's `mirror:<consumer>` mark) land as ONE
    * [[Warehouse.transact]] commit, so there is no crash point at which the
    * data applied but the mark did not. A re-delivered window — including
    * one WIDENED by commits that landed between the crash and the restart —
    * narrows to the uncovered suffix `readChanges(applied, to)` before
    * applying; without the mark a widened window is NOT generally
    * replay-safe (a key changed in the applied prefix and reverted in the
    * suffix nets out of the wide diff and would strand the copy on the
    * pre-revert value — spec-pinned). The mark read is the copy's root
    * header — zero Spark jobs. One maintainer per copy table; a copy still
    * holding an older build's `<copy>__ledger` table is refused.
    *
    * Schema evolution FOLLOWS the feed: the window's from→to schema diff
    * on the fact (matched by the fact's own field ids) replays onto the
    * copy BY NAME — renames rename (the copy keeps the renamed column's
    * values instead of silently nulling a "new" column), adds add, drops
    * drop — before the window's rows apply in the to-schema. The
    * evolution steps are separate crash-resumable commits (see
    * [[replayEvolution]]); only the data delta + mark need the
    * transaction.
    */
  def mirror(wh: Warehouse, fact: String, copy: String, pks: Seq[String],
             consumerId: String): Long =
    poll(wh, fact, consumerId) { (changes0, from0, to) =>
      val key = s"mirror:$consumerId"
      val applied = markedVersion(wh, wh.marks(copy), copy, key, consumerId)(
        Some(s"a ${copy}__ledger table").filter(_ => wh.exists(s"${copy}__ledger")))
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
        wh.transact { tx =>
          tx.equalityDelete(copy, deletes.select(pks.map(col): _*))
          tx.morMerge(copy, inserts, pks)
          tx.mark(copy, key, to.toString)
        }
      }
    }

  /** Version mark `key` of `target` (-1 if unset); refuses `legacy` state. */
  private def markedVersion(wh: Warehouse, marks: Map[String, String], target: String,
                            key: String, consumerId: String)(legacy: => Option[String]): Long =
    marks.get(key).fold {
      legacy.foreach(wh.refuseUnmarked(target, consumerId, _))
      -1L
    }(_.toLong)

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
    * Exactly-once STRUCTURALLY: each tick's partials commit carries the
    * rollup's marks — covered fact version, delivering-tick count, fact and
    * spec — and every later commit (a drain, a compaction) carries them on,
    * so no crash point separates the delta from its progress. The replay
    * guard reads the covered version from the root header (zero Spark jobs),
    * and a re-delivered window WIDENED by commits that landed between the
    * crash and the restart narrows to `readChanges(covered, to)` (spec-
    * pinned). A rollup still holding an older build's `__cfs_v` column or
    * `_stream_cfsmark` sidecar is refused. One maintainer per rollup table
    * (two would double-count by construction).
    *
    * Self-serve drain cadence (opt-in): every `drainEvery`-th delivering tick
    * by the committed count drains the pending side table. A crash before
    * the cursor re-delivers the window uncounted, and the re-run runs the
    * drain the count owes ([[hasPending]] is exact); a call that delivers
    * nothing runs no Spark job.
    */
  def maintainRollup(wh: Warehouse, fact: String, rollup: String,
                     spec: IncrementalRollup.Spec, consumerId: String,
                     drainEvery: Int = 0): Long =
    poll(wh, fact, consumerId) { (changes0, from, to) =>
      val marks = wh.marks(rollup)
      val covered = markedVersion(wh, marks, rollup, Covered, consumerId)(legacyRollup(wh, rollup))
      var ticks = marks.get(Ticks).fold(0L)(_.toLong)
      if (to > covered) {
        val changes = (
          if (covered > from) wh.readChanges(fact, covered, to) else changes0
          ).localCheckpoint() // consumers: window partials + -D extreme gate
        val partials = IncrementalRollup.windowPartials(changes, spec)
        if (!wh.exists(rollup))
          wh.create(rollup, org.apache.spark.sql.types.StructType(
            partials.schema.fields.map(_.copy(nullable = true))))
        ticks += 1
        // fact + spec let policy maintenance drain without this process
        val progress = Map(Covered -> to.toString, Ticks -> ticks.toString,
          FactMark -> fact, SpecMark -> IncrementalRollup.specToString(spec))
        // EXTREMAL measures: the tie-gated affected groups land in the
        // pending side table IN THE SAME transaction as the window partials,
        // so no crash point separates "partials applied" from "damage
        // recorded". The tick itself NEVER rescans the fact;
        // [[drainPendingExtremes]] does, targeted, at its own cadence.
        IncrementalRollup.affectedGroups(wh, rollup, spec, changes) match {
          case None => wh.append(rollup, partials, statsCols = spec.keys, marks = progress)
          case Some(groups) =>
            wh.transact { tx =>
              tx.append(rollup, partials, statsCols = spec.keys)
              progress.foreach { case (k, v) => tx.mark(rollup, k, v) }
              // the marking version keeps a keyless pending row non-empty
              tx.append(pendingTable(rollup), groups.withColumn("__marked_at", lit(to)),
                statsCols = spec.keys)
            }
        }
      }
      if (drainEvery > 0 && ticks % drainEvery == 0)
        drainPendingExtremes(wh, fact, rollup, spec)
    }

  /** Pre-mark progress state on a stream-maintained rollup, if any. */
  private def legacyRollup(wh: Warehouse, rollup: String): Option[String] =
    if (!wh.exists(rollup)) None
    else if (wh.manifestHeader(rollup).schema.fieldNames.contains("__cfs_v"))
      Some("a __cfs_v column")
    else Some("a _stream_cfsmark sidecar").filter(_ => wh.recordedBatchId(rollup, "cfsmark") >= 0)

  /** Does the pending side table hold keys no drain has read? Exact and
    * metadata-only: a drain's clear marks the pending version it read.
    */
  private def hasPending(wh: Warehouse, rollup: String): Boolean = {
    val pend = pendingTable(rollup)
    wh.exists(pend) && {
      val drained = wh.marks(pend).get(Drained).fold(-1L)(_.toLong)
      wh.currentManifest(pend).files.exists(f => f.rows > 0 && f.seq > drained)
    }
  }

  // the rollup's marks, and the pending table's
  private val Covered = "cfs.covered"
  private val Ticks = "cfs.ticks"
  private val FactMark = "cfs.fact"
  private val SpecMark = "cfs.spec"
  private val Drained = "cfs.drained"

  /** [[Warehouse.maintain]]'s entry: drain `rollup`'s pending-extremes side
    * table from its RECORDED fact + spec (the [[maintainRollup]] marks) —
    * a SQL-only operator can repair a stream-maintained rollup they did not
    * build. Returns groups drained; 0 when the rollup is not stream-
    * maintained or nothing pends. Do not race a live tick.
    */
  private[graft] def drainPendingFromMeta(wh: Warehouse, rollup: String): Long = {
    val marks = wh.marks(rollup)
    (marks.get(FactMark), marks.get(SpecMark)) match {
      case (Some(fact), Some(specStr)) if wh.exists(fact) =>
        drainPendingExtremes(wh, fact, rollup, IncrementalRollup.specFromString(specStr))
      case _ => 0L
    }
  }

  /** Side table of affected-group keys awaiting [[drainPendingExtremes]]. */
  def pendingTable(rollup: String): String = s"${rollup}__pending"

  /** Drain the PENDING affected-group set a stream-maintained extremal
    * rollup accumulated ([[maintainRollup]]'s tie-gated side table): each
    * pending group recomputes from the fact snapshot AT THE ROLLUP'S
    * COVERED VERSION (its mark — recomputing at the head would pre-fold
    * windows the stream has not delivered and double-count them on
    * delivery) through [[IncrementalRollup.recompute]], the recompute
    * [[IncrementalRollup.maintainFromChangeFeed]] runs at the head: a
    * bounded non-null key set retracts the groups' fold history, lands the
    * recomputed rows and clears their pending keys in ONE transaction
    * commit; a keyless, null-keyed or over-gate set consolidates by
    * replace, and a crash before its pending clear re-drains idempotently
    * (same covered version, same recompute). The clear marks the pending
    * version the drain read ([[hasPending]]).
    *
    * One maintainer per rollup (the [[maintainRollup]] discipline): the
    * drain must not race a tick. Returns the number of groups drained; a
    * call with nothing pending runs no Spark job.
    */
  def drainPendingExtremes(wh: Warehouse, fact: String, rollup: String,
                           spec: IncrementalRollup.Spec): Long = {
    if (!wh.exists(rollup) || !hasPending(wh, rollup)) return 0L
    val pend = pendingTable(rollup)
    val read = wh.currentVersion(pend)
    val pKeys = wh.loadVersion(pend, read).select(spec.keys.map(col): _*).distinct()
      .localCheckpoint()
    val n = pKeys.count()
    if (n == 0L) return 0L
    val covered = wh.marks(rollup).get(Covered).fold(-1L)(_.toLong)
    require(covered >= 0,
      s"$rollup: no $Covered mark — drainPendingExtremes applies to " +
        "stream-maintained rollups (maintainRollup)")
    IncrementalRollup.recompute(wh, rollup, spec, fact, covered, pKeys,
      carry = None, clear = Seq(pend), marks = Map(pend -> Map(Drained -> read.toString)))
    n
  }
}
