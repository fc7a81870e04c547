package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.SchemaOps

/** Merge-on-read delete verbs: equality deletes, positional
  * deletes/updates as DELETION VECTORS, their applicability algebra
  * (statsDisjoint), and compactDeletes materialization.
  *
  * One of [[Warehouse]]'s section traits — a pure textual split of the
  * original single file (unchanged public face, same `private[sink]`
  * surface); the self-type is the class itself, so every member reads as
  * before.
  */
private[sink] trait WarehouseMor { self: Warehouse =>

  // ------------------------------------------ merge-on-read (MOR) deletes --

  /** Iceberg-v2-style MERGE-ON-READ equality delete: commit a parquet file
    * of key tuples instead of rewriting any data file. O(batch) — one key
    * write + one manifest commit, independent of table size. This is the
    * fast delete at 100 TB: [[deleteWhere]] (copy-on-write) rewrites every
    * file its predicate touches, which for a scattered key set means most
    * of the table; here the rewrite IO is deferred to [[compactDeletes]]
    * (or the next rewrite op, which materializes pending deletes first)
    * while reads apply the delete as a seq-aware anti-join ([[morFrame]]).
    *
    * Semantics: a data row is deleted when it equals some key tuple on ALL
    * of `keys`' columns (plain equality — null keys never match, the merge
    * contract), and only if its file's data sequence number precedes the
    * delete's: rows (re-)inserted AFTER the delete are shielded, exactly
    * Iceberg's sequence-number rule. GDPR-note: the bytes survive until
    * compaction + [[expireSnapshots]], same as every snapshot store.
    *
    * Returns the committed version (the current one when `keys` is empty).
    */
  def equalityDelete(name: String, keys: DataFrame): Long = {
    require(exists(name), s"no such table: $name")
    val man = currentManifest(name)
    val cols = keys.columns.toSeq
    require(cols.nonEmpty && cols.forall(man.schema.fieldNames.contains),
      s"delete key columns must be table columns: ${cols.mkString(",")}")
    val keySchema = StructType(man.schema.fields.filter(f => cols.contains(f.name)))
    val next = currentVersion(name) + 1
    val entries = writeData(name, SchemaOps.conform(keys, keySchema).distinct(),
      keySchema, s"del$next", cols, seq = next)
    val dels = entries.filter(_.rows > 0)
      .map(e => DeleteFile(e.path, e.rows, next, cols, e.stats))
    if (dels.isEmpty) return currentVersion(name) // empty key set: no-op
    // Rebase: delete-only row delta — restamp; the new seq covers
    // concurrently-added files (their append serializes before this delete)
    commitOrRebase(name, next, Manifest(man.schema, man.files, man.deletes ++ dels),
      (base, n2) =>
        if (base.schema != man.schema) None
        else Some(Manifest(man.schema, base.files, base.deletes ++ dels.map(_.copy(seq = n2)))))
  }

  /** Per-call outcome of [[positionDelete]]: committed version (unchanged
    * when nothing matched), position pairs committed, and how many files the
    * predicate's stat bounds excluded from the position scan.
    */
  final case class PositionDeleteReport(version: Long, positions: Long, prunedFiles: Int)

  /** Iceberg-v2-style MERGE-ON-READ POSITIONAL delete: evaluate `cond` once,
    * commit the matching rows' (data-file path, row ordinal) pairs, rewrite
    * NOTHING. The complement of [[equalityDelete]]: that one suits
    * delete-by-key (the key set IS the delete), this one suits
    * delete-by-predicate when the rewrite IO of [[deleteWhere]] must be
    * deferred — a GDPR/retention sweep over a 100 TB table commits O(matched
    * rows) pairs now, and [[compactDeletes]] pays the rewrite later, off the
    * ingest path. Reads apply the pairs as an exact (file, ordinal)
    * anti-join via Spark's `_metadata.row_index` ([[morFrame]]); files
    * outside every pair's path bounds are provably untouched.
    *
    * The position scan itself is stat-pruned by the RESOLVED predicate
    * (same bound logic as [[deleteWhere]]), so computing the pairs reads
    * O(may-match files), never the table. Row ordinals are stable because
    * data files are immutable, and every rewrite op materializes pending
    * deletes first ([[materializePendingDeletes]]) — a rewrite that moved
    * rows while pairs pend would silently retarget them.
    *
    * SQL null semantics: rows where `cond` is NULL are KEPT.
    */
  def positionDelete(name: String, cond: Column): PositionDeleteReport = {
    require(exists(name), s"no such table: $name")
    val man = currentManifest(name)
    // reserved-name guard (the __graft_p discipline): the MOR read would
    // silently overwrite-then-drop a user column with these names
    require(!man.schema.fieldNames.exists(Seq(PosFileCol, PosIdxCol, "__pdel_meta").contains),
      s"positionDelete reserves column names $PosFileCol/$PosIdxCol/__pdel_meta; rename the table column")
    val resolved = spark.createDataFrame(new java.util.ArrayList[Row](), man.schema)
      .filter(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(return PositionDeleteReport(currentVersion(name), 0L, man.files.size))
    val (victims, untouched) =
      man.files.partition(f => graft.catalog.ManifestPruneRule.mayMatch(f, resolved))
    if (victims.isEmpty)
      return PositionDeleteReport(currentVersion(name), 0L, untouched.size)
    val next = currentVersion(name) + 1
    // pairs come from the DELETE-APPLIED view (as positionUpdate): a row
    // already dead to a pending equality/positional delete gets no
    // redundant position, so vectors never accrete dead entries and the
    // report's `positions` counts rows actually removed from the live view
    val pairs = morFrameImpl(name,
        Manifest(man.schema, victims, man.deletes), keepPositions = true)
      .filter(coalesce(cond, lit(false)))
      .select(col(PosFileCol), col(PosIdxCol))
    val (dels, fresh) = writeDeletionVectors(name, next, man, pairs)
    if (dels.isEmpty) return PositionDeleteReport(currentVersion(name), 0L, untouched.size)
    val targets = dels.head.cols.toSet
    val kept = sweepSupersededDvs(man.deletes, targets)
    // Rebase: the vectors are valid only while their target files and the
    // delete set they were merged through survive unchanged.
    commitOrRebase(name, next, Manifest(man.schema, man.files, kept ++ dels),
      (base, n2) =>
        if (base.schema != man.schema || base.deletes != man.deletes ||
            !filesIntact(base, victims)) None
        else Some(Manifest(man.schema, base.files, kept ++ dels.map(_.copy(seq = n2)))))
    PositionDeleteReport(next, fresh, untouched.size)
  }

  /** Materialize pending equality deletes into rewritten data files (the
    * Iceberg rewrite-deletes maintenance action) and clear the manifest's
    * delete list. Files PROVABLY untouched by every delete that applies to
    * them — any shared key column whose [min,max] ranges are disjoint, or
    * either side all-null, the merge prune rule — carry over byte-identical;
    * only the rest are read back (with deletes applied) and rewritten. Runs
    * automatically at the head of every rewrite op (merge / compact /
    * deleteWhere / SCD2): a raw-file rewrite stamps seq = next, which would
    * lift deleted rows PAST the pending delete's sequence number and
    * resurrect them.
    */
  /** A delete file provably cannot touch a data file when some key column's
    * stat ranges are disjoint (or either side is all-null under plain
    * equality) — shared by [[compactDeletes]] (skip the rewrite) and
    * [[readChanges]] (skip the changed-file scan).
    */
  private[sink] def statsDisjoint(f: DataFile, d: DeleteFile): Boolean =
    if (d.kind == "dv")
      // a deletion vector names its target data files explicitly: provably
      // untouched iff the file is not a target — exact, not a bound
      !d.cols.contains(f.path)
    else d.cols.exists { c =>
      (f.stats.get(c), d.stats.get(c)) match {
        case (Some(ColStat("z", _, _, _)), _) => true // no non-null data value
        case (_, Some(ColStat("z", _, _, _))) => true // no non-null key value
        case (Some(fs), Some(ds)) => ds.kind == fs.kind &&
          (StatsPruning.cmp(fs.kind, fs.min, ds.max) > 0 ||
            StatsPruning.cmp(fs.kind, fs.max, ds.min) < 0)
        case _ => false
      }
    }

  def compactDeletes(name: String): Long = {
    val man = currentManifest(name)
    if (man.deletes.isEmpty) return currentVersion(name)
    val next = currentVersion(name) + 1
    val (untouched, victims) = man.files.partition { f =>
      man.deletes.forall(d => d.seq <= f.seq || statsDisjoint(f, d))
    }
    val rewritten =
      if (victims.isEmpty) Nil
      else {
        // lineage carry (Iceberg v3 rule): surviving rows keep their row
        // ids across the rewrite by riding them as a physical column
        val src = victimScan(name, Manifest(man.schema, victims, man.deletes))
        writeData(name, cluster(src.frame, Nil, partitionSpec(name), Some(src.scanBytes)),
          man.schema, s"d${next}x", inheritedStatsCols(name, Some(man)), seq = next,
          spec = partitionSpec(name), lineageMat = src.carry)
      }
    // Rebase: clears the delete list it materialized, so the winner must
    // not have changed it; victims intact; concurrently-added files carry
    // (their seq post-dates every pending delete, so none applied to them).
    commitOrRebase(name, next, Manifest(man.schema, untouched ++ rewritten),
      (base, n2) => {
        val victimPaths = victims.map(_.path).toSet
        if (base.schema != man.schema || base.deletes != man.deletes ||
            !filesIntact(base, victims)) None
        else Some(Manifest(man.schema, base.files.filterNot(f => victimPaths.contains(f.path)) ++
          rewritten.map(_.copy(seq = n2))))
      })
  }

  /** Pending-MOR-delete guard for rewrite ops — see [[compactDeletes]]. */
  private[sink] def materializePendingDeletes(name: String): Unit =
    if (exists(name) && currentManifest(name).deletes.nonEmpty) compactDeletes(name)

  /** [[compact]]'s manifest-grain face (same `rewriteDataFiles` family, one
    * shared rewrite core): select victims by ROW COUNT — manifest-resident,
    * so the sweep makes zero filesystem stat calls at any table size
    * (proportional to bytes for a fixed schema) — and re-cluster them on
    * `clusterBy` keys within the table's partition spec, so a compacted
    * index table keeps its probe-pruning key ranges tight (a postings table
    * compacts with `clusterBy = Seq("term")`, a codes table with `cell`).
    * Use [[compact]] when true byte sizing or a sortBy/z-order layout is
    * wanted. Pending MOR deletes materialize first (no resurrection); a
    * table with fewer than two small files is already compact and commits
    * nothing; content is byte-identical and prior snapshots stay
    * travelable until expiry.
    */
  def compactFiles(name: String, smallRows: Long = 100000L,
                   clusterBy: Seq[String] = Nil): Long = {
    require(exists(name), s"no such table: $name")
    materializePendingDeletes(name)
    val man = currentManifest(name)
    val (small, _) = man.files.partition(_.rows < smallRows)
    if (small.size < 2) return currentVersion(name)
    rewriteSmallFiles(name, man, small, clusterBy,
      (src, scanBytes) => cluster(src, clusterBy, partitionSpec(name), Some(scanBytes)),
      sortedBy = clusterBy)
  }

  /** Thresholds for [[maintain]] — each maps one manifest-resident signal
    * to one maintenance action (all signals cost zero data-file reads):
    *   - `deleteKeyRatio`: [[compactDeletes]] when pending MOR delete keys
    *     reach this fraction of table rows (the `$deletes`-table signal —
    *     every read pays the anti-joins until materialization), or when the
    *     pending delete FILE count alone reaches `maxDeleteFiles` (many tiny
    *     deletes cost per-file key scans regardless of key volume);
    *   - `smallFileRows`/`smallFileCount`: [[compactFiles]] when at least
    *     `smallFileCount` files sit under `smallFileRows` rows (the
    *     `$files`/`$partitions` small-file-buildup signal — O(batch)
    *     ingestion inevitably accretes them);
    *   - `keepSnapshots`: [[expireSnapshots]] when history exceeds it
    *     (tagged snapshots stay protected, per expiry's own contract).
    */
  /**   - `analyzeStaleCommits`: refresh stored column stats
    *     ([[WarehouseAnalyze.analyzeIncremental]] — O(new files) when the
    *     window is append-only, full pass otherwise) once the analyzed
    *     version lags the head by this many commits. 0 = off (the
    *     default): stats refresh is only auto-maintained where someone
    *     opted a table into ANALYZE by running it once — a table with no
    *     stored stats is never analyzed behind the user's back.
    */
  final case class MaintenancePolicy(deleteKeyRatio: Double = 0.05,
      maxDeleteFiles: Int = 8, smallFileRows: Long = 100000L,
      smallFileCount: Int = 8, keepSnapshots: Int = 10,
      analyzeStaleCommits: Int = 0)

  /** What [[maintain]] did and why — `version` is the table's version after
    * the pass (unchanged when the table was healthy).
    */
  final case class MaintenanceReport(version: Long, deletesCompacted: Boolean,
      filesCompacted: Boolean, snapshotsExpired: Boolean,
      statsRefreshed: Boolean = false, pendingDrained: Long = 0L,
      indexCompacted: Seq[String] = Nil)

  /** Policy-driven auto-maintenance: read the manifest signals and run
    * exactly the actions they justify — the Iceberg maintenance-procedures
    * analog, driven by the same metadata the `$files`/`$deletes`/
    * `$partitions` tables expose. Results are never changed (each action
    * is a content-preserving rewrite, spec-pinned) and a healthy table
    * commits NOTHING — maintain is idempotent and safe on a schedule. At
    * 100 TB this is the difference between a table that stays fast and one
    * that drowns in delete anti-joins and per-file open costs: the decision
    * itself stays metadata-scale, so a scheduler can sweep every table
    * cheaply and only pay rewrite cost where a signal fired.
    */
  def maintain(name: String,
               policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    require(exists(name), s"no such table: $name")
    // stream-maintained extremal rollup: drain the pending-extremes side
    // table FIRST (it is the correctness-freshness repair, and its
    // retraction commits feed the delete-compaction signal below). The
    // fact + measure spec come from the maintainer's marks on the rollup,
    // so a SQL-only operator can repair a rollup they did not build. Same
    // one-maintainer discipline as the manual drain: schedule maintain
    // where it cannot race a live tick.
    val drained = graft.streaming.ChangeFeedStream.drainPendingFromMeta(self, name)
    val man = currentManifest(name)
    val tableRows = math.max(man.files.map(_.rows).sum, 1L)
    val deleteKeys = man.deletes.map(_.rows).sum
    val doDeletes = man.deletes.nonEmpty &&
      (deleteKeys.toDouble / tableRows >= policy.deleteKeyRatio ||
        man.deletes.size >= policy.maxDeleteFiles)
    if (doDeletes) compactDeletes(name)
    // re-read: delete materialization may have rewritten files
    val man2 = currentManifest(name)
    val doFiles =
      man2.files.count(_.rows < policy.smallFileRows) >= policy.smallFileCount
    // a maintain TARGETED at an index-family table itself (an operator or
    // the maintainAll sweep naming "corpus__bands" directly) must keep the
    // probe-key clustering — a plain compact would merge files spanning
    // every key range and degrade probes to a file open per batch
    val selfCluster = IndexFamily.clusterKeys(name, man2.schema).getOrElse(Nil)
    if (doFiles) compactFiles(name, policy.smallFileRows, clusterBy = selfCluster)
    val doExpire = history(name).size > policy.keepSnapshots
    if (doExpire) expireSnapshots(name, policy.keepSnapshots)
    // stats freshness: only tables someone has ANALYZEd at least once (no
    // stored stats = never opted in), only past the staleness threshold,
    // and only the COLUMN SET the stored stats cover (minus any since-
    // dropped column) — the refresh itself is O(new files) on append-only
    // windows, a full pass otherwise
    val staleCols: Option[Seq[String]] =
      if (policy.analyzeStaleCommits <= 0) None
      else columnStats(name)
        .filter(cs => currentVersion(name) - cs.version >= policy.analyzeStaleCommits)
        .map(_.cols.keySet.toSeq.sorted
          .filter(currentManifest(name).schema.fieldNames.contains))
        .filter(_.nonEmpty)
    staleCols.foreach(cols => analyzeIncremental(name, cols))
    // followed-index families beside this table: compact fragmented probe
    // tables under the same small-file thresholds, clustered on their
    // probe keys (see [[IndexFamily.CompactOn]]) — a followed index otherwise
    // degrades to O(batches) file opens per probe with no policy hook
    val idxCompacted = IndexFamily.beside(self, name).filter { case (t, _) =>
      currentManifest(t).files.count(_.rows < policy.smallFileRows) >= policy.smallFileCount
    }
    idxCompacted.foreach { case (t, by) => compactFiles(t, policy.smallFileRows, clusterBy = by) }
    MaintenanceReport(currentVersion(name), doDeletes, doFiles, doExpire,
      staleCols.isDefined, drained, idxCompacted.map(_._1))
  }

  /** Policy sweep over EVERY table in the warehouse — the scheduler entry
    * point ([[maintain]]'s whole-catalog face): each table's decision stays
    * metadata-scale (manifest signals, zero data-file reads), so sweeping a
    * thousand-table warehouse on a schedule costs O(tables) metadata plus
    * rewrite work exactly where a signal fired. Tables are visited in
    * sorted order, so a base table's index-family compaction (with its
    * probe-key clusterBy) runs BEFORE the sweep reaches the suffix table
    * itself — and the targeted pass keeps the clustering anyway (see
    * [[maintain]]'s selfCluster). Returns one report per table.
    */
  def maintainAll(policy: MaintenancePolicy = MaintenancePolicy())
      : Seq[(String, MaintenanceReport)] =
    listTables().map(t => t -> maintain(t, policy))

}
