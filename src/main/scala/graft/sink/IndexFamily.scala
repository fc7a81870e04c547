package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The mechanism the three warehouse-resident index sinks share —
  * [[NearDupIngest]] (MinHash bands/sigs), [[SearchIndexIngest]] (BM25
  * postings) and [[VectorIndexIngest]] (IVF-PQ codes) — built from data, so
  * each sink keeps only its derivation and its serving. The data: which
  * table carries the format stamp (`stampOn`, under ledger id `stampSid`
  * with value `stampValue`, refusing with the sink's `refusal(name, got)`
  * text), which table carries the `idxfollow:` ledger (`ledgerOn`), which
  * tables a deleted corpus pk retracts from (`retractOn`, in order). Table
  * arguments are suffixes of the corpus name (`"__sigs"`). Nothing here
  * branches on which family it serves; which tables compact on which keys
  * is one declaration for every family ([[IndexFamily.CompactOn]]).
  *
  * '''Format stamp.''' A change to the derivation algebra or its parameters
  * makes stored index rows silently mismatch fresh ones (no error
  * anywhere, just lost pairs or mis-scored hits), so every entry point
  * [[guard]]s: the stamp rides the stamp table's batch-id ledger and any
  * mismatch refuses loudly. Entry points create-then-stamp
  * ([[ensureStamped]]) BEFORE any index rows commit, so a committed index
  * is never stampless; an EMPTY stampless table (a crash between create and
  * stamp) reads as fresh. [[adopt]] is the operator override for a
  * pre-stamp index of known provenance.
  *
  * '''Ledger.''' The consumed corpus head rides [[Warehouse.recordBatchId]]
  * on the family's own ledger table (streamId `idxfollow:<corpus>`), never
  * on the corpus: the corpus stays writable by parties that know nothing of
  * the index.
  *   - [[advance]] (after an ingest's transaction): the index is
  *     synchronous with the corpus THROUGH the ingest's commit, so the
  *     follower may start past it — but only when nothing foreign is
  *     pending. Judged on the corpus head itself, not the pre-capture: a
  *     foreign deleteWhere/morMerge landing DURING the ingest must not be
  *     fast-forwarded over, so the ledger advances only when the head is
  *     exactly the ingest's own commit and the ledger already covered the
  *     pre-ingest head. Anything else stays in the next [[follow]] window,
  *     where re-deriving the ingest's own rows no-ops through [[newByPk]].
  *   - [[follow]] (a followChanges tick): the un-consumed window's `-D` pks
  *     retract as ONE equality delete per `retractOn` table (O(changed
  *     pks) metadata, zero index-file rewrites), BEFORE the `+I` rows
  *     re-derive — an updated pk's fresh rows (seq > the delete's) are then
  *     shielded by the strict-< rule and the re-derive anti-join sees the
  *     pk as absent. Then the consumed head is recorded, so crashed or
  *     replayed ticks converge: re-deleting is a no-op overlay, re-deriving
  *     anti-joins to empty. Bootstrap — a corpus the family never saw
  *     (ledger unset) — treats the whole current snapshot as insertions;
  *     rows deleted before that first tick were never indexed, so there is
  *     nothing to retract.
  *
  * '''Fault-tolerance trade''' of the family's `localCheckpoint` sites:
  * they pin a multi-consumed frame to executor-local blocks, so an executor
  * loss mid-ingest fails the job instead of recomputing — the retry is a
  * REPLAY of the whole call, which the idempotent-by-pk derivation makes
  * safe. persist(MEMORY_AND_DISK) + count would keep lineage, but would
  * leave an anti-join able to re-plan AFTER its own table's commit.
  */
private[sink] final class IndexFamily(wh: Warehouse, pkCol: String,
    stampOn: String, stampSid: String, stampValue: Long,
    refusal: (String, Long) => String,
    ledgerOn: String, retractOn: Seq[String]) {

  // ---- format stamp -----------------------------------------------------

  /** Refuse loudly unless `name`'s index carries this family's stamp (or
    * is fresh: no stamp table, or an empty stampless one).
    */
  def guard(name: String): Unit = {
    val t = name + stampOn
    if (!wh.exists(t)) return
    val got = wh.recordedBatchId(t, stampSid)
    if (got == stampValue) return
    if (got < 0) {
      val man = wh.currentManifest(t)
      if (man.files.isEmpty && man.deletes.isEmpty) return
    }
    throw new IllegalStateException(refusal(name, got))
  }

  /** Record the stamp (idempotent). Safe before the stamp table exists: a
    * stamp without tables is inert.
    */
  def stamp(name: String): Unit =
    if (wh.recordedBatchId(name + stampOn, stampSid) != stampValue)
      wh.recordBatchId(name + stampOn, stampSid, stampValue)

  /** Create-then-stamp, before any index rows commit. */
  def ensureStamped(name: String, schema: StructType): Unit = {
    if (!wh.exists(name + stampOn)) wh.create(name + stampOn, schema)
    stamp(name)
  }

  /** Operator override for a pre-stamp index KNOWN to match this family's
    * format: records the stamp so [[guard]] passes. Misuse reintroduces
    * the silent cross-era mixing the guard exists to prevent.
    */
  def adopt(name: String, absent: String): Unit = {
    require(wh.exists(name + stampOn), absent)
    stamp(name)
  }

  // ---- idxfollow ledger ---------------------------------------------------

  private def sid(corpus: String) = s"idxfollow:$corpus"

  /** Highest corpus version the index has consumed (−1 = never). */
  private def covered(name: String): Long =
    if (wh.exists(name + ledgerOn)) wh.recordedBatchId(name + ledgerOn, sid(name))
    else -1L

  /** Advance past an ingest's own corpus commit (see the class doc).
    * `preVersion` is the corpus head captured before the transaction; a
    * corpus born inside it (−1) commits twice — its create, then the rows.
    */
  def advance(name: String, preVersion: Long): Unit = {
    val head = wh.currentVersion(name)
    val clean = preVersion < 0 || covered(name) >= preVersion
    if (clean && head == math.max(preVersion, 0L) + 1)
      wh.recordBatchId(name + ledgerOn, sid(name), head)
  }

  /** One followChanges tick: retract the window's deleted pks, hand its
    * insertion rows (corpus schema) to `derive` — which indexes them and
    * returns the distinct pks it saw — and record the consumed head.
    * Returns (corpus version, pks retracted, pks derived).
    */
  def follow(name: String)(derive: DataFrame => Long): (Long, Long, Long) = {
    val last = covered(name)
    val now = wh.currentVersion(name)
    if (now <= last) return (now, 0L, 0L)
    val changes = (
      if (last < 0) wh.load(name).withColumn("_change_type", lit("+I"))
      else wh.readChanges(name, last, now)
      ).localCheckpoint()
    require(changes.columns.contains(pkCol),
      s"pk column '$pkCol' absent from $name at v$now — renamed in the window? " +
        "index followers pair by pk NAME; rebuild the index (or a new follower) " +
        "under the new name, or use the $changes_lineage face for rename-immune pairing")
    val delPks = changes.filter(col("_change_type") === "-D")
      .select(col(pkCol)).distinct().localCheckpoint()
    val nDel = delPks.count()
    if (nDel > 0) retractOn.foreach(t => wh.equalityDelete(name + t, delPks))
    val nIns = derive(changes.filter(col("_change_type") === "+I").drop("_change_type"))
    if (wh.exists(name + ledgerOn)) wh.recordBatchId(name + ledgerOn, sid(name), now)
    (now, nDel, nIns)
  }

  // ---- derivation helpers ---------------------------------------------------

  /** The rows of `rows` whose pk `table` does not hold yet (all of them
    * while it does not exist) — what makes every index and corpus append
    * idempotent by pk. Reads through the MOR overlay, so a pk the follower
    * just retracted counts as absent. `manyPerPk` tables (postings, bands)
    * deduplicate the probe side first, keeping it O(docs).
    */
  def newByPk(table: String, rows: DataFrame, manyPerPk: Boolean = false): DataFrame =
    if (!wh.exists(table)) rows
    else {
      val held = wh.load(table).select(col(pkCol))
      rows.join(if (manyPerPk) held.distinct() else held, Seq(pkCol), "left_anti")
    }

  /** One row per pk, materialized once: the JSON-minimal row is the keeper
    * — deterministic under any partitioning, the [[Warehouse.appendDeduped]]
    * tiebreak — so a replay of a duplicate-bearing batch converges on the
    * same survivor.
    */
  def keepers(df: DataFrame): DataFrame = {
    require(!df.columns.contains("__rn"), "column name __rn is reserved by index ingest")
    val w = Window.partitionBy(pkCol).orderBy(to_json(struct(df.columns.map(col): _*)).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint()
  }
}

private[sink] object IndexFamily {

  /** Every followed-index table that compacts clustered on a probe key, by
    * corpus-name suffix; Nil = the table's pk, its first column. Per-batch
    * ingest appends fragment their key ranges, degrading probes to a file
    * open per batch, and a plain compact would destroy the disjoint ranges
    * the O(probe-keys) lookup depends on. Each sink's `compact` and
    * [[Warehouse.maintain]] rewrite the tables [[beside]] a name (maintain
    * under its small-file policy), and maintain keeps the key on a family
    * table it is pointed at directly ([[clusterKeys]]).
    */
  val CompactOn: Seq[(String, Seq[String])] = Seq(
    "__bands" -> Seq("band_key"),     // near-dup LSH probe index
    "__sigs" -> Nil,                  // near-dup signatures (pk)
    "__postings" -> Seq("term"),      // BM25 inverted index
    "__doclens" -> Nil,               // BM25 doc lengths (pk)
    "__codes" -> Seq("cell"))         // IVF-PQ codes

  private def clusterOn(cols: Seq[String], schema: StructType): Seq[String] =
    cols.filter(schema.fieldNames.contains) match {
      case Nil => schema.fieldNames.headOption.toSeq
      case cs  => cs
    }

  /** The columns family table `table` compacts clustered on; None when the
    * name carries no [[CompactOn]] suffix.
    */
  def clusterKeys(table: String, schema: StructType): Option[Seq[String]] =
    CompactOn.collectFirst { case (sfx, cols) if table.endsWith(sfx) => clusterOn(cols, schema) }

  /** The [[CompactOn]] tables that exist beside `name`, each with the
    * columns it compacts clustered on.
    */
  def beside(wh: Warehouse, name: String): Seq[(String, Seq[String])] =
    CompactOn.collect { case (sfx, cols) if wh.exists(name + sfx) =>
      (name + sfx) -> clusterOn(cols, wh.currentManifest(name + sfx).schema)
    }

  /** Compact each index table beside `name` ([[beside]]) clustered on its
    * probe key ([[Warehouse.compactFiles]]): after many small batches the
    * key ranges overlap and a probe opens a file per batch; the rewrite
    * restores few DISJOINT ranges. Content-preserving; pending retractions
    * materialize in the process.
    */
  def compact(wh: Warehouse, name: String, smallRows: Long): Unit =
    beside(wh, name).foreach { case (t, by) => wh.compactFiles(t, smallRows, clusterBy = by) }
}
