package graft.sink

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.SchemaOps

/** One table's section of a transaction intent. Its txn-unique paths in a
  * snapshot prove it landed; a marks-only section, its marks there.
  */
private[sink] final case class TxnSection(name: String, schema: StructType,
    files: Seq[DataFile], dels: Seq[DeleteFile], marks: Map[String, String]) {
  def landedIn(m: Manifest): Boolean =
    if (files.isEmpty && dels.isEmpty) marks.forall { case (k, v) => m.marks.get(k).contains(v) }
    else files.forall(f => m.files.exists(_.path == f.path)) &&
      dels.forall(d => m.deletes.exists(_.path == d.path))
}

/** Atomic multi-table transactions: stage append-shaped writes against
  * any number of tables, land them all-or-nothing through a durable
  * intent marker with crash roll-forward.
  *
  * One of [[Warehouse]]'s section traits — a pure textual split of the
  * original single file (unchanged public face, same `private[sink]`
  * surface); the self-type is the class itself, so every member reads as
  * before.
  */
private[sink] trait WarehouseTransactions { self: Warehouse =>

  // --------------------------------------------- multi-table transactions --

  /** Atomic multi-table COMMIT — the write analog of [[renameAll]]: stage
    * append-shaped writes (append / morMerge / equalityDelete) against any
    * number of tables, then land them all-or-nothing. The canonical use is
    * the index-beside-corpus ingest ([[VectorIndexIngest]] /
    * [[SearchIndexIngest]] shapes): fact rows + index postings + a
    * watermark upsert become ONE transaction, so no reader can observe the
    * fact without its index entries. `tx.mark` sets a mark in its table's commit.
    *
    * Protocol (durable intent + roll-forward — same discipline as
    * `renameAll`):
    *   1. `body` runs against the [[WarehouseTxn]]: each staged op writes
    *      its DATA files immediately (into per-txn `dtx*`/`del*` attempt
    *      dirs — orphaned and grace-swept if the txn never commits) and
    *      accumulates a per-table (data entries, delete entries) delta.
    *      Nothing is visible to readers.
    *   2. The deltas are serialized to a durable intent marker
    *      (`_intents/txn-<id>`, [[MetaIO.atomicWrite]]). THIS is the commit
    *      point of the transaction as a whole: before the marker, a crash
    *      aborts cleanly (orphan files only); after it, every access path
    *      ([[exists]]) rolls the remaining per-table commits forward.
    *   3. Each table's delta lands as one snapshot commit through
    *      [[commitOrRebase]]. Staged deltas are append-shaped, so a lost
    *      CAS race REBASES (metadata-only restamp onto the winner — data
    *      files never rewritten) and always lands; concurrent ADDITIVE or
    *      RENAME schema evolution is absorbed by remapping the delta's
    *      stats keys / delete-key columns through field ids
    *      (`remapTxnDelta`). A per-table done-marker makes roll-forward
    *      idempotent; a recovering process falls back to a path-presence
    *      probe for the crash window between a commit and its done-marker.
    *
    * Isolation: readers see each table flip atomically at its own commit;
    * cross-table atomicity is of the roll-forward kind (a reader racing the
    * commit loop can observe table A's new snapshot before table B's — but
    * B is guaranteed to land, and every warehouse access first drives
    * pending intents to completion, so the window cannot outlive a single
    * access by any process). Within one transaction, staged deletes apply
    * to PRE-transaction rows only: all of a table's staged entries land at
    * the same sequence number, so a staged morMerge's delete does not
    * retro-delete a staged append's rows (snapshot-at-start semantics,
    * spec-pinned).
    *
    * The one non-convergent race: a concurrent [[dropColumn]] of a column
    * that KEYS a staged equality delete (invisible to dropColumn's
    * pending-delete guard until the txn lands). Roll-forward then fails
    * loudly and the intent stays pending for operator intervention — the
    * same "cannot converge" posture as a damaged rename intent.
    *
    * Returns the committed (table → version) map, empty for an empty txn.
    */
  def transact(body: WarehouseTxn => Unit): Map[String, Long] = {
    recoverPendingTxns()
    val id = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val txn = new WarehouseTxn(id)
    body(txn)
    val work = txn.deltas.toSeq.filter { case (_, d) =>
      d.files.nonEmpty || d.dels.nonEmpty || d.marks.nonEmpty }
    if (work.isEmpty) return Map.empty
    io.mkdirs(intentsDir)
    val marker = intentsDir.resolve(s"txn-$id")
    val sb = new StringBuilder("graft-txn v1\n")
    work.foreach { case (name, d) =>
      sb.append("== ").append(name).append('\n')
        .append(d.schema.json).append('\n')
      if (d.marks.nonEmpty) sb.append("M\t").append(Manifest.marksString(d.marks)).append('\n')
      sb.append(Manifest.entriesString(d.files, d.dels))
    }
    io.atomicWrite(marker, sb.toString)
    // guard re-entry: the commit work inside goes through access paths
    // whose `exists` probe would otherwise see OUR marker and execute the
    // same intent a second time, nested
    val wasIn = Warehouse.inTxnRecovery.get()
    Warehouse.inTxnRecovery.set(true)
    try executeTxnIntent(marker)
    finally Warehouse.inTxnRecovery.set(wasIn)
    work.map { case (name, _) => name -> currentVersion(name) }.toMap
  }

  /** Roll one transaction intent forward, table by table. Idempotent:
    * `.done<i>` side markers record completed tables; without one, a
    * path-presence probe (the delta's file paths are txn-unique) detects a
    * commit that landed just before a crash. The marker is deleted only
    * after every table holds.
    */
  private def executeTxnIntent(marker: Path): Unit = {
    val lines = Files.readAllLines(marker)
    require(lines.size() >= 1 && lines.get(0) == "graft-txn v1",
      s"not a txn intent: $marker")
    // parse sections: "== name" / schema json / optional marks / entry lines
    val sections = scala.collection.mutable.ArrayBuffer.empty[TxnSection]
    var i = 1
    while (i < lines.size()) {
      val head = lines.get(i)
      require(head.startsWith("== "), s"malformed txn intent at line $i: $marker")
      val name = head.substring(3)
      val schema = DataType.fromJson(lines.get(i + 1)).asInstanceOf[StructType]
      var j = i + 2
      val marks =
        if (j < lines.size() && lines.get(j).startsWith("M\t")) {
          j += 1; Manifest.parseMarks(lines.get(j - 1).substring(2))
        } else Map.empty[String, String]
      val entry = scala.collection.mutable.ArrayBuffer.empty[String]
      while (j < lines.size() && !lines.get(j).startsWith("== ")) {
        if (lines.get(j).nonEmpty) entry += lines.get(j); j += 1
      }
      val (fs, ds) = Manifest.parseEntries(entry.toSeq)
      sections += TxnSection(name, schema, fs, ds, marks)
      i = j
    }
    sections.zipWithIndex.foreach { case (sec, idx) =>
      val done = marker.resolveSibling(s"${marker.getFileName}.done$idx")
      if (!Files.exists(done)) {
        if (!sec.landedIn(currentManifest(sec.name))) commitTxnDelta(sec)
        io.atomicWrite(done, "")
      }
    }
    sections.indices.foreach(idx =>
      io.delete(marker.resolveSibling(s"${marker.getFileName}.done$idx")))
    io.delete(marker)
  }

  /** Land one table's staged delta as a snapshot commit, rebasing onto
    * whatever head wins races. Concurrent schema evolution is absorbed by
    * remapping through field ids: stats keys follow renames and drop with
    * dropped columns (unmapped stats are only ever pruning hints — losing
    * one is conservative); a staged delete KEYED on a dropped column cannot
    * converge and fails loudly.
    *
    * Own retry loop rather than [[commitOrRebase]] because the landed-check
    * must re-run against EVERY new base: an intent can be executed by a
    * racing recoverer (another thread/process whose `exists` probe saw the
    * marker before this one finished), and the loser of that race must
    * recognize the delta already present — delta paths are txn-unique, so
    * presence in the base IS proof of landing — instead of re-appending it.
    */
  private def commitTxnDelta(sec: TxnSection): Long = {
    val name = sec.name
    preCommitHook(name, currentVersion(name) + 1)
    var tries = 0
    while (tries < 50) {
      tries += 1
      val curV = currentVersion(name)
      val base = manifestAt(name, curV)
      if (sec.landedIn(base)) return curV
      val (rfs, rds) = remapTxnDelta(sec.schema, base.schema, sec.files, sec.dels)
      val next = curV + 1
      try return commitManifest(name, next, Manifest(base.schema,
        base.files ++ rfs.map(_.copy(seq = next)),
        base.deletes ++ rds.map(_.copy(seq = next))), marks = sec.marks)
      catch { case _: java.util.ConcurrentModificationException => }
    }
    throw new java.util.ConcurrentModificationException(
      s"$name: transaction delta still racing after 50 attempts; redo the transaction")
  }

  /** Remap a staged delta from its staging-time schema to the commit-time
    * schema by FIELD ID (the column-evolution contract: names are labels,
    * ids are identity). Fast no-op when the schemas are equal.
    */
  private def remapTxnDelta(staged: StructType, base: StructType,
      fs: Seq[DataFile], ds: Seq[DeleteFile]): (Seq[DataFile], Seq[DeleteFile]) = {
    if (staged == base) return (fs, ds)
    val baseNameById: Map[Long, String] =
      base.fields.flatMap(f => fieldIdOf(f).map(_ -> f.name)).toMap
    // staging-time name -> commit-time name; None = column dropped
    val nameMap: Map[String, Option[String]] = staged.fields.flatMap { f =>
      fieldIdOf(f).map(id => f.name -> baseNameById.get(id))
    }.toMap
    def remapKey(k: String): Option[String] = nameMap.get(k) match {
      case Some(v) => v
      case None => PartitionTransforms.parseKey(k) match {
        case Some(pf) => nameMap.getOrElse(pf.src, Some(pf.src)) match {
          case Some(nw) => Some(pf.copy(src = nw).key)
          case None     => None // transform over a dropped column
        }
        case None => Some(k) // not a schema column (never prunes) — keep
      }
    }
    def remapStats(stats: Map[String, ColStat]): Map[String, ColStat] =
      stats.flatMap { case (k, v) => remapKey(k).map(_ -> v) }
    val rds = ds.map { d =>
      val cols = d.cols.map { c =>
        nameMap.getOrElse(c, Some(c)).getOrElse(throw new IllegalStateException(
          s"staged equality delete keys on dropped column $c; transaction cannot converge"))
      }
      d.copy(cols = cols, stats = remapStats(d.stats))
    }
    (fs.map(f => f.copy(stats = remapStats(f.stats))), rds)
  }

  /** Complete any pending [[transact]] intents (oldest first); re-entrancy
    * guarded — roll-forward itself touches warehouse access paths.
    */
  private[sink] def recoverPendingTxns(): Unit = {
    if (Warehouse.inTxnRecovery.get()) return
    if (!Files.exists(intentsDir)) return
    val markers = io.list(intentsDir).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("txn-") && !n.endsWith(".tmp") && !n.contains(".done")
    }.sortBy(_.getFileName.toString)
    if (markers.isEmpty) return
    Warehouse.inTxnRecovery.set(true)
    try markers.foreach(executeTxnIntent)
    finally Warehouse.inTxnRecovery.set(false)
  }
}
