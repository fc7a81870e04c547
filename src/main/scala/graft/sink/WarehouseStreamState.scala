package graft.sink

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{ResourceDef, WriteMode}
import graft.schema.SchemaOps

/** Streaming-consumer state: the commit-carried consumer marks, the
  * batch-id sidecar and the exactly-once FILE ledger micro-batch ingestion
  * rides on.
  *
  * One of [[Warehouse]]'s section traits — a pure textual split of the
  * original single file (unchanged public face, same `private[sink]`
  * surface); the self-type is the class itself, so every member reads as
  * before.
  */
private[sink] trait WarehouseStreamState { self: Warehouse =>

  // ------------------------------------------------------- streaming state --

  /** The consumer marks of `name`'s current snapshot (empty when absent): a
    * string map on the root, set only by a commit (the `marks` argument of
    * the write verbs, or [[WarehouseTxn.mark]]) and carried by every later
    * one, so a consumer's progress lands atomically with the output it
    * certifies. Header read: O(2 lines), zero Spark jobs.
    */
  def marks(name: String): Map[String, String] = {
    val v = currentVersion(name)
    if (v < 0) Map.empty else manifestHeader(name, Some(v)).marks
  }

  /** The `marks` argument certifying micro-batch `batchId` of `streamId`. */
  def batchIdMark(streamId: String, batchId: Long): Map[String, String] =
    Map(s"batch:$streamId" -> batchId.toString)

  /** Highest micro-batch id of `streamId` committed into `name` (-1 if
    * none), from its [[batchIdMark]] — the replay guard of the stream sink,
    * `RollupStream`, `CorpusStream`'s upserts and the rollup folds. A target
    * still holding the `_stream_<id>` sidecar of an older build is refused.
    */
  def lastCommittedBatchId(name: String, streamId: String): Long =
    marks(name).get(s"batch:$streamId") match {
      case Some(v) => v.toLong
      case None =>
        if (Files.exists(streamStatePath(name, streamId)))
          refuseUnmarked(name, streamId, s"a _stream_$streamId sidecar")
        -1L
    }

  /** Refuse consumer `consumer` on a target with no mark of it but with
    * `legacy` progress from an older build: resuming would re-apply from 0.
    */
  private[graft] def refuseUnmarked(name: String, consumer: String, legacy: String): Nothing =
    throw new IllegalStateException(
      s"$name: consumer '$consumer' has no commit-carried mark, but the table holds " +
        s"$legacy from an older build; resuming would re-apply its history from " +
        "version 0. Rebuild the target, or attach a fresh consumer id to a fresh target.")

  private def streamStatePath(name: String, streamId: String) =
    tableDir(name).resolve(s"_stream_$streamId")

  /** The batch id [[recordBatchId]] last wrote (-1 if none). */
  def recordedBatchId(name: String, streamId: String): Long = {
    val p = streamStatePath(name, streamId)
    if (Files.exists(p)) Files.readString(p).trim.toLong else -1L
  }

  /** Record `batchId` in a `_stream_<id>` sidecar beside `name` (atomic
    * pointer swap), apart from any commit — so only for progress that
    * certifies no commit of `name`: `ChangeFeedStream.poll`'s source-side
    * cursor (at-least-once by contract) and [[IndexFamily]]'s stamp and
    * `idxfollow:` ledger (multi-commit, converging by idempotent
    * re-derivation). Progress that certifies a commit is one of its [[marks]].
    */
  def recordBatchId(name: String, streamId: String, batchId: Long): Unit = {
    io.mkdirs(tableDir(name))
    io.atomicWrite(streamStatePath(name, streamId), batchId.toString)
  }

  private def streamFilesDir(name: String, streamId: String) =
    tableDir(name).resolve(s"_stream_files_$streamId")

  /** Segment-count threshold beyond which [[recordFiles]] folds the ledger
    * into one segment. 64 keeps reads at ≤64 small file opens while commits
    * stay O(batch) between compactions.
    */
  private val LedgerCompactSegments = 64

  private def ledgerSegments(name: String, streamId: String): Seq[Path] =
    io.list(streamFilesDir(name, streamId)).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("seg-") && !n.endsWith(".tmp")
    }

  /** Source files already loaded into `name` by `streamId` — the FILE-level
    * idempotence ledger for file-source streams. Unlike a batch-id
    * high-watermark, file identity survives checkpoint loss (a rebuilt
    * checkpoint renumbers batches from 0 but redelivers the same paths).
    * Stored as the UNION of append-only segment files, so reads tolerate
    * duplicate entries across segments. Metadata scale: O(#source files),
    * the same order as the manifest.
    */
  def loadedFiles(name: String, streamId: String): Set[String] =
    ledgerSegments(name, streamId)
      .flatMap(p => Files.readString(p).linesIterator.filter(_.nonEmpty)).toSet

  /** Record one batch's `files` in the loaded-files ledger by APPENDING a
    * new segment — O(batch), not O(total files) (a long-lived stream
    * rewriting the full ledger per micro-batch is cumulatively quadratic).
    * Called AFTER the data commit: a crash in the window re-applies at most
    * one batch's unrecorded files.
    *
    * When segments exceed [[LedgerCompactSegments]] the ledger is folded:
    * the merged set is written as a fresh segment FIRST, then the old
    * segments are removed — a crash mid-fold only leaves duplicate entries,
    * which the set union in [[loadedFiles]] absorbs. Safe because
    * foreachBatch serializes the stream's commits (single writer per
    * streamId).
    */
  def recordFiles(name: String, streamId: String, files: Seq[String]): Unit = {
    val dir = streamFilesDir(name, streamId)
    io.mkdirs(dir)
    def writeSegment(lines: Seq[String]): Unit = io.atomicWrite(
      dir.resolve(s"seg-${java.util.UUID.randomUUID().toString.take(12)}"), lines.mkString("\n"))
    writeSegment(files.distinct.sorted)
    val segments = ledgerSegments(name, streamId)
    if (segments.size > LedgerCompactSegments) {
      writeSegment(loadedFiles(name, streamId).toSeq.sorted)
      segments.foreach(io.delete)
    }
  }

  /** Dispatch on a resource's declared disposition (I6), collecting per-file
    * stats on the resource's PKs (+ replication key) AND range-clustering
    * each batch on its keys — unclustered batch files all span the full key
    * range, making every stat bound vacuous; clustered ones are disjoint,
    * so later merges and predicate file skipping actually prune. One extra
    * batch-sized shuffle per micro-batch buys O(matching files) IO on every
    * subsequent merge/scan of a 100 TB table.
    */
  def write(res: ResourceDef, df: DataFrame): Long = {
    val keys = (res.primaryKeys ++ res.replicationKey).filter(df.columns.contains)
    res.mode match {
      case WriteMode.Replace => replace(res.name, df, keys, clusterBy = keys)
      case WriteMode.Merge   => merge(res.name, df, res.primaryKeys, clusterBy = res.primaryKeys)
      case WriteMode.Append  => append(res.name, df, keys, clusterBy = keys)
    }
  }

  /** The staging face of [[transact]] — append-shaped writes only, because
    * only append-shaped commits are unconditionally rebase-safe (the
    * all-or-nothing guarantee must never meet a true OCC conflict mid-loop).
    * Each op writes its data files NOW (in per-txn attempt dirs, invisible
    * to readers) and stages manifest entries; the transaction's commit
    * point is the durable intent marker.
    */
  final class WarehouseTxn private[sink] (txnId: String) {
    private[sink] final class TxnDelta(val schema: StructType) {
      var files: Vector[DataFile] = Vector.empty
      var dels: Vector[DeleteFile] = Vector.empty
      var marks: Map[String, String] = Map.empty
    }
    private[sink] val deltas =
      scala.collection.mutable.LinkedHashMap.empty[String, TxnDelta]
    private var opN = 0

    private def deltaFor(name: String, schema: StructType): TxnDelta =
      deltas.getOrElseUpdate(name, new TxnDelta(schema))

    /** Staged [[Warehouse.append]]; auto-creates the table (the create
      * itself is an ordinary empty-v0 commit, visible but contentless).
      */
    def append(name: String, df: DataFrame, statsCols: Seq[String] = Nil,
               clusterBy: Seq[String] = Nil): Unit = {
      if (!self.exists(name)) self.create(name, df.schema)
      val man = currentManifest(name)
      val spec = partitionSpec(name)
      val in = cluster(SchemaOps.conform(df, man.schema), clusterBy, spec)
      opN += 1
      val entries = writeData(name, in, man.schema, s"dtx$txnId-$opN",
        statsCols ++ clusterBy ++ spec ++ inheritedStatsCols(name, Some(man)),
        seq = 0L, spec = spec)
      deltaFor(name, man.schema).files ++= entries
    }

    /** Staged [[Warehouse.morMerge]] (one-commit merge-on-read upsert).
      * Staged deletes apply to PRE-transaction rows only: every entry of a
      * table lands at one sequence number, so this op's delete shields the
      * whole transaction's staged rows, not just its own batch.
      */
    def morMerge(name: String, df: DataFrame, pks: Seq[String],
                 clusterBy: Seq[String] = Nil): Unit = {
      if (pks.isEmpty || !pks.forall(df.columns.contains) ||
          !self.exists(name)) {
        append(name, df, pks.filter(df.columns.contains),
          clusterBy.filter(df.columns.contains))
        return
      }
      val man = currentManifest(name)
      val schema = man.schema
      val in = SchemaOps.conform(df, schema)
      val spec = partitionSpec(name)
      opN += 1
      val dataEntries = writeData(name, cluster(in, clusterBy, spec), schema,
        s"dtx$txnId-$opN",
        pks ++ clusterBy ++ spec ++ inheritedStatsCols(name, Some(man)),
        seq = 0L, spec = spec, sortedBy = clusterBy)
      val keySchema = StructType(schema.fields.filter(f => pks.contains(f.name)))
      val delEntries = writeData(name, in.select(pks.map(col): _*).distinct(),
        keySchema, s"deltx$txnId-$opN", pks, seq = 0L)
      val d = deltaFor(name, schema)
      d.files ++= dataEntries
      d.dels ++= delEntries.filter(_.rows > 0)
        .map(e => DeleteFile(e.path, e.rows, 0L, pks, e.stats))
    }

    /** Set mark `key` on `name` in this transaction's commit of `name` (a
      * metadata-only one when nothing else is staged there).
      */
    def mark(name: String, key: String, value: String): Unit = {
      require(self.exists(name), s"no such table: $name")
      deltas.getOrElseUpdate(name, new TxnDelta(manifestHeader(name).schema)).marks += key -> value
    }

    /** Staged [[Warehouse.equalityDelete]]. */
    def equalityDelete(name: String, keys: DataFrame): Unit = {
      require(self.exists(name), s"no such table: $name")
      val man = currentManifest(name)
      val cols = keys.columns.toSeq
      require(cols.nonEmpty && cols.forall(man.schema.fieldNames.contains),
        s"delete key columns must be table columns: ${cols.mkString(",")}")
      val keySchema = StructType(man.schema.fields.filter(f => cols.contains(f.name)))
      opN += 1
      val entries = writeData(name, SchemaOps.conform(keys, keySchema).distinct(),
        keySchema, s"deltx$txnId-$opN", cols, seq = 0L)
      deltaFor(name, man.schema).dels ++= entries.filter(_.rows > 0)
        .map(e => DeleteFile(e.path, e.rows, 0L, cols, e.stats))
    }
  }
}
