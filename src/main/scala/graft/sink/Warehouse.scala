package graft.sink

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{ResourceDef, WriteMode}
import graft.schema.SchemaOps

import scala.jdk.CollectionConverters._

/** Load side of the engine: a snapshot-versioned parquet warehouse standing in
  * for the reference's Iceberg REST catalog + three write dispositions
  * (`salesforce_pipeline.py:62-176`; SURVEY.md §2.1 S5-S9, §2.3 J1).
  *
  * No Iceberg runtime jar ships in this environment (SURVEY §7.6.1), so table
  * semantics are emulated the way Iceberg itself does it — **manifest-based
  * snapshots** over immutable data files plus an atomically-swapped current
  * pointer:
  *
  *   warehouse/<table>/d<v>{b,r,c}-<attempt>/part-*.parquet  immutable data files
  *   warehouse/<table>/m<v>.manifest             snapshot = schema + file list
  *   warehouse/<table>/_current                  pointer file containing <v>
  *
  * A snapshot is a *list of files*, so commits are O(batch), not O(table):
  *   - append  — writes ONLY the batch's files; the new manifest references
  *     every prior file unchanged (the reference's PyIceberg sink likewise
  *     appends data files + metadata per run, `salesforce_pipeline.py:176`).
  *   - merge   — consults per-file PK min/max stats (the Iceberg
  *     lower/upper-bounds analog, recorded at write time) and rewrites ONLY
  *     the files whose key range may overlap the incoming batch; provably
  *     disjoint files carry over untouched.
  *   - replace — new manifest listing only the batch's files.
  *
  * Old snapshots stay fully readable (time travel) until
  * [[expireSnapshots]] drops their manifests and garbage-collects data files
  * no surviving snapshot references. Concurrent committers are serialized by
  * a true compare-and-swap: the manifest file's atomic creation (hard link,
  * CREATE_NEW semantics) IS the commit — exactly one of two racing writers
  * for the same version can create `m<v>.manifest`; the loser gets
  * [[java.util.ConcurrentModificationException]] and must re-read + retry,
  * which is Iceberg's catalog CAS-and-retry loop.
  *
  * Durability: every metadata write, link, move and delete goes through
  * `io` ([[MetaIO]]: private tmp + ATOMIC_MOVE, hard-link CAS, one step per
  * file-system mutation), so the crash behaviour of each protocol is the
  * behaviour of that one seam at each of its steps.
  *
  * @param mergeBroadcastMaxKeys size gate for the merge anti-join: the
  *   incoming PK tuples (one per batch row, duplicates included — exactly
  *   what is broadcast) are broadcast only when there are at most this many
  *   (the count rides on the bounds aggregate — no extra job).
  *   Larger delete sets fall back to a shuffled sort-merge anti-join —
  *   slower, but a backfill-sized batch (10⁸ PKs) must not OOM executors
  *   the way an unconditional `broadcast()` hint would (the hint disables
  *   Spark's own size check).
  * @param io the metadata-IO seam; only specs pass anything but the local
  *   implementation (the crash matrix's step-counting, crash-injecting one).
  */
final class Warehouse(private[sink] val spark: SparkSession,
                      private[sink] val root: String,
                      mergeBroadcastMaxKeys: Long = 4000000L,
                      private[graft] val io: MetaIO = MetaIO.local)
    extends WarehouseTransactions with WarehouseDv with WarehouseMor
    with WarehouseStaging with WarehouseAnalyze with WarehouseRefs
    with WarehouseChangeFeed with WarehouseStreamState {

  // Field-id resolution for warehouse scans (Spark's Iceberg-compat read
  // path): when a requested schema carries `parquet.field.id` metadata,
  // columns resolve BY ID against the ids the writer stamped into the
  // files — names become pure labels, which is what makes RENAME COLUMN a
  // metadata-only commit ([[renameColumn]]). Schemas WITHOUT ids (external
  // data, pre-field-id tables) are untouched by this conf: Spark falls
  // back to name matching exactly as before.
  spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  // Parse-once semi-structured storage (the Iceberg-v3 VariantType story):
  // warehouse tables may carry VARIANT columns ([[writeData]] writes them
  // SHREDDED — typed parquet subcolumns beside the binary fallback), and
  // these two read confs are what turn the stored shape into scan-time
  // wins: `allowReadingShredded` reads the typed subcolumns directly
  // (instead of reassembling binary variants row by row), and
  // `pushVariantIntoScan` rewrites `variant_get` extractions into the scan
  // so a query touching `$.k` decodes ONE shredded leaf column — no JSON
  // string parse, no full-variant materialization, ordinary parquet column
  // IO. Both engage Spark's own rules (PushVariantIntoScan on the V1 path,
  // V2ScanRelationPushDown.pushDownVariants on the catalog's DSv2 path);
  // set explicitly so the engine never depends on build defaults.
  spark.conf.set("spark.sql.variant.allowReadingShredded", "true")
  spark.conf.set("spark.sql.variant.pushVariantIntoScan", "true")

  // ------------------------------------------------------------ ref names --

  /** Split `t@branch` into (base table, branch). A branch is a ref-suffixed
    * manifest NAMESPACE inside the base table's directory: branch manifests
    * are `m<v>@<branch>.manifest`, the pointer hint `_current@<branch>` —
    * same data files, same segments, same commit protocol. Every verb that
    * resolves paths through [[tableDir]]/[[manifestPath]]/[[pointer]]
    * (append, merge, morMerge, deletes, compaction, schema evolution,
    * restore, change feed, transactions) therefore works on a branch
    * unchanged — the Iceberg branch story recast as per-ref ledgers.
    */
  private[sink] def splitRef(name: String): (String, Option[String]) = {
    val i = name.indexOf('@')
    if (i < 0) (name, None) else (name.substring(0, i), Some(name.substring(i + 1)))
  }
  private[sink] def refOf(name: String): Option[String] = splitRef(name)._2
  private[sink] def refSuffix(name: String): String =
    refOf(name).map("@" + _).getOrElse("")

  private[sink] def tableDir(name: String) = Paths.get(root, splitRef(name)._1)
  private[sink] def pointer(name: String) =
    tableDir(name).resolve(s"_current${refSuffix(name)}")

  // ------------------------------------------------------------ field ids --

  /** Spark's parquet field-id metadata key (ParquetUtils.FIELD_ID_METADATA_KEY). */
  private val FieldIdKey = "parquet.field.id"

  private[sink] def fieldIdOf(f: StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey)) else None

  private[sink] def hasFieldIds(schema: StructType): Boolean = {
    val ids = schema.fields.flatMap(fieldIdOf)
    ids.length == schema.fields.length && ids.distinct.length == ids.length
  }

  /** Stamp positional field ids 1..n unless the schema already carries a
    * complete, duplicate-free id set (round-tripped from another table —
    * keep it: ids are identity).
    */
  private[sink] def withFieldIds(schema: StructType): StructType =
    if (hasFieldIds(schema)) schema
    else StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(FieldIdKey, i + 1L).build())
    })

  /** Highest field id EVER assigned to this table — ids are never reused
    * (Iceberg's rule: a re-added column with a recycled id would read the
    * dropped column's bytes out of old files). The counter file is advanced
    * BEFORE any schema commit that consumes ids, so a crash can only leave
    * a gap, never a reuse.
    */
  private def maxFieldIdPath(name: String) = tableDir(name).resolve("_maxfid")

  private[sink] def reserveFieldIds(name: String, n: Int, floor: Long): Long = {
    val p = maxFieldIdPath(name)
    val cur = if (Files.exists(p)) Files.readString(p).trim.toLong else 0L
    val base = math.max(cur, floor)
    io.atomicWrite(p, (base + n).toString)
    base
  }
  private[sink] def manifestPath(name: String, v: Long) =
    tableDir(name).resolve(s"m$v${refSuffix(name)}.manifest")

  /** S6 existence probe. A table exists once it has any committed snapshot:
    * the pointer is the normal signal, but a crash between the very first
    * manifest link and the pointer write leaves a committed v0 with no
    * pointer — probing m0 directly keeps such a table visible (and
    * [[currentVersion]]'s forward scan then recovers its version).
    */
  def exists(name: String): Boolean = {
    // pending multi-table rename AND transaction intents roll forward
    // BEFORE any probe: every access path enters here, so no reader can
    // observe a half-moved family ([[renameAll]]) and no pending
    // transaction outlives a single warehouse access ([[transact]])
    recoverPendingRenames()
    recoverPendingTxns()
    Files.exists(pointer(name)) || Files.exists(manifestPath(name, 0L))
  }

  /** S12 catalog listing. */
  def listTables(): Seq[String] =
    io.list(Paths.get(root)).map(_.getFileName.toString).filter(exists).sorted

  /** Current committed version. The pointer file is a HINT, not the source
    * of truth: the commit point is the atomic appearance of `m<v>.manifest`
    * ([[commitManifest]]), and a crash between manifest link and pointer
    * update leaves the hint one behind — so scan forward from the hint to
    * the newest contiguous manifest (Iceberg's Hadoop-table
    * `version-hint.text` recovery, one `exists` probe in the common case).
    */
  def currentVersion(name: String): Long =
    if (!exists(name)) -1L
    else {
      var v = if (Files.exists(pointer(name)))
        Files.readString(pointer(name)).trim.toLong else -1L
      while (Files.exists(manifestPath(name, v + 1))) v += 1
      v
    }

  /** The current snapshot's manifest (schema + data-file list + stats). */
  def currentManifest(name: String): Manifest =
    Manifest.read(manifestPath(name, currentVersion(name)))

  /** Manifest of a specific committed snapshot. */
  def manifestAt(name: String, version: Long): Manifest = {
    require(version >= 0 && Files.exists(manifestPath(name, version)),
      s"no such snapshot: $name v=$version")
    Manifest.read(manifestPath(name, version))
  }

  /** Header-only snapshot facts — schema, row-id high-water, pending
    * delete-entry count — in O(2 lines), never replaying a single file
    * entry ([[Manifest.readHeader]]). The planner's fast path: `schema()`
    * and the "any pending MOR deletes?" gate on every SQL read must not
    * cost O(table files) at millions of files. `deleteCount` −1 = written
    * before the field existed (caller loads the manifest to find out).
    */
  def manifestHeader(name: String, version: Option[Long] = None): RootHeader = {
    val v = version.getOrElse(currentVersion(name))
    require(v >= 0 && Files.exists(manifestPath(name, v)),
      s"no such snapshot: $name v=$v")
    Manifest.readHeader(manifestPath(name, v))
  }

  /** SEGMENT-PRUNED manifest load ([[Manifest.readPruned]]): segments whose
    * root-line summary proves no file can satisfy `keep` are never parsed —
    * planning a partition-pruned query costs O(relevant segments), not
    * O(all table files). Returns the manifest over surviving segments
    * (a surviving segment's delete entries included; a skipped segment's
    * dropped only under [[Manifest.readPruned]]'s delete-aware proof) plus
    * the skipped-segment count; flat v1 manifests fall back to the full
    * read (skipped = 0).
    */
  def manifestPruned(name: String, version: Option[Long],
                     keep: SegSummary => Boolean): (Manifest, Int) = {
    val v = version.getOrElse(currentVersion(name))
    require(v >= 0 && Files.exists(manifestPath(name, v)),
      s"no such snapshot: $name v=$v")
    val p = manifestPath(name, v)
    Manifest.readPruned(p, keep).getOrElse((Manifest.read(p), 0))
  }

  /** Absolute path of one of `name`'s data files. */
  def resolvePath(name: String, rel: String): String =
    tableDir(name).resolve(rel).toString

  /** Absolute table directory (branch-ref aware) — metadata markers like
    * the bloom-index column list live directly under it.
    */
  def tableDirOf(name: String): String = tableDir(name).toString

  /** Commit epoch-millis of a snapshot (manifest file mtime) — supports
    * `TIMESTAMP AS OF` resolution in the SQL catalog.
    */
  def commitTimeMillis(name: String, version: Long): Long =
    Files.getLastModifiedTime(manifestPath(name, version)).toMillis

  /** S7 explicit auto-create: commit version 0 with an empty file list —
    * the `CREATE TABLE` analog of the reference's catalog auto-create
    * (`iceberg/catalog.py` create-if-absent path).
    */
  def create(name: String, schema: StructType): Long = create(name, schema, Nil)

  /** [[create]] with a declared partition spec (Iceberg hidden
    * partitioning): `partitionBy` entries are transform strings —
    * `"days(ts)"`, `"bucket(16,id)"`, `"truncate(4,s)"`,
    * `"years|months|hours(ts)"`, or a bare column name (identity). Every
    * subsequent write range-clusters the batch by the transform values and
    * records per-file transform bounds, so predicates on the SOURCE columns
    * prune files ([[graft.catalog.ManifestPruneRule]]) without the query
    * ever mentioning the layout. See [[PartitionTransforms]].
    */
  def create(name: String, schema: StructType, partitionBy: Seq[String]): Long = {
    require(refOf(name).isEmpty,
      s"cannot create a table at a branch name: $name (use createBranch)")
    require(!exists(name), s"table already exists: $name")
    io.mkdirs(tableDir(name))
    val widened = withFieldIds(StructType(schema.fields.map(_.copy(nullable = true))))
    reserveFieldIds(name, 0, widened.fields.flatMap(fieldIdOf).foldLeft(0L)(math.max))
    if (partitionBy.nonEmpty)
      writeSpecFile(name, PartitionTransforms.canonical(partitionBy, widened))
    commitManifest(name, 0L, Manifest(widened, Nil))
  }

  private[sink] def specPath(name: String) = tableDir(name).resolve("_spec")

  /** PARTITION-SPEC EVOLUTION (Iceberg's evolve-spec story): change the
    * table's declared transforms WITHOUT rewriting a byte — files keep the
    * layout (and the per-file transform bounds) they were written under;
    * only writes from now on cluster/hive-split by the new spec and record
    * its bounds. Everything downstream already resolves PER FILE:
    *
    *   - predicate pruning ([[graft.catalog.ManifestPruneRule]]) tests
    *     whatever transform bounds each file carries — old-spec files keep
    *     pruning by their old bounds, new files by the new;
    *   - storage-partitioned joins ([[graft.catalog.SpjSupport]]) report
    *     clustering only when EVERY live file is single-valued under the
    *     CURRENT spec — a mixed table simply falls back to shuffled joins
    *     (correct, just not exchange-free) until a rewrite
    *     ([[compactFiles]], which re-clusters by the current spec) makes
    *     it uniform again;
    *   - retired transforms stop being collected on new writes
    *     ([[inheritedStatsCols]]).
    *
    * So re-bucketing a grown 100 TB table is one metadata write now plus
    * rewrite IO ONLY where and when compaction chooses to pay it — never a
    * stop-the-world relayout. Validated against the CURRENT schema; an
    * empty `newSpec` un-partitions the table.
    */
  def updateSpec(name: String, newSpec: Seq[String]): Unit = {
    require(exists(name), s"no such table: $name")
    writeSpecFile(name, PartitionTransforms.canonical(newSpec, currentManifest(name).schema))
  }

  private[sink] def writeSpecFile(name: String, canon: Seq[String]): Unit =
    io.atomicWrite(specPath(name), canon.mkString("\n"))

  /** Declared partition transforms (canonical form); empty when
    * unpartitioned. Table-level metadata: survives replace/merge, moves
    * with [[rename]], dies with [[drop]].
    */
  def partitionSpec(name: String): Seq[String] =
    if (!Files.exists(specPath(name))) Nil
    else {
      Files.readAllLines(specPath(name)).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
    }

  /** Drop a table: removes data, manifests, and the pointer. Refuses a
    * branch name — that would wipe the whole table dir; [[dropBranch]]
    * removes just the ledger.
    */
  def drop(name: String): Boolean = {
    require(refOf(name).isEmpty, s"use dropBranch to drop a branch: $name")
    if (!Files.exists(tableDir(name))) return false
    io.deleteTree(tableDir(name))
    true
  }

  /** Rename a table (manifest paths are table-dir-relative, so a plain
    * directory move is a complete rename). Single-table only — for a
    * multi-table family swap (an index's corpus/cells/codebook/codes moving
    * together) use [[renameAll]], which is atomic to observers.
    */
  def rename(from: String, to: String): Unit = {
    require(refOf(from).isEmpty && refOf(to).isEmpty,
      s"cannot rename a branch: $from -> $to (branches move with their table)")
    require(exists(from), s"no such table: $from")
    require(!Files.exists(tableDir(to)), s"table already exists: $to")
    io.moveNew(tableDir(from), tableDir(to))
  }

  // ------------------------------------------------- atomic family rename --

  private[sink] def intentsDir = Paths.get(root, "_intents")

  /** Atomic multi-table rename — the blue/green index-family swap
    * ([[VectorIndexIngest]]'s corpus + `__cells` + `__codebook` + `__codes`
    * must move together; per-table [[rename]] would let a reader see a
    * mixed family). The WAP-tombstone discipline applied to renames: ONE
    * durable intent marker ([[MetaIO.atomicWrite]]) records every pair before
    * any directory moves, every access path ([[exists]]) rolls pending
    * intents forward before probing, and the marker is deleted only after
    * all moves hold — so an observer sees the family fully old (marker not
    * yet durable) or fully new (roll-forward completes the swap before the
    * probe answers), never a mix, and a crash between any two moves
    * converges on the next access.
    *
    * Pairs execute IN ORDER, so a chained swap
    * `Seq(live -> retired, candidate -> live)` is one atomic trade, and a
    * rotation through a spare name `Seq(a -> tmp, b -> a, tmp -> b)` swaps
    * two tables. Validation is sequential against the simulated end state:
    * each `from` must exist (possibly produced by an earlier pair), each
    * `to` must be free (possibly freed by an earlier pair).
    */
  def renameAll(pairs: Seq[(String, String)]): Unit = {
    recoverPendingRenames()
    require(pairs.nonEmpty, "renameAll needs at least one pair")
    require(pairs.forall(p => refOf(p._1).isEmpty && refOf(p._2).isEmpty),
      "cannot rename branches (they move with their table)")
    require(pairs.map(_._1).distinct.size == pairs.size, "duplicate source table")
    require(pairs.map(_._2).distinct.size == pairs.size, "duplicate target table")
    // simulate in order: present tables after each pair
    var present = listTables().toSet ++
      pairs.map(_._1).filter(n => Files.exists(tableDir(n)))
    pairs.foreach { case (f, t) =>
      require(present.contains(f), s"no such table: $f")
      require(!present.contains(t) && !Files.exists(tableDir(t)) || pairs.exists(_._1 == t),
        s"table already exists: $t")
      require(f != t, s"self-rename: $f")
      present = present - f + t
    }
    io.mkdirs(intentsDir)
    val marker = intentsDir.resolve(s"rename-${java.util.UUID.randomUUID().toString.take(8)}")
    io.atomicWrite(marker, pairs.map { case (f, t) => s"$f\t$t" }.mkString("\n"))
    executeRenameIntent(marker)
  }

  /** Roll one intent forward. Progress is durable: a `.done<i>` side
    * marker follows pair i's move, so the first pair without one is the
    * only pair that may or may not have moved, and its own two tables tell
    * which (before its move `from` is present and `to` free, after it the
    * reverse). Table presence alone cannot tell progress: a rotation's
    * tables exist after its last move exactly as before its first. Once
    * every pair holds, the marker is deleted first and its side markers
    * after it ([[recoverPendingRenames]] sweeps the orphans of a crash in
    * between). Executors in one JVM serialize on `Warehouse.renameLock`,
    * so a probe that meets a live intent waits for it instead of racing it.
    */
  private def executeRenameIntent(marker: Path): Unit = Warehouse.renameLock.synchronized {
    if (Files.exists(marker)) {
      val pairs = Files.readString(marker).split('\n').toSeq.filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
      }
      def done(i: Int) = marker.resolveSibling(s"${marker.getFileName}.done$i")
      pairs.zipWithIndex.foreach { case ((f, t), i) =>
        if (!Files.exists(done(i))) {
          val fd = tableDir(f); val td = tableDir(t)
          if (Files.exists(fd) && !Files.exists(td)) {
            try io.moveNew(fd, td)
            catch { case _: java.nio.file.FileSystemException => () } // racer won; verified below
          }
          if (!(Files.exists(td) && !Files.exists(fd)))
            throw new IllegalStateException(s"rename intent ${marker.getFileName} $f -> $t " +
              s"cannot converge (from=${Files.exists(fd)}, to=${Files.exists(td)})")
          io.atomicWrite(done(i), "")
        }
      }
      io.delete(marker)
      pairs.indices.foreach(i => io.delete(done(i)))
    }
  }

  /** Complete any pending [[renameAll]] intents (oldest first), and drop
    * the side markers of intents already complete. One stat call when none
    * have ever been created — the common case — so the [[exists]]-path
    * guard is effectively free.
    */
  private def recoverPendingRenames(): Unit = {
    if (!Files.exists(intentsDir)) return
    val (markers, sides) = io.list(intentsDir)
      .filter(p => p.getFileName.toString.startsWith("rename-") &&
        !p.getFileName.toString.endsWith(".tmp"))
      .partition(p => !p.getFileName.toString.contains(".done"))
    markers.sortBy(_.getFileName.toString).foreach(executeRenameIntent)
    sides.filter { p =>
      val n = p.getFileName.toString
      !Files.exists(p.resolveSibling(n.substring(0, n.indexOf(".done"))))
    }.foreach(io.delete)
  }


  /** Explicit manifest compaction (Iceberg `rewrite_manifests`): commit the
    * current snapshot again with its entry list coalesced into ONE fresh
    * segment — metadata-only, zero data IO, content-identical. The
    * automatic segment/tombstone budget already coalesces amortized-O(1);
    * this is the operator's handle for doing it off the ingest path (e.g.
    * before a read-heavy period, so every reader pays one-segment roots).
    */
  def rewriteManifests(name: String): Long = {
    require(exists(name), s"no such table: $name")
    var tries = 0
    while (true) {
      val cur = currentVersion(name)
      try return commitManifest(name, cur + 1, manifestAt(name, cur), coalesce = true)
      catch {
        case e: java.util.ConcurrentModificationException =>
          tries += 1; if (tries > 5) throw e
      }
    }
    -1L // unreachable
  }

  /** Storage facts of one snapshot's manifest ROOT for `$manifests`
    * inspection: (root bytes, referenced segments with their byte sizes,
    * tombstone count). Zero data IO — root + a stat per segment.
    */
  def manifestStorage(name: String, version: Long):
      (Long, Seq[(String, Long)], Int) = {
    val p = manifestPath(name, version)
    require(Files.exists(p), s"no such snapshot: $name v=$version")
    val segs = Manifest.segmentRefs(p).map { s =>
      val sp = tableDir(name).resolve(s)
      s -> (if (Files.exists(sp)) Files.size(sp) else -1L)
    }
    (Files.size(p), segs, Manifest.tombstoneCount(p))
  }

  /** Data files of the current snapshot — stats included (for catalog
    * introspection and tests).
    */
  def dataFiles(name: String): Seq[DataFile] = currentManifest(name).files

  /** S11 full-table scan of the current snapshot, pinned when called: a
    * commit after `load` is invisible to every later action on the frame.
    * Served like [[loadVersion]].
    */
  def load(name: String): DataFrame = loadVersion(name, currentVersion(name))

  /** Time travel: scan a specific committed snapshot (data files are
    * immutable, so any non-expired version stays readable — the Iceberg
    * `VERSION AS OF` analog).
    *
    * The ONE read path: the frame is a relation over the catalog's
    * [[graft.catalog.GraftTable]] pinned to `version`, so a programmatic
    * filter prunes segments, files and bloom sidecars
    * ([[graft.catalog.ManifestPruneRule]]) and pending MOR deletes are
    * spliced ([[graft.catalog.MorReadRule]]) exactly as for
    * `SELECT ... VERSION AS OF`. Those rules ride `GraftExtensions`: a
    * session without it refuses to scan a snapshot with pending deletes
    * (`GraftTable.newScanBuilder`) rather than resurrect deleted rows.
    */
  def loadVersion(name: String, version: Long): DataFrame = {
    require(version >= 0 && Files.exists(manifestPath(name, version)),
      s"no such snapshot: $name v=$version")
    org.apache.spark.sql.graft.ColumnBridge.dataFrame(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new graft.catalog.GraftTable(name, name, root, Some(version)), None, None))
  }

  /** Scan a snapshot with ROW LINEAGE: every surviving row carries
    * `_row_id`, its stable identifier (the Iceberg v3 row-lineage analog).
    * Freshly committed files serve `file.firstRowId + physical ordinal` —
    * derived from manifest metadata plus the scan's own
    * `_metadata.row_index`, zero stored bytes; content-preserving REWRITES
    * (compaction, delete-survivor rewrites) MATERIALIZE the ids into the
    * new files and mark the entries ([[RowLineage]]), so the id follows
    * the row wherever maintenance moves it. Stable across appends, MOR
    * deletes/upserts (deletion vectors hide rows, never move them),
    * compaction, DELETE WHERE, schema evolution, branches, WAP publishes
    * and restores; never reused (the assignment high-water rides every
    * manifest root). Merge-family ops replace matched rows with INCOMING
    * versions — those are new row versions and draw fresh ids from their
    * file's range, the MOR engine posture. Rows of files committed before
    * the feature refuse with the adoption step spelled out.
    */
  def loadWithLineage(name: String, version: Long = -1L): DataFrame = {
    val v = if (version < 0) currentVersion(name) else version
    val m = Manifest.read(manifestPath(name, v))
    val bad = m.files.count(_.firstRowId < 0)
    require(bad == 0,
      s"$name v$v: $bad data file(s) predate row lineage — make any commit " +
        "(an append, or CALL graft.system.rewrite_manifests) to adopt ids, then retry")
    lineageFrame(name, m)
  }

  /** [[loadWithLineage]]'s core over an explicit manifest — also the input
    * every content-preserving rewrite reads back, so surviving rows keep
    * their ids across the rewrite. Files are grouped by whether the rewrite
    * MATERIALIZED ids physically ([[RowLineage]]): marked files serve
    * `coalesce(physical, firstRowId + ordinal)` (carried rows keep ids,
    * rewrite-introduced rows inherit fresh ones from the file's range),
    * unmarked files derive purely from metadata + `_metadata.row_index`.
    */
  private[sink] def lineageFrame(name: String, m: Manifest): DataFrame = {
    val out = StructType(m.schema.fields.toSeq ++ Seq(
      StructField("_row_id", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("_last_updated_version",
        org.apache.spark.sql.types.LongType, nullable = false)))
    if (m.files.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), out)
    def part(files: Seq[DataFile], mat: Boolean): DataFrame = {
      val bases = spark.createDataFrame(
        files.map(f => Row(f.path, f.firstRowId, f.seq)).asJava,
        StructType(Seq(StructField(PosFileCol, StringType, nullable = false),
          StructField("__rowid_base", org.apache.spark.sql.types.LongType, nullable = false),
          StructField("__rowid_seq", org.apache.spark.sql.types.LongType, nullable = false))))
      val scanSchema =
        if (!mat) m.schema
        else StructType(m.schema.fields.toSeq ++ Seq(
          StructField(RowLineage.PhysCol,
            org.apache.spark.sql.types.LongType, nullable = true),
          StructField(RowLineage.VerCol,
            org.apache.spark.sql.types.LongType, nullable = true)))
      val joined = morFrameImpl(name, Manifest(scanSchema, files, m.deletes),
          keepPositions = true)
        .join(broadcast(bases), Seq(PosFileCol))
      val withId =
        if (!mat) joined
          .withColumn("_row_id", col("__rowid_base") + col(PosIdxCol))
          .withColumn("_last_updated_version", col("__rowid_seq"))
        else joined
          .withColumn("_row_id",
            coalesce(col(RowLineage.PhysCol), col("__rowid_base") + col(PosIdxCol)))
          // null physical version = "as new as the file" ⟹ the file's seq
          .withColumn("_last_updated_version",
            coalesce(col(RowLineage.VerCol), col("__rowid_seq")))
      withId.select(out.fieldNames.toSeq.map(col): _*)
    }
    val (matF, virtF) = m.files.partition(_.stats.contains(RowLineage.Key))
    Seq((matF, true), (virtF, false)).filter(_._1.nonEmpty)
      .map { case (fs, isMat) => part(fs, isMat) }
      .reduce(_ unionByName _)
  }

  /** The victims of a rewrite, read back for rewriting ([[victimScan]]):
    * `frame` carries the lineage columns physically when `carry`, and
    * `scanBytes` sizes the rewrite for [[cluster]]'s small-batch gate.
    */
  private[sink] final case class VictimScan(frame: DataFrame, carry: Boolean, scanBytes: BigInt)

  /** The one read every content-preserving rewrite starts from. When every
    * victim has a row-id base, the rows ride their lineage as the physical
    * [[RowLineage]] columns ([[lineageFrame]]), so survivors keep their ids;
    * victims predating lineage fall back to the plain delete-applied scan.
    * `scanBytes` is the size of the files the frame scans, as Spark's file
    * index already listed it (no extra stat call). The plan's own estimate
    * is useless here: Spark sizes an inner join as the product of its
    * children, so the lineage lookup joins inflate it thousands of times.
    */
  private[sink] def victimScan(name: String, m: Manifest): VictimScan = {
    val carry = m.files.forall(_.firstRowId >= 0)
    val frame =
      if (carry) lineageFrame(name, m)
        .withColumnRenamed("_row_id", RowLineage.PhysCol)
        .withColumnRenamed("_last_updated_version", RowLineage.VerCol)
      else morFrame(name, m)
    val scanBytes = frame.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        BigInt(l.relation.sizeInBytes)
    }.sum
    VictimScan(frame, carry, scanBytes)
  }

  /** Scan `m`'s data files with its pending equality deletes applied
    * (merge-on-read): files are grouped by WHICH deletes apply to them —
    * seq-aware, a delete touches only files with a strictly smaller data
    * sequence number, so rows (re-)inserted after the delete survive — and
    * each group anti-joins its applicable delete-key scans (one per key
    * column set; plain equality, null keys never match). Group count is
    * bounded by the pending-delete count, which [[compactDeletes]] and
    * every rewrite op return to zero. With no pending deletes this is
    * exactly the plain parquet scan.
    */
  private[graft] def morFrame(name: String, m: Manifest): DataFrame =
    morFrameImpl(name, m, keepPositions = false)

  /** [[morFrame]] with an option the MOR verbs need: `keepPositions = true`
    * attaches and RETAINS the ([[PosFileCol]], [[PosIdxCol]]) identity of
    * every surviving row — [[positionUpdate]] reads the delete-applied view
    * and still knows exactly which (file, ordinal) each matched row came
    * from, so chained MOR updates never materialize and never resurrect.
    */
  private[sink] def morFrameImpl(name: String, m: Manifest,
                           keepPositions: Boolean): DataFrame = {
    def scan(files: Seq[DataFile]) =
      spark.read.schema(m.schema)
        .parquet(files.map(f => tableDir(name).resolve(f.path).toString): _*)
    if (m.files.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](),
        if (!keepPositions) m.schema
        else StructType(m.schema.fields.toSeq ++ PosDeleteSchema.fields))
    else if (m.deletes.isEmpty && !keepPositions) scan(m.files)
    else {
      // deletion vectors name their target files explicitly (`cols`), so
      // applicability is exact per-file metadata, not just an optimization —
      // an untargeted file probes nothing and belongs with the lighter group
      def applicable(f: DataFile) = m.deletes.filter(d =>
        if (d.kind == "dv") d.cols.contains(f.path)
        else d.seq > f.seq)
      m.files.groupBy(applicable)
        .toSeq.sortBy(_._2.head.path) // deterministic group order
        .map { case (dels, files) =>
          val (dvDels, eqDels) = dels.partition(_.kind == "dv")
          // position columns ride the SCAN (hidden _metadata is only
          // reachable on the file-source relation itself), feed the DV
          // probe last, and are dropped before the union unless the caller
          // asked to keep them
          val needPos = keepPositions || dvDels.nonEmpty
          val base =
            if (!needPos) scan(files)
            else withFilePositions(name, files, scan(files))
          val afterEq = eqDels.groupBy(_.cols).toSeq.sortBy(_._1.mkString(","))
            .foldLeft(base) { case (acc, (cols, ds)) =>
              val keySchema = StructType(m.schema.fields.filter(f => cols.contains(f.name)))
              val keys = spark.read.schema(keySchema)
                .parquet(ds.map(d => tableDir(name).resolve(d.path).toString): _*)
              acc.join(keys, cols, "left_anti")
            }
          // positional deletes apply as a per-row BITMAP PROBE inside the
          // scan's codegen span (DvDeleted over this group's per-file
          // bitmaps — broadcast bytes while small, descriptor broadcast +
          // task-side point reads past the gate, see dvProbeFor) — no
          // anti-join, no shuffle, no pair scan; the newest DV per file
          // wins (merge-on-write makes it a superset)
          val afterPos =
            if (dvDels.isEmpty) afterEq
            else afterEq.filter(!graft.functions.expressions.DvFns.dvDeleted(
              dvProbeFor(name, dvDels, files), col(PosFileCol), col(PosIdxCol)))
          if (needPos && !keepPositions) afterPos.drop(PosFileCol, PosIdxCol)
          else afterPos
        }.reduce(_ unionByName _)
    }
  }

  /** Column names and schema of positional delete files — (data-file
    * relative path, row ordinal). The names must never collide with the
    * reserved partition-transform prefix (`__graft_p*`) or user columns.
    */
  private[sink] val PosFileCol = "__pdel_file"
  private[sink] val PosIdxCol = "__pdel_pos"
  private[sink] val PosDeleteSchema = StructType(Seq(
    StructField(PosFileCol, StringType, nullable = false),
    StructField(PosIdxCol, LongType, nullable = false)))


  // ---------------------------------------------------------------- stats --

  /** Stat aggregates for one column, normalized into a string ("s") or
    * BigDecimal ("n") comparison domain — timestamps as epoch micros, dates
    * as epoch days, booleans as 0/1. Unsupported types yield no stats
    * (pruning then treats the column as unknown = always-overlapping).
    */
  private[sink] case class StatCol(name: String, kind: String, minExpr: Column, maxExpr: Column,
                                   cntExpr: Column)

  private[sink] def statCols(schema: StructType, cols: Seq[String]): Seq[StatCol] =
    cols.distinct.flatMap { c =>
      schema.fields.find(_.name == c) match {
        case Some(f) => f.dataType match {
          // cntExpr counts NON-NULL values (count(col) semantics): the scan
          // fallback's null count is rows − cnt, exactly the footer's numNulls
          case StringType     => Some(StatCol(c, "s", min(col(c)), max(col(c)), count(col(c))))
          case _: NumericType => Some(StatCol(c, "n", min(col(c)), max(col(c)), count(col(c))))
          case TimestampType  => Some(StatCol(c, "n", min(unix_micros(col(c))), max(unix_micros(col(c))), count(col(c))))
          case DateType       => Some(StatCol(c, "n", min(unix_date(col(c))), max(unix_date(col(c))), count(col(c))))
          case BooleanType    => Some(StatCol(c, "n", min(col(c).cast("int")), max(col(c).cast("int")), count(col(c))))
          case _              => None
        }
        // partition-transform stat key ("days(ts)", "bucket(16,id)", ...):
        // min/max of the TRANSFORM value, same one-pass grouped agg (the
        // transform value is null iff the source is null, so count(e) is the
        // transform column's non-null count)
        case None => PartitionTransforms.parseKey(c).flatMap { pf =>
          schema.fields.find(_.name == pf.src).flatMap { sf =>
            PartitionTransforms.exprAndKind(pf, sf.dataType).map { case (e, k) =>
              StatCol(c, k, min(e), max(e), count(e))
            }
          }
        }.orElse {
          // variant-path stat key ("vget(props,$.k,long)"): bounds of the
          // typed extraction — JSON-field predicates then FILE-prune
          // ([[VariantStats]] for the key syntax + soundness contract)
          VariantStats.parseKey(c).filter(VariantStats.applies(schema, _)).map { vk =>
            val e = VariantStats.extractExpr(vk)
            StatCol(c, vk.kind, min(e), max(e), count(e))
          }
        }
      }
    }

  /** Render one aggregated stat value, or None if it can't serve as a bound
    * (NaN/Infinity, or a string too long to be worth storing — Iceberg
    * truncates bounds; we drop them, which is only ever conservative).
    */
  private def renderStat(kind: String, v: Any): Option[String] = {
    // -0.0 == 0.0 under both comparison domains, but their strings differ;
    // normalize so footer-derived bounds (parquet's reader widens zero
    // bounds to (-0.0, +0.0)) and scan-derived bounds render identically
    val norm = v match {
      case f: java.lang.Float  if f.floatValue() == 0f  => java.lang.Float.valueOf(0f)
      case d: java.lang.Double if d.doubleValue() == 0d => java.lang.Double.valueOf(0d)
      case x => x
    }
    Option(norm).map(_.toString).filter { s =>
      if (kind == "n") scala.util.Try(BigDecimal(s)).isSuccess else s.length <= 256
    }
  }

  /** One column's [[ColStat]] from its (min, max) aggregate/footer values —
    * the ONE rendering used by both the scan and footer stat paths, so
    * their manifests stay bit-identical. None = unrenderable (NaN, huge
    * string): the column is left out and pruning keeps the file in scope.
    */
  private def statFromBounds(sc: StatCol, mn: Any, mx: Any,
                             nulls: Long = -1L): Option[(String, ColStat)] =
    (renderStat(sc.kind, mn), renderStat(sc.kind, mx)) match {
      case (Some(a), Some(b)) => Some(sc.name -> ColStat(sc.kind, a, b, nulls))
      case _                  => None
    }

  /** Bounds map of one aggregated row carrying `__mn$i`/`__mx$i` columns for
    * `scs` — the ONE place per-column stats are materialized (file bounds in
    * [[writeData]] and batch bounds in [[merge]] must stay comparable).
    * Null counts ride along when the row also carries `__rows` + `__nn$i`
    * (the per-file scan fallback does; merge's batch-bounds rows don't —
    * their stats are transient pruning inputs, never persisted).
    */
  private def statsOfRow(r: Row, scs: Seq[StatCol]): Map[String, ColStat] = {
    val names = r.schema.fieldNames.toSet
    val rowsOpt = if (names.contains("__rows")) Some(r.getLong(r.fieldIndex("__rows"))) else None
    scs.zipWithIndex.flatMap { case (sc, i) =>
      val mn = r.get(r.fieldIndex(s"__mn$i"))
      val mx = r.get(r.fieldIndex(s"__mx$i"))
      val nulls = rowsOpt match {
        case Some(rows) if names.contains(s"__nn$i") =>
          rows - r.getLong(r.fieldIndex(s"__nn$i"))
        case _ => -1L
      }
      if (mn == null) Some(sc.name -> ColStat("z", "", "", nulls)) // all-null in this column
      else statFromBounds(sc, mn, mx, nulls) // None = unknown: pruning keeps the file in scope
    }.toMap
  }

  /** Write `in` under `dirName` and return one [[DataFile]] per written
    * parquet file, with per-file row counts and min/max stats for `cols`
    * harvested from the PARQUET FOOTERS just written — O(files)
    * metadata-only reads, zero re-scan of the batch (the Iceberg writer
    * discipline: manifest bounds come from the footer the write already
    * produced). Partition-transform stat keys materialized by [[cluster]]
    * (hive-split, single-valued per file) are read back from the
    * `__graft_p<i>=<value>` directory names; `spec` supplies the index →
    * transform-key mapping. Any column the footer can't prove
    * ([[FooterStats.Unknown]] — INT96, NaN bounds, missing stats) falls
    * back to a column-pruned grouped scan for THAT column only; a
    * completely unreadable footer falls back to the legacy full scan.
    * Both paths render through [[statFromBounds]], so the resulting
    * manifests are bit-identical (`FooterStatsSpec`).
    */
  private[sink] def writeData(name: String, in: DataFrame, schema: StructType,
                        dirName: String, cols: Seq[String], seq: Long = 0L,
                        spec: Seq[String] = Nil,
                        sortedBy: Seq[String] = Nil,
                        lineageMat: Boolean = false): Seq[DataFile] = {
    // SORT-ORDER marker: callers whose layout ran through [[cluster]] with
    // explicit cluster keys declare it, and each written file records the
    // keys' FIELD IDS under [[SortMarker.Key]] (ids survive rename, die
    // with drop — the bloom-sidecar discipline). The key-grouped scan
    // proves per-partition ordering back from these + chain-disjoint
    // bounds and reports it (SupportsReportOrdering), which is what lets a
    // co-partitioned SMJ plan with NO per-partition sorts.
    val sortedIds: Option[String] =
      if (sortedBy.isEmpty || schema.fieldNames.contains(SortMarker.Key)) None
      else {
        val ids = sortedBy.map(c => schema.fields.find(_.name == c).flatMap(fieldIdOf))
        if (ids.contains(None)) None else Some(ids.flatten.mkString(","))
      }
    def withMarker(entries0: Seq[DataFile]): Seq[DataFile] = {
      val entries = sortedIds match {
        case None    => entries0
        case Some(v) =>
          entries0.map(e => e.copy(stats = e.stats + (SortMarker.Key -> ColStat("s", v, v, 0L))))
      }
      // lineage-materialized rewrites: the files physically carry
      // RowLineage.PhysCol — mark the entries so reads know to coalesce
      if (!lineageMat) entries
      else entries.map(e =>
        e.copy(stats = e.stats + (RowLineage.Key -> ColStat("s", "m", "m", 0L))))
    }
    // Unique per ATTEMPT, not just per version: two racing writers both
    // computing the same `next` must never share a directory — the loser's
    // mode("overwrite") would destroy the winner's already-committed files
    // before the OCC guard at the pointer swap ever runs. The loser's
    // orphaned dir is never referenced by any manifest and is swept by
    // expireSnapshots.
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val dir = tableDir(name).resolve(s"$dirName-$attempt")
    // Materialized transform columns ([[cluster]]) hive-split the write so
    // every file is single-valued per transform (the SPJ invariant); the
    // __graft_p columns live only in directory names, never file content.
    val pcols = in.columns.filter(isSpecCol)
      .sortBy(_.stripPrefix(SpecColPrefix).toInt)
    // Warehouse files write INT64-micros timestamps (the Iceberg-mandated
    // parquet form): Spark's default INT96 is deprecated and has NO defined
    // stat sort order, which would force every timestamp stat column back
    // onto the scan fallback — and timestamps are the watermark columns,
    // the commonest stats of all. The conf is session-global and OTHER
    // writes in the session (e.g. Verify's result dumps, user exports) must
    // keep their own flavor, so it is set inside a reference-counted scope
    // ([[Warehouse.withWriteConfs]]): warehouse writers overlapping on one
    // session (a fanned-out Pipeline.run, merge's two file sets) all see
    // TIMESTAMP_MICROS, and the last one out restores the value the first
    // one in found.
    val TsConf = "spark.sql.parquet.outputTimestampType"
    // the written frame must carry the table schema's field-id metadata so
    // the files record the ids scans resolve by (write conf defaults true);
    // callers' transforms may have dropped it, so re-apply in one projection
    val stamped =
      if (!hasFieldIds(schema)) in
      else in.select(in.columns.toSeq.map { c =>
        schema.fields.find(_.name == c) match {
          case Some(f) => col(c).as(c, f.metadata)
          case None    => col(c) // __graft_p partition columns
        }
      }: _*)
    val w = stamped.write.mode("overwrite")
    // VARIANT columns write SHREDDED (typed parquet subcolumns inferred
    // per write batch beside the binary fallback — the parquet variant
    // shredding spec Spark's writer implements): that is what makes the
    // stored shape queryable at column-IO cost instead of re-parsing a
    // JSON string per row per query. Same scope as TsConf.
    val hasVariant = schema.fields.exists(_.dataType.isInstanceOf[VariantType])
    val variantConfs =
      if (!hasVariant) Nil
      else Seq("spark.sql.variant.writeShredding.enabled" -> "true",
        "spark.sql.variant.inferShreddingSchema" -> "true")
    Warehouse.withWriteConfs(spark, (TsConf -> "TIMESTAMP_MICROS") +: variantConfs) {
      (if (pcols.isEmpty) w else w.partitionBy(pcols: _*)).parquet(dir.toString)
    }
    val scs = statCols(schema, cols)
    val td = tableDir(name).toAbsolutePath.normalize
    val files = FooterStats.listParquetFiles(dir)
    if (files.isEmpty) return Nil

    // --- classify stat columns: footer-provable, path-provable, scan-only
    val physical = scs.filter(sc => schema.fieldNames.contains(sc.name))
    val specIdxOfKey: Map[String, Int] = spec.zipWithIndex.flatMap { case (s, i) =>
      PartitionTransforms.parse(s).filter(_.fn != "identity").map(_.key -> i)
    }.toMap
    val pathable = scs.filterNot(physical.contains).filter(sc =>
      specIdxOfKey.get(sc.name).exists(i => pcols.contains(s"$SpecColPrefix$i")))
    val physTypes = physical.map(sc =>
      sc.name -> schema.fields.find(_.name == sc.name).get.dataType)
    // variant-path keys with footer-provable shapes ($.name): the shredded
    // leaf's chunk stats serve the bounds ([[FooterStats.vgetOutcome]]'s
    // residual gates); unprovable files fall into the scan set per key
    val vgetable: Seq[VariantStats.VKey] = scs
      .flatMap(sc => VariantStats.parseKey(sc.name))
      .filter(vk => VariantStats.applies(schema, vk) &&
        VariantStats.footerField(vk.path).nonEmpty)
    // AUTO-collected shredded-leaf keys (no declaration): every variant
    // column's clean shredded leaves record their own vget bounds at write
    // time — the footers are open anyway, so an ad-hoc JSON-path predicate
    // on an undeclared path prunes too. Declared keys keep their scan
    // fallback; auto keys only exist where the footer PROVES them.
    val variantSrcs = schema.fields
      .filter(_.dataType.isInstanceOf[VariantType]).map(_.name).toSeq

    // --- phase 1: footers (parallel, metadata-only) + hive-dir values
    val conf = spark.sparkContext.hadoopConfiguration
    val footer: Seq[(Path, Option[(Long, Map[String, FooterStats.Outcome])])] =
      FanOut(files.map(f => () =>
        f -> FooterStats.read(f, conf, physTypes, vgetable, variantSrcs)),
        timeout = scala.concurrent.duration.Duration(600, "s"))

    val DefaultPart =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    val SpecDir = s"""${java.util.regex.Pattern.quote(SpecColPrefix)}(\\d+)=(.*)""".r
    // per file: spec index -> raw hive dir value (still escaped)
    def dirValues(f: Path): Map[Int, String] =
      td.relativize(f.toAbsolutePath.normalize).iterator().asScala.flatMap(seg =>
        seg.toString match {
          case SpecDir(i, v) => Some(i.toInt -> v)
          case _             => None
        }).toMap
    // path outcome of one transform stat col for one file
    def pathOutcome(sc: StatCol, dirs: Map[Int, String]): FooterStats.Outcome =
      dirs.get(specIdxOfKey(sc.name)) match {
        case None => FooterStats.Unknown
        case Some(DefaultPart) =>
          // "n" transforms are null only for a null source (→ "z"); a
          // string truncate value collapses BOTH null and "" into this dir
          // name, so it alone can't prove which — scan that column instead
          if (sc.kind == "n") FooterStats.AllNull else FooterStats.Unknown
        // a hive-split dir holds exactly one non-null transform value, so
        // every row's transform value is that value — null count 0
        case Some(raw) => FooterStats.Bounds(
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(raw),
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(raw), 0L)
      }

    val fullFallback = footer.exists(_._2.isEmpty)
    val perFile: Map[Path, (Long, Map[String, FooterStats.Outcome])] =
      if (fullFallback) Map.empty
      else footer.collect { case (f, Some((rows, phys))) =>
        val dirs = dirValues(f)
        f -> (rows, phys ++ pathable.map(sc => sc.name -> pathOutcome(sc, dirs)))
      }.toMap

    // --- phase 2: one column-pruned grouped scan for whatever is unproven
    val scanCols: Set[String] =
      if (fullFallback) scs.map(_.name).toSet
      else scs.map(_.name).toSet -- (physical ++ pathable).map(_.name) --
        vgetable.map(_.key) ++
        perFile.valuesIterator.flatMap(_._2.collect {
          case (c, FooterStats.Unknown) => c
        })
    val scanScs = scs.filter(sc => scanCols.contains(sc.name))
    val scanned: Map[String, (Long, Map[String, ColStat])] =
      if (scanScs.isEmpty && !fullFallback) Map.empty
      else fileFactsViaScan(dir, schema, scanScs, td)

    // --- assemble (empty files produce no manifest entry, as the grouped
    // scan path never saw them)
    if (fullFallback)
      return withMarker(scanned.toSeq.map { case (rel, (rows, stats)) =>
        DataFile(rel, rows, stats, seq) })
    withMarker(files.flatMap { f =>
      val rel = td.relativize(f.toAbsolutePath.normalize).toString
      val (rows, outcomes) = perFile(f)
      if (rows == 0L) None
      else {
        val proven = scs.filterNot(sc => scanCols.contains(sc.name)).flatMap { sc =>
          outcomes.get(sc.name) match {
            case Some(FooterStats.AllNull)             => Some(sc.name -> ColStat("z", "", "", rows))
            case Some(FooterStats.Bounds(mn, mx, nls)) => statFromBounds(sc, mn, mx, nls)
            case _                                     => None
          }
        }.toMap
        val fromScan = scanned.get(rel).map(_._2).getOrElse(Map.empty)
          .filter { case (c, _) => scanCols.contains(c) }
        // auto-discovered vget keys: outcomes not owned by any declared
        // stat col, rendered through the same renderStat domains (Unknown
        // never reaches here — FooterStats drops it at discovery)
        val autoVget = outcomes.iterator
          .filterNot { case (k, _) => scs.exists(_.name == k) }
          .flatMap { case (k, oc) =>
            VariantStats.parseKey(k).flatMap { vk =>
              oc match {
                case FooterStats.AllNull => Some(k -> ColStat("z", "", "", rows))
                case FooterStats.Bounds(mn, mx, nls) =>
                  (renderStat(vk.kind, mn), renderStat(vk.kind, mx)) match {
                    case (Some(a), Some(b)) => Some(k -> ColStat(vk.kind, a, b, nls))
                    case _                  => None
                  }
                case _ => None
              }
            }
          }.toMap
        Some(DataFile(rel, rows, autoVget ++ proven ++ fromScan, seq))
      }
    })
  }

  /** Scan-derived per-file facts (row count + stats for `scs`) for every
    * parquet file under `dir` — the legacy single grouped scan, kept as the
    * fallback for footer-unprovable columns and as the oracle the
    * footer-path property spec compares against.
    */
  private[sink] def fileFactsViaScan(dir: Path, schema: StructType, scs: Seq[StatCol],
                                     td: Path): Map[String, (Long, Map[String, ColStat])] = {
    val base = spark.read.schema(schema).parquet(dir.toString)
      .select(input_file_name().as("__file") +: schema.fieldNames.map(col).toSeq: _*)
    val aggs = count(lit(1)).as("__rows") +:
      scs.zipWithIndex.flatMap { case (sc, i) =>
        Seq(sc.minExpr.as(s"__mn$i"), sc.maxExpr.as(s"__mx$i"), sc.cntExpr.as(s"__nn$i")) }
    base.groupBy("__file").agg(aggs.head, aggs.tail: _*).collect().toSeq.map { r =>
      val abs = Paths.get(java.net.URI.create(r.getString(r.fieldIndex("__file"))))
      val rel = td.relativize(abs.toAbsolutePath.normalize).toString
      rel -> (r.getLong(r.fieldIndex("__rows")), statsOfRow(r, scs))
    }.toMap
  }

  /** Build per-file Bloom sidecars for `cols` ([[BloomIndex]]) — the
    * point-lookup index for keys the table is NOT clustered by, consulted
    * by the SQL catalog's file pruning for `=`/`IN` predicates.
    *
    * Incremental by immutability: only files MISSING a sidecar are scanned
    * (one column-pruned pass per column, grouped by file), so re-running
    * after every append indexes just the new batch — O(batch) like the
    * other index-beside-corpus ingests. Compaction/expiry sweep sidecars
    * with their data files; rewritten files simply need a re-run. Driver
    * memory is bounded by (files-in-this-build × numBits/8); size `fpp`
    * accordingly for huge backfills. Returns sidecars written.
    */
  def buildBloomIndex(name: String, cols: Seq[String], fpp: Double = 0.01): Int = {
    val man = currentManifest(name)
    val schema = man.schema
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"buildBloomIndex: no such column $c in $name"))
    var written = 0
    cols.foreach { c =>
      // sidecars are keyed by FIELD ID (rename-stable, never reused after
      // drop), names only appear in the marker — BloomIndex.keyFor scaladoc
      val key = BloomIndex.keyFor(schema, c)
      val todo = man.files.filter(f => !BloomIndex.exists(resolvePath(name, f.path), key))
      if (todo.nonEmpty) {
        graft.functions.BloomPrune.register(spark)
        // the aggregate's sizing args must be literals, so files are grouped
        // into power-of-two ROW-COUNT CLASSES and scanned one class per
        // pass: each file's filter is sized within 2x of its own optimum
        // (a tiny file beside a huge one no longer inherits the huge
        // sizing), and a homogeneous batch still runs as ONE job
        todo.groupBy(f => 63 - java.lang.Long.numberOfLeadingZeros(math.max(f.rows, 1L)))
          .values.foreach { grp =>
        val expected = math.min(grp.map(_.rows).max.max(1L), 4000000L)
        val numBits = math.max(math.min(
          org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expected, fpp),
          67108864L), 64L)
        val absOf = grp.map(f =>
          Paths.get(resolvePath(name, f.path)).toAbsolutePath.normalize.toString -> f).toMap
        val rows = spark.read.schema(schema)
          .parquet(grp.map(f => resolvePath(name, f.path)): _*)
          .select(input_file_name().as("__f"), xxhash64(col(c)).as("__h"))
          .groupBy("__f")
          .agg(call_function(graft.functions.BloomPrune.AggName, col("__h"),
            lit(expected), lit(numBits)).as("__b"))
          .collect()
        rows.foreach { r =>
          val abs = Paths.get(java.net.URI.create(r.getString(0)))
            .toAbsolutePath.normalize.toString
          val bytes = r.getAs[Array[Byte]]("__b")
          if (bytes != null && absOf.contains(abs)) {
            BloomIndex.writeSidecar(io, abs, key, bytes)
            written += 1
          }
        }
        }
      }
    }
    // marker = the O(1) planner short-circuit: queries consult sidecars
    // only for columns recorded here (recorded even when nothing was
    // missing — the marker may post-date the sidecars after a crash)
    BloomIndex.recordIndexedCols(io, tableDir(name).toString, cols)
    if (written > 0) BloomIndex.invalidate()
    written
  }

  /** Commit manifest `m` as version `next`: a true compare-and-swap.
    *
    * The root's full content is PUBLISHED by [[MetaIO.casLink]] — a
    * committer-private tmp, hard-linked onto `m<next>.manifest`, an atomic
    * CREATE_NEW: of two racing committers for the same `next`, exactly one
    * creates it; the loser is mapped to
    * [[java.util.ConcurrentModificationException]] (re-read and retry,
    * Iceberg's catalog CAS loop). There is NO check-then-act window: the
    * link either appears (with complete content, since the tmp was fully
    * written first) or the commit loses. A crash before the link commits
    * nothing (orphan tmp and segment, swept by [[expireSnapshots]]); a
    * crash after the link IS a commit — [[currentVersion]] recovers past
    * the stale pointer hint. The crash matrix spec replays this at every
    * step.
    *
    * The version pre-check stays as a fast-fail for commits whose base
    * version was overtaken while their data-file job ran (minutes) — it
    * saves the manifest write, but correctness never rests on it.
    *
    * Consumer marks ([[marks]]) ride the root too: the commit carries its
    * base root's marks overlaid with `marks`, and a rebase retry lands here
    * again over the winner's, so every commit keeps the marks it does not
    * set. `adoptMarks` commits `m.marks` instead (restore, branch publish).
    */
  private[sink] def commitManifest(name: String, next: Long, m: Manifest,
                                   coalesce: Boolean = false,
                                   marks: Map[String, String] = Map.empty,
                                   adoptMarks: Boolean = false): Long = {
    io.mkdirs(tableDir(name))
    val cur = currentVersion(name)
    if (cur != next - 1)
      throw new java.util.ConcurrentModificationException(
        s"$name: expected to commit v$next over v${next - 1}, but table is at v$cur " +
          "(concurrent writer); re-read and retry")
    val target = manifestPath(name, next)
    // ROW LINEAGE (Iceberg v3 first_row_id): every data file gets a fresh,
    // never-reused id range at its first commit, assigned HERE — the one
    // chokepoint every commit (append, rewrite, WAP publish, restore,
    // branch, rebase retry) funnels through, so assignment always runs
    // against the final post-rebase state. The high-water rides the root
    // (atomic with the commit), so removing the highest-id files can never
    // recycle their ids. Pre-lineage tables adopt ids wholesale on their
    // next commit (a one-time coalesce-sized metadata write).
    val base =
      if (next == 0) None
      else {
        val p = manifestPath(name, next - 1)
        // header-lines read, O(1): a full replay here would double every
        // commit's manifest cost at millions of files
        if (Files.exists(p)) Some(Manifest.readHeader(p)) else None
      }
    val assigned = Manifest.assignRowIds(m, base.fold(-1L)(_.rowHwm)).copy(marks =
      if (adoptMarks) m.marks else base.fold(Map.empty[String, String])(_.marks) ++ marks)
    // segmented write: O(delta) metadata — the root carries the base
    // version's segment refs forward and only this commit's added/removed
    // entries land as new lines (Manifest.writeDelta scaladoc); a baseless
    // write is the forced-coalesce path ([[rewriteManifests]])
    val root = Manifest.deltaRoot(io, tableDir(name), assigned,
      if (next == 0 || coalesce) None else Some(manifestPath(name, next - 1)))
    if (!io.casLink(target, root))
      throw new java.util.ConcurrentModificationException(
        s"$name: lost the commit race for v$next (concurrent writer); re-read and retry")
    // best-effort hint update; readers recover via the forward scan
    io.atomicWrite(pointer(name), next.toString)
    next
  }

  /** Test seam: invoked once at the head of every [[commitOrRebase]], BEFORE
    * the first CAS attempt — specs install a one-shot interfering commit
    * here to deterministically land a competing writer inside the race
    * window. Production: no-op.
    */
  private[sink] var preCommitHook: (String, Long) => Unit = (_, _) => ()

  /** Optimistic commit with AUTOMATIC REBASE — Iceberg's commit-retry loop.
    *
    * Try the prepared manifest; on a lost CAS race, re-read the winner's
    * manifest and ask `rebase(newBase, newNext)` for a manifest that
    * re-expresses THIS commit on the new base. The loser's data files are
    * already on disk and immutable, so a rebase is METADATA-ONLY — zero
    * data rewrite, zero re-read; for append-shaped commits (append,
    * morMerge, equalityDelete, position pairs) only the manifest list and
    * the entries' sequence numbers change. `rebase` returns None on a TRUE
    * conflict — the winner invalidated what this operation read (rewrote a
    * victim file, changed the schema, added rows/deletes that overlap the
    * op's scope) — and then we fail LOUDLY with
    * [[java.util.ConcurrentModificationException]]: the caller must redo
    * the whole operation against the new state (Iceberg's validation
    * semantics for non-append commits).
    *
    * The loop re-reads version-then-manifest (`manifestAt` of the version
    * just read): if yet another commit lands in between, the CAS pre-check
    * fails and the loop simply goes around again — a rebase can never land
    * on a base it did not read.
    */
  private[sink] def commitOrRebase(name: String, next: Long, first: Manifest,
      rebase: (Manifest, Long) => Option[Manifest], maxRetries: Int = 5,
      marks: Map[String, String] = Map.empty): Long = {
    preCommitHook(name, next)
    try return commitManifest(name, next, first, marks = marks)
    catch { case _: java.util.ConcurrentModificationException => }
    var tries = 0
    while (tries < maxRetries) {
      tries += 1
      val curV = currentVersion(name)
      val base = manifestAt(name, curV)
      rebase(base, curV + 1) match {
        case None => throw new java.util.ConcurrentModificationException(
          s"$name: lost the commit race for v$next and the winning commit conflicts " +
            "with what this operation read; redo the operation")
        case Some(m) =>
          try return commitManifest(name, curV + 1, m, marks = marks)
          catch { case _: java.util.ConcurrentModificationException => }
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"$name: commit still racing after $maxRetries rebase attempts; redo the operation")
  }

  /** Rebase guard: every file in `needed` survives in `base` UNCHANGED
    * (same path, sequence number, row count) — i.e. the op's read set was
    * not rewritten/removed by the commit that won the race.
    */
  private[sink] def filesIntact(base: Manifest, needed: Seq[DataFile]): Boolean = {
    val byPath = base.files.iterator.map(f => f.path -> f).toMap
    needed.forall(f => byPath.get(f.path).exists(b => b.seq == f.seq && b.rows == f.rows))
  }

  /** Delta-style RESTORE: commit a NEW snapshot whose manifest is an older
    * snapshot's — rolling back bad writes without rewriting a byte of data
    * or erasing history (the bad versions stay time-travelable until
    * [[expireSnapshots]]). O(1): one manifest commit, zero data IO, and it
    * rides the same OCC guard as every write, so a concurrent writer can't
    * interleave between read-old-manifest and publish. The missing-file
    * check is defensive: [[expireSnapshots]] retains every kept manifest's
    * files, so it only fires on out-of-band deletion — better a loud
    * failure here than a restored table whose scans die file-not-found.
    * The restored snapshot's [[marks]] come back with it.
    */
  def restore(name: String, version: Long): Long = {
    val m = manifestAt(name, version)
    val missing = (m.files.map(_.path) ++ m.deletes.map(_.path))
      .filterNot(p => Files.exists(tableDir(name).resolve(p)))
    require(missing.isEmpty,
      s"cannot restore $name to v$version: ${missing.size} referenced data files " +
        s"are gone (e.g. ${missing.take(3).mkString(", ")})")
    commitManifest(name, currentVersion(name) + 1, m, adoptMarks = true)
  }

  /** Stats columns already tracked by the table's current files — new writes
    * keep collecting them so merge pruning never degrades over time.
    * Transform keys of a RETIRED partition spec ([[updateSpec]]) are the
    * exception: old files keep their old-spec bounds (per-file pruning
    * still consults them), but new writes collect only the CURRENT spec's
    * transforms — recomputing a retired transform would pay a per-write
    * column scan for bounds no new file is clustered by.
    */
  private[sink] def inheritedStatsCols(name: String, existing: Option[Manifest]): Seq[String] = {
    val keys = existing.toSeq.flatMap(_.files).flatMap(_.stats.keys).distinct
    lazy val live = partitionSpec(name).toSet
    keys.filter(k => PartitionTransforms.parseKey(k).isEmpty || live.contains(k))
  }

  /** Conform incoming data to the existing table schema — target schema wins,
    * extras dropped, missing null-filled (`salesforce_pipeline.py:153-174`).
    * On first write the table is auto-created (S7) with the widened schema
    * (§1.3 lattice). Everything nullable: file sources read back nullable
    * regardless.
    */
  private[sink] def targetSchema(existing: Option[Manifest], df: DataFrame): StructType =
    existing.map(_.schema).getOrElse(withFieldIds(
      StructType(SchemaOps.widenSchema(df.schema).fields.map(_.copy(nullable = true)))))

  /** Cluster a batch before writing so per-file stats support skipping.
    * Layout by shape:
    *   - pure `clusterBy` (no spec): RANGE partition + sort — files carry
    *     DISJOINT, sorted key ranges, so min/max bounds are tight and merge
    *     pruning / predicate file skipping actually skip;
    *   - spec only: HASH distribute on the materialized transform values
    *     (Iceberg write.distribution-mode=hash) — the hive split in
    *     [[writeData]] already yields one file per partition VALUE, which
    *     IS the tight bound, and hash needs no range-sampling pass;
    *   - spec + clusterBy: RANGE over (spec transforms ++ cluster keys) —
    *     within each partition value the cluster keys land in disjoint
    *     sorted ranges across files, so clusterBy-based skipping survives
    *     on partitioned tables (hash on the spec alone would put a value's
    *     whole batch in one task and leave every file spanning the full
    *     cluster-key range).
    * Without clustering, every file of a shuffled batch spans the whole key
    * range and no stat-based pruning can ever drop one.
    *
    * A batch that fits one file skips all three and lands as one sorted task
    * ([[smallBatch]]). Rewrites pass `scanBytes` from their [[victimScan]],
    * so a rewrite is sized from its victim scan rather than from a plan
    * estimate that the lineage joins inflate.
    */
  private[sink] def cluster(in: DataFrame, clusterBy: Seq[String],
                      spec: Seq[String] = Nil, scanBytes: Option[BigInt] = None): DataFrame = {
    // declared partition transforms cluster FIRST (files align with
    // partition values, so the transform bounds are tight — one or few
    // values per file), then any explicit clusterBy within them.
    //
    // Transform values are MATERIALIZED as __graft_p{i} columns rather than
    // clustered as bare expressions: writeData partitionBy's them, which
    // hive-splits the batch so every data file holds exactly ONE partition
    // value — the invariant storage-partitioned joins need (SpjSupport
    // proves it back from the manifest's min==max stats). Range clustering
    // alone leaves boundary files straddling two adjacent values.
    require(!in.columns.exists(isSpecCol),
      s"column names of the form $SpecColPrefix<digits> are reserved for partition transforms")
    val specCols: Seq[(String, Column)] = spec.zipWithIndex.flatMap { case (s, i) =>
      PartitionTransforms.parse(s).flatMap { f =>
        val e =
          if (f.fn == "identity") in.schema.fields.find(_.name == f.src).map(_ => col(f.src))
          else in.schema.fields.find(_.name == f.src).flatMap(sf =>
            PartitionTransforms.exprAndKind(f, sf.dataType).map(_._1))
        e.map(expr => s"$SpecColPrefix$i" -> expr)
      }
    }
    val withP = specCols.foldLeft(in) { case (d, (n, e)) => d.withColumn(n, e) }
    val all = specCols.map(p => col(p._1)) ++ clusterBy.map(col)
    if (all.isEmpty) in
    else if (smallBatch(in, scanBytes)) {
      // SIZE-GATED single-file arm (guide §2.4/§6): a batch small enough to
      // land in one target-size file gains nothing from a distribution
      // exchange — range partitioning would pay its hidden RangePartitioner
      // SAMPLING pass (the whole batch computed twice) and hash a 32-task
      // shuffle, to lay out what one sorted task lays out identically:
      // coalesce (narrow, no shuffle) + full sort gives ONE file per
      // partition value (the hive split still splits values), per-file
      // bounds as tight as bounds get, and trivially disjoint cluster-key
      // ranges. The gate reads EXACT materialized block sizes for
      // checkpointed batches (the index-maintenance tick shape) and the
      // plan's size ESTIMATE otherwise — an overestimate just keeps the
      // distribution arms below, so production-scale batches are never
      // funneled through one task on a guess.
      withP.coalesce(1).sortWithinPartitions(all: _*)
    } else if (specCols.nonEmpty && clusterBy.nonEmpty) {
      // spec + explicit clusterBy: range over the concatenation — the sort
      // leads with the __graft_p columns so the hive split's required
      // ordering holds, and within each partition value the cluster keys
      // form disjoint sorted file ranges (the skipping the caller asked
      // for). Costs the RangePartitioner sampling pass; callers that only
      // declare a spec stay on the sampling-free hash arm below.
      withP.repartitionByRange(all: _*).sortWithinPartitions(all: _*)
    } else if (specCols.nonEmpty) {
      // HASH distribution on the transform values (Iceberg's
      // write.distribution-mode=hash): the hive-style partitionBy in
      // [[writeData]] splits files per partition VALUE regardless of task
      // layout, so range partitioning bought nothing here while its hidden
      // RangePartitioner sampling pass executed the whole batch TWICE per
      // write (guide §2.4 — an exchange you did not expect). Hash needs no
      // sampling, keeps every value's rows in one task (one file per value,
      // min==max bounds — the SPJ invariant SpjSupport proves back from the
      // manifest), and the explicit partition count (REPARTITION_BY_NUM)
      // still keeps AQE from rewiring the layout. The sort leads with the
      // __graft_p columns, so the partitioned write's required ordering is
      // already satisfied and the clusterBy order inside each file survives
      // (FileFormatWriter skips its own sort).
      val n = in.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      withP.repartition(n, specCols.map(p => col(p._1)): _*)
        .sortWithinPartitions(all: _*)
    } else withP.repartitionByRange(all: _*).sortWithinPartitions(all: _*)
  }

  /** Size gate for [[cluster]]'s single-file arm: true only when the batch
    * is provably (or estimated) at most `spark.graft.write.smallBatchBytes`
    * of IN-MEMORY row bytes (default 64 MB ≈ a 16-32 MB parquet file —
    * inside guide §6's file-size goal as a single file). Sizing sources, in
    * trust order: a rewrite's `scanBytes`, the size of the victim files it
    * reads ([[victimScan]]; merge, delete and compaction rewrites write at
    * most what they scan, an UPDATE about as much); when every leaf of the
    * optimized plan is a materialized localCheckpoint RDD (the ingest-path
    * shape — appendDeduped keepers, index code/posting batches), the EXACT
    * block-manager byte count of those blocks (deserialized block bytes
    * run 2-4x the eventual parquet bytes, so the error is in the safe
    * direction); otherwise the plan's sizeInBytes estimate, whose failure
    * mode (filters and joins over-estimate) also keeps big batches on the
    * distribution arms. The threshold is a conf so a deployment can set it
    * to its target file size; 0 disables the arm outright, whatever the
    * sizing source.
    */
  private def smallBatch(in: DataFrame, scanBytes: Option[BigInt]): Boolean = {
    val threshold = spark.conf.get("spark.graft.write.smallBatchBytes",
      (64L * 1024 * 1024).toString).toLong
    if (threshold <= 0) return false
    val est: BigInt = scanBytes.getOrElse {
      val plan = in.queryExecution.optimizedPlan
      val exact: Seq[Option[BigInt]] = plan.collectLeaves().map {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          spark.sparkContext.getRDDStorageInfo.find(_.id == l.rdd.id)
            .map(i => BigInt(i.memSize + i.diskSize))
        case _ => None
      }
      if (exact.nonEmpty && exact.forall(_.isDefined)) exact.flatten.sum
      else plan.stats.sizeInBytes
    }
    est <= threshold
  }

  /** Reserved prefix for materialized partition-transform columns — present
    * only between [[cluster]] and [[writeData]]'s partitionBy, never in file
    * content (hive-style writes drop partition columns) or table schema.
    */
  private val SpecColPrefix = "__graft_p"

  /** Exactly the reserved shape `__graft_p<digits>` — a user column named,
    * say, `__graft_price` is NOT reserved and flows through every write
    * path untouched.
    */
  private def isSpecCol(c: String): Boolean =
    c.startsWith(SpecColPrefix) && {
      val rest = c.stripPrefix(SpecColPrefix)
      rest.nonEmpty && rest.forall(_.isDigit)
    }

  /** Shared batch-commit path: conform, cluster, write the batch's files,
    * commit a manifest that either carries prior files forward (append) or
    * lists only the batch (replace).
    */
  private def writeBatch(name: String, df: DataFrame, statsCols: Seq[String],
                         clusterBy: Seq[String], keepPrior: Boolean,
                         marks: Map[String, String]): Long = {
    val existing = if (exists(name)) Some(currentManifest(name)) else None
    // a branch ledger is only ever born by forking ([[createBranch]]):
    // auto-creating one here would silently start an empty, unrelated
    // history inside the base table's directory
    require(existing.nonEmpty || refOf(name).isEmpty,
      s"no such branch: $name (createBranch first)")
    io.mkdirs(tableDir(name))
    val schema = targetSchema(existing, df)
    // first-append auto-create must record the id high-water mark exactly
    // like create() does: without it, dropColumn + addColumns on such a
    // table could REUSE the dropped field's id and resurrect its bytes
    if (existing.isEmpty && hasFieldIds(schema))
      reserveFieldIds(name, 0, schema.fields.flatMap(fieldIdOf).foldLeft(0L)(math.max))
    val spec = partitionSpec(name)
    val in = cluster(SchemaOps.conform(df, schema), clusterBy, spec)
    val next = currentVersion(name) + 1
    val entries = writeData(name, in, schema, s"d${next}b",
      statsCols ++ clusterBy ++ spec ++ inheritedStatsCols(name, existing), seq = next, spec = spec,
      sortedBy = clusterBy)
    val prior = if (keepPrior) existing.map(_.files).getOrElse(Nil) else Nil
    // append carries pending MOR deletes forward (the new files' seq shields
    // them); replace truncates — pending deletes die with the old content
    val priorDeletes = if (keepPrior) existing.map(_.deletes).getOrElse(Nil) else Nil
    // Rebase: append-shaped — restamp the batch's entries to the new
    // version and re-list over the winner's files/deletes; replace still
    // truncates (that IS its disposition semantic: target == last batch).
    // A concurrent schema change conflicts (this batch was conformed to
    // the schema it read).
    commitOrRebase(name, next, Manifest(schema, prior ++ entries, priorDeletes),
      (base, n2) =>
        if (base.schema != schema) None
        else if (keepPrior) Some(Manifest(schema, base.files ++ entries.map(_.copy(seq = n2)), base.deletes))
        else Some(Manifest(schema, entries.map(_.copy(seq = n2)), Nil)),
      marks = marks)
  }

  /** S8 append disposition: O(batch) — writes only the incoming files; the
    * new manifest carries every prior file forward untouched.
    * `statsCols` asks for per-file min/max on those columns (collected for
    * future merge pruning / data skipping); `clusterBy` range-partitions the
    * batch so those bounds are tight (see [[cluster]]). `marks` are set in
    * the same commit ([[marks]]), as on morMerge, appendDeduped and replace.
    */
  def append(name: String, df: DataFrame, statsCols: Seq[String] = Nil,
             clusterBy: Seq[String] = Nil, marks: Map[String, String] = Map.empty): Long =
    writeBatch(name, df, statsCols, clusterBy, keepPrior = true, marks)

  /** Per-batch outcome of [[appendDeduped]]: rows written, rows dropped as
    * in-batch duplicates, rows dropped because their fingerprint already
    * exists in the table.
    */
  final case class DedupAppendReport(version: Long, appended: Long,
    dupInBatch: Long, dupInTable: Long)

  /** Incremental deduplicated ingestion — the corpus-building composition of
    * the append sink with the exact-dedup operator (q54's algebra applied
    * across commits): append only rows whose `fpCol` fingerprint is (a)
    * unique within the batch (min-`pk` row wins — deterministic under any
    * partitioning) and (b) absent from the current table snapshot.
    *
    * Replay-safe by construction: re-appending the same batch appends 0
    * rows, so a retried job cannot double-ingest (the corpus analog of the
    * streaming file ledger). Scale posture: the existing-side probe reads
    * ONLY `fpCol` (column-pruned parquet scan of the table) and the check
    * is a keyed left-anti join on the fingerprint — linear, shuffle on the
    * fp hash; the batch side is one keyed window. At 100 TB the fp probe is
    * the standard "hash index as a column" trade: no secondary index to
    * maintain, one pruned scan per ingest.
    */
  def appendDeduped(name: String, df: DataFrame, fpCol: String, pk: String,
      statsCols: Seq[String] = Nil, clusterBy: Seq[String] = Nil,
      marks: Map[String, String] = Map.empty): DedupAppendReport = {
    // row_number (not min-pk equality): when fpCol == pk every row in a
    // duplicate group shares the min pk, so an equality keeper is vacuous
    // and duplicate-pk batches would land whole. The JSON render of the full
    // row is a deterministic total-order tiebreak for same-pk rows, so the
    // keeper is stable under any partitioning and across replays.
    val byFp = Window.partitionBy(fpCol)
    // reserved-name guard (the __graft_p discipline): a batch column named
    // like an internal tag would be overwritten by the window count and
    // then silently dropped from the appended rows — data loss, not a tag
    Seq("__keeper", "__grp").foreach(r => require(!df.columns.contains(r),
      s"$name: column name $r is reserved by appendDeduped"))
    val w = byFp.orderBy(col(pk).asc, to_json(struct(df.columns.map(col): _*)).asc)
    // ONE window pass, materialized ONCE: the keeper frame used to be
    // recomputed up to four times per call (anti-join probe, the write,
    // and two of the three report counts) — a per-ingest tax on every
    // dedup-ingesting operator. The group size rides the same window
    // partition (no extra shuffle), so the raw-batch total needs no
    // separate full pass over `df` either.
    val inBatch = df.withColumn("__keeper", row_number().over(w))
      .withColumn("__grp", count(lit(1)).over(byFp))
      .filter(col("__keeper") === 1).drop("__keeper")
      .localCheckpoint()
    val counts = inBatch.agg(count(lit(1)), sum(col("__grp"))).head()
    val afterBatch = counts.getLong(0)
    val total = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    val keepers = inBatch.drop("__grp")
    // the anti-join must not re-plan against the table AFTER the commit
    // below, so its output is materialized too before the append lands
    val (materialized, appended) =
      if (!exists(name)) (keepers, afterBatch)
      else {
        // no distinct() on the probe side: this sink's own contract keeps
        // fpCol UNIQUE in the table (only absent fingerprints are ever
        // admitted), so deduplicating it was a pure Exchange+HashAggregate
        // tax per ingest — LeftAnti semantics are identical against
        // duplicates anyway. (The postings/bands probes in the index sinks
        // KEEP their distinct: there the raw column is per-term/per-band
        // and the dedup is what makes the probe side O(docs).)
        val fresh = keepers
          .join(load(name).select(fpCol), Seq(fpCol), "left_anti")
          .localCheckpoint()
        (fresh, fresh.count())
      }
    val version = append(name, materialized, statsCols, clusterBy, marks)
    DedupAppendReport(version, appended, total - afterBatch, afterBatch - appended)
  }

  /** P8 replace disposition: delete-all (`AlwaysTrue()`,
    * `salesforce_pipeline.py:79-81`) then append ⇒ the new snapshot lists
    * ONLY the incoming batch's files.
    */
  def replace(name: String, df: DataFrame, statsCols: Seq[String] = Nil,
              clusterBy: Seq[String] = Nil, marks: Map[String, String] = Map.empty): Long =
    writeBatch(name, df, statsCols, clusterBy, keepPrior = false, marks)

  /** Bin-pack small data files into ~`targetBytes` files (the Iceberg
    * `rewriteDataFiles` maintenance action): O(batch) incremental appends
    * inevitably accumulate small files, and at 100 TB an uncompacted table
    * pays per-file open/footer costs on every scan. Files already at or
    * above the target carry over untouched; the rewrite is a new snapshot,
    * so time travel to pre-compaction versions keeps working until
    * [[expireSnapshots]]. `sortBy` additionally range-clusters the rewritten
    * rows (tight stats on those columns).
    *
    * No-op (returns the current version) when fewer than two small files
    * exist.
    */
  def compact(name: String, targetBytes: Long = 128L << 20,
              sortBy: Seq[String] = Nil, zOrderBy: Option[(String, String)] = None): Long = {
    materializePendingDeletes(name)
    val man = currentManifest(name)
    val sized = man.files.map(f => f -> Files.size(tableDir(name).resolve(f.path)))
    val (smalls, bigs) = sized.partition(_._2 < targetBytes)
    if (smalls.size < 2) return currentVersion(name)
    val nOut = math.max(1L, (smalls.map(_._2).sum + targetBytes - 1) / targetBytes).toInt
    val spec = partitionSpec(name)
    val zCols = zOrderBy.toSeq.flatMap { case (a, b) => Seq(a, b) }
    // OPTIMIZE ZORDER analog: re-lay the rewritten rows on the Morton curve
    // of two columns so their per-file bounds become rectangles (both
    // dimensions prune); plain sortBy range-clusters one leading dimension.
    // A declared partition spec re-clusters by its transform values first
    // (sortBy within them) so transform bounds come out tight again —
    // unless z-order was asked for, which IS the layout choice.
    rewriteSmallFiles(name, man, smalls.map(_._1), sortBy ++ zCols, (src, scanBytes) =>
      zOrderBy match {
        case Some((a, b)) => graft.functions.ZOrder.layout(src, a, b, nOut)
        case None if spec.nonEmpty => cluster(src, sortBy, spec, Some(scanBytes))
        case None if sortBy.nonEmpty =>
          src.repartitionByRange(nOut, sortBy.map(col): _*)
            .sortWithinPartitions(sortBy.map(col): _*)
        case None => src.coalesce(nOut)
      },
      // z-order is not lexicographic and coalesce preserves nothing: only
      // the sorted layouts declare the marker
      sortedBy = if (zOrderBy.isDefined) Nil else sortBy)
  }

  /** Shared rewrite core of [[compact]] (byte grain, layout options) and
    * [[compactFiles]] (manifest row grain, key clustering): read the
    * victims, lay them out (`layout` gets the victim frame and its scan
    * bytes), write with inherited + extra stats at the new commit's seq,
    * carry everything else forward untouched.
    */
  private[sink] def rewriteSmallFiles(name: String, man: Manifest, victims: Seq[DataFile],
                                extraStats: Seq[String],
                                layout: (DataFrame, BigInt) => DataFrame,
                                sortedBy: Seq[String] = Nil): Long = {
    val next = currentVersion(name) + 1
    // lineage carry (Iceberg v3 rule): compaction is content-preserving,
    // so rows keep their ids across it
    val src = victimScan(name, Manifest(man.schema, victims, Nil))
    // current spec transforms requested EXPLICITLY: after a spec evolution
    // the victims may predate the current spec entirely, so inheritance
    // alone would leave the re-clustered files without the bounds the new
    // layout prunes (and SPJ qualifies) by
    val rewritten = writeData(name, layout(src.frame, src.scanBytes), man.schema, s"d${next}c",
      extraStats ++ partitionSpec(name) ++ inheritedStatsCols(name, Some(man)),
      seq = next, spec = partitionSpec(name), sortedBy = sortedBy,
      lineageMat = src.carry)
    val victimSet = victims.map(_.path).toSet
    // Rebase: compaction is content-preserving, so concurrently-ADDED files
    // simply carry through; but the victims must survive unchanged (their
    // rows now live in `rewritten`) and no concurrent delete may land (a
    // delete with seq < the restamped rewrite would be skipped by the
    // strict-< rule and its victims resurrected).
    commitOrRebase(name, next, Manifest(man.schema,
      man.files.filterNot(f => victimSet(f.path)) ++ rewritten, man.deletes),
      (base, n2) =>
        if (base.schema != man.schema || base.deletes != man.deletes ||
            !filesIntact(base, victims)) None
        else Some(Manifest(man.schema,
          base.files.filterNot(f => victimSet(f.path)) ++ rewritten.map(_.copy(seq = n2)),
          base.deletes)))
  }

  /** J1 merge disposition: delete target rows whose PK tuple appears in the
    * incoming batch, then append the WHOLE batch (duplicate PKs included —
    * preserving the reference's delete-then-append-all semantics,
    * `salesforce_pipeline.py:108-130, 176`; see `mergeLatest` for the
    * dedup-by-latest variant, SURVEY §7.6.2).
    *
    * The reference builds an O(n) OR-of-equalities delete predicate
    * (`salesforce_pipeline.py:121-130`) — its scaling cliff. Here:
    *   1. per-file PK min/max stats (recorded at write time) prune the
    *      target to the files whose key range may overlap the batch —
    *      provably disjoint files carry into the new manifest untouched,
    *      so a merge touching one region of a sorted 100 TB table rewrites
    *      only that region's files;
    *   2. surviving files are anti-joined against the BROADCAST raw
    *      incoming PK tuples (no distinct: LEFT ANTI is the same against
    *      duplicates; the gate counts batch rows, which is what is
    *      broadcast) — no predicate tree, no driver materialization.
    * The victims' rewrite is sized from its victim scan ([[victimScan]]),
    * so a small rewrite lands as one sorted file.
    * Plain (non-null-safe) equality keeps the reference's null-PK contract:
    * null-keyed rows are appended but never match/delete (SURVEY §7.6.4) —
    * which also makes all-null ("z"-stat) files provably disjoint.
    *
    * The victims' rewrite and the batch are written concurrently (two
    * independent file sets); both finish before the one commit.
    */
  def merge(name: String, df: DataFrame, pks: Seq[String],
            clusterBy: Seq[String] = Nil): Long = {
    // PK-presence guard: fall back to append, like `salesforce_pipeline.py:131-134`.
    if (pks.isEmpty || !pks.forall(df.columns.contains) || !exists(name))
      return append(name, df, pks.filter(df.columns.contains),
        clusterBy.filter(df.columns.contains))

    materializePendingDeletes(name)
    val man = currentManifest(name)
    val schema = man.schema
    val in = SchemaOps.conform(df, schema)
    // persisted: the bounds aggregate and the anti-join below read ONE
    // evaluation of the batch's key tuples (released in the finally — a
    // commit conflict must not leak blocks). No distinct: LEFT ANTI gives
    // the same result against duplicate keys, and a distinct costs its own
    // shuffle and jobs on every merge.
    val keys = in.select(pks.map(col): _*).persist()
    try {

    // One aggregate over the raw key tuples → per-column batch bounds PLUS
    // the row count that gates the broadcast — exactly the rows a
    // broadcast would ship (no extra job).
    val scs = statCols(schema, pks)
    val aggs = count(lit(1)).as("__n") +: scs.zipWithIndex.flatMap { case (sc, i) =>
      Seq(sc.minExpr.as(s"__mn$i"), sc.maxExpr.as(s"__mx$i"))
    }
    val aggRow = keys.agg(aggs.head, aggs.tail: _*).head()
    val keyRows = aggRow.getLong(aggRow.fieldIndex("__n"))
    val batchStats: Map[String, ColStat] = statsOfRow(aggRow, scs)

    // A PK column with NO non-null batch value ⇒ every incoming tuple has a
    // null key there ⇒ plain equality can never match ⇒ pure append.
    val noMatchPossible = batchStats.values.exists(_.kind == "z")

    // A file is provably disjoint if ANY pk column proves it: all-null file
    // ("z"), or both bounds known and the ranges don't intersect.
    def disjoint(f: DataFile): Boolean = pks.exists { c =>
      f.stats.get(c) match {
        case Some(ColStat("z", _, _, _)) => true
        case Some(fs) => batchStats.get(c).exists(bs =>
          bs.kind == fs.kind &&
            (StatsPruning.cmp(fs.kind, fs.min, bs.max) > 0 ||
              StatsPruning.cmp(fs.kind, fs.max, bs.min) < 0))
        case None => false
      }
    }

    val (untouched, victims) =
      if (noMatchPossible) (man.files, Nil) else man.files.partition(disjoint)

    val next = currentVersion(name) + 1
    val spec = partitionSpec(name)
    val statsFor = pks ++ spec ++ inheritedStatsCols(name, Some(man))
    // two independent file sets, written side by side before the commit
    val rewriteVictims = () =>
      if (victims.isEmpty) Seq.empty[DataFile]
      else {
        // lineage carry: a merge's CARRY-OVER rows (victim rows whose key is
        // not in the batch) are unchanged content — they keep their row ids
        // across the rewrite; the batch's rows are new row versions and draw
        // fresh ids from their own files' ranges
        val target = victimScan(name, Manifest(schema, victims, man.deletes))
        // Size-gated broadcast: typical incremental batches (10³-10⁴ PKs)
        // broadcast — every executor filters its files with a local hash
        // lookup, zero shuffle of the (huge) target side. A backfill-sized
        // delete set above the gate would OOM executors, so it degrades to a
        // shuffled sort-merge anti-join instead (both sides exchange on the
        // PK — linear, spill-safe, just not shuffle-free).
        val keysSide =
          if (keyRows <= mergeBroadcastMaxKeys) broadcast(keys)
          else keys.hint("merge")
        val kept = target.frame.join(keysSide, pks, "left_anti")
        writeData(name, cluster(kept, clusterBy, spec, Some(target.scanBytes)), schema,
          s"d${next}r", statsFor, seq = next, spec = spec, sortedBy = clusterBy,
          lineageMat = target.carry)
      }
    val writeBatchFiles = () => writeData(name, cluster(in, clusterBy, spec), schema,
      s"d${next}b", statsFor, seq = next, spec = spec, sortedBy = clusterBy)
    val Seq(rewritten, batchEntries) = FanOut(Seq(rewriteVictims, writeBatchFiles))
    // Rebase (Iceberg merge validation): victims must survive unchanged
    // (their keyed rows were rewritten into `rewritten`), no concurrent
    // MOR delete may have landed, and any concurrently-ADDED file must be
    // provably key-disjoint from the batch (else its rows should have been
    // merged and this op must redo). Untouched files the winner rewrote
    // (compaction) are fine: their replacements arrive as added files and
    // pass the same disjointness proof or conflict.
    commitOrRebase(name, next, Manifest(schema, untouched ++ rewritten ++ batchEntries),
      (base, n2) => {
        val mine = (victims ++ untouched).map(_.path).toSet
        val added = base.files.filterNot(f => mine.contains(f.path))
        if (base.schema != schema || base.deletes != man.deletes ||
            !filesIntact(base, victims) || !(noMatchPossible || added.forall(disjoint))) None
        else {
          val victimPaths = victims.map(_.path).toSet
          Some(Manifest(schema, base.files.filterNot(f => victimPaths.contains(f.path)) ++
            rewritten.map(_.copy(seq = n2)) ++ batchEntries.map(_.copy(seq = n2)), base.deletes))
        }
      })

    } finally keys.unpersist()
  }

  /** MERGE-ON-READ upsert (the Iceberg/Flink streaming "upsert mode" analog,
    * and [[merge]]'s deferred-IO sibling): ONE atomic commit carrying the
    * batch's data files PLUS an equality-delete file of the batch's distinct
    * PK tuples — no target file is read, pruned, or rewritten, so the commit
    * is O(batch) REGARDLESS of key scatter. [[merge]] stays the right call
    * when keys cluster (its stat pruning bounds the rewrite); this is the
    * right call for high-frequency CDC ingestion whose keys spray across a
    * 100 TB table — there every batch would rewrite most files, while here
    * the rewrite IO is deferred to [[compactDeletes]] / the next rewrite op,
    * off the ingest path.
    *
    * Semantics are exactly [[merge]]'s: prior rows with the batch's keys die
    * (the delete's seq = next applies only to files with seq < next — the
    * batch's own files are shielded by the strict-< rule), the whole batch
    * lands (in-batch duplicate keys all land, merge's documented contract —
    * pre-shape with [[mergeLatest]]'s window if that matters), and null-keyed
    * rows never match (always pure inserts). Replaying a batch converges by
    * value: the replay's delete kills the prior copy, so content is stable.
    * Reads pay the MOR anti-join until materialization ([[morFrame]]); the
    * same PK-presence guard as merge falls back to append.
    */
  def morMerge(name: String, df: DataFrame, pks: Seq[String],
               clusterBy: Seq[String] = Nil, marks: Map[String, String] = Map.empty): Long = {
    if (pks.isEmpty || !pks.forall(df.columns.contains) || !exists(name))
      return append(name, df, pks.filter(df.columns.contains),
        clusterBy.filter(df.columns.contains), marks)
    val man = currentManifest(name)
    val schema = man.schema
    val in = SchemaOps.conform(df, schema)
    val spec = partitionSpec(name)
    val next = currentVersion(name) + 1
    val statsFor = pks ++ clusterBy ++ spec ++ inheritedStatsCols(name, Some(man))
    val dataEntries = writeData(name, cluster(in, clusterBy, spec), schema,
      s"d${next}b", statsFor, seq = next, spec = spec, sortedBy = clusterBy)
    val keySchema = StructType(schema.fields.filter(f => pks.contains(f.name)))
    val delEntries = writeData(name, in.select(pks.map(col): _*).distinct(),
      keySchema, s"del$next", pks, seq = next)
    val dels = delEntries.filter(_.rows > 0)
      .map(e => DeleteFile(e.path, e.rows, next, pks, e.stats))
    if (dataEntries.isEmpty && dels.isEmpty && marks.isEmpty) return currentVersion(name) // empty batch
    // Rebase: a pure row-delta — restamp data + delete entries to the new
    // version and re-list over the winner's state. The delete's new seq
    // correctly covers concurrently-added files too (serial order: their
    // append, then this upsert).
    commitOrRebase(name, next,
      Manifest(schema, man.files ++ dataEntries, man.deletes ++ dels),
      (base, n2) =>
        if (base.schema != schema) None
        else Some(Manifest(schema, base.files ++ dataEntries.map(_.copy(seq = n2)),
          base.deletes ++ dels.map(_.copy(seq = n2)))),
      marks = marks)
  }

  /** Engine variant of merge: when one batch carries several versions of a PK,
    * keep only the latest by `orderCol` (row_number over PK partition) — the
    * semantically intended behavior given the reference's `ORDER BY rk ASC`
    * extraction (SURVEY §2.5, §7.6.2). Documented divergence from `merge`.
    */
  def mergeLatest(name: String, df: DataFrame, pks: Seq[String], orderCol: String): Long = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(pks.map(col): _*).orderBy(col(orderCol).desc)
    val latest = df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    merge(name, latest, pks)
  }

  /** Per-batch outcome of [[scd2Merge]]: version rows inserted (new keys +
    * changed keys), current rows closed (superseded by a changed version),
    * and incoming rows skipped as attribute-identical to the live version.
    */
  final case class Scd2Report(version: Long, inserted: Long, closed: Long,
    unchanged: Long)

  private val Scd2Meta = Seq("__valid_from", "__valid_to", "__is_current")

  /** Slowly-changing-dimension Type 2 merge: BUSINESS-time versioning inside
    * the table, complementing snapshot time travel's processing-time axis
    * (bitemporal: `loadVersion` answers "what did we believe at commit v",
    * the `__valid_from`/`__valid_to` interval answers "what was true at
    * business time t"). Each batch, effective at `asOf`:
    *
    *   - new key                    → inserted as the current version
    *     (`__valid_from = asOf`, `__valid_to = null`, `__is_current`);
    *   - key with CHANGED attributes → live row closed
    *     (`__valid_to = asOf`, not current) + new current version inserted;
    *   - key with identical attributes → untouched (no version churn from
    *     re-extracting an unchanged dimension — SCD2's defining idempotence);
    *   - key absent from the batch  → untouched (no implicit deletes);
    *   - a batch where nothing changed commits NOTHING (version unchanged).
    *
    * Change detection = md5 over the JSON of the non-key business columns in
    * target-schema order — one fingerprint comparison instead of N nullable
    * column equalities. Scale posture mirrors [[merge]]: per-file PK stats
    * prune the rewrite to files whose key range may overlap the batch (a
    * key's CURRENT row can only live in such a file, so pruning is exact,
    * and history rows in untouched files never rewrite); the incoming
    * (pk, fp) probe rides the same broadcast size gate. Null-keyed incoming
    * rows keep the merge contract: they never match, so they always insert.
    *
    * Caller contract: one row per key per batch (pre-shape with a
    * [[mergeLatest]]-style window if extraction can emit several), and
    * monotonically non-decreasing `asOf` across batches.
    */
  def scd2Merge(name: String, df: DataFrame, pks: Seq[String],
                asOf: java.sql.Timestamp): Scd2Report = {
    require(pks.nonEmpty && pks.forall(df.columns.contains),
      s"scd2Merge needs pk columns present in the batch: $pks")
    require(!df.columns.exists(Scd2Meta.contains),
      s"incoming batch must not carry SCD2 metadata columns $Scd2Meta")
    val from = lit(asOf)

    if (!exists(name)) {
      val first = df
        .withColumn("__valid_from", from)
        .withColumn("__valid_to", lit(null).cast(TimestampType))
        .withColumn("__is_current", lit(true))
      val n = df.count()
      return Scd2Report(append(name, first, statsCols = pks), n, 0L, 0L)
    }

    materializePendingDeletes(name)
    val man = currentManifest(name)
    val schema = man.schema
    val bizSchema = StructType(schema.fields.filterNot(f => Scd2Meta.contains(f.name)))
    val attrs = bizSchema.fieldNames.toSeq.filterNot(pks.contains)
    // Fingerprint of the business attributes, evaluated with the SAME column
    // set and order on both sides (target-schema order via conform).
    def fp: Column =
      if (attrs.isEmpty) lit("") else md5(to_json(struct(attrs.map(col): _*)))
    val in = SchemaOps.conform(df, bizSchema).withColumn("__fp", fp)
      .persist() // consumers: key stats, close-join probe, insert anti-join
    try {
      val scs = statCols(schema, pks)
      val aggs = count(lit(1)).as("__n") +: scs.zipWithIndex.flatMap { case (sc, i) =>
        Seq(sc.minExpr.as(s"__mn$i"), sc.maxExpr.as(s"__mx$i"))
      }
      val aggRow = in.select(pks.map(col): _*).agg(aggs.head, aggs.tail: _*).head()
      val keyCount = aggRow.getLong(aggRow.fieldIndex("__n"))
      val batchStats: Map[String, ColStat] = statsOfRow(aggRow, scs)

      // Same file-pruning predicate as [[merge]] — and it is EXACT here for
      // current-row lookup: any file containing a batch key k has
      // min <= k <= max, hence overlaps the batch's [min, max].
      def disjoint(f: DataFile): Boolean = pks.exists { c =>
        f.stats.get(c) match {
          case Some(ColStat("z", _, _, _)) => true
          case Some(fs) => batchStats.get(c).exists(bs =>
            bs.kind == fs.kind &&
              (StatsPruning.cmp(fs.kind, fs.min, bs.max) > 0 ||
                StatsPruning.cmp(fs.kind, fs.max, bs.min) < 0))
          case None => false
        }
      }
      val (untouched, victims) = man.files.partition(disjoint)

      val target =
        if (victims.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[Row](), schema)
        else spark.read.schema(schema)
          .parquet(victims.map(f => tableDir(name).resolve(f.path).toString): _*)
      val curr = target.filter(coalesce(col("__is_current"), lit(false)))
      val hist = target.filter(!coalesce(col("__is_current"), lit(false)))

      // Live rows paired with the incoming fingerprint (batch side under the
      // merge broadcast gate). Persisted: feeds the rewrite, the closed
      // count, and the unchanged-key set for the insert anti-join.
      val probe = in.select(pks.map(col) :+ col("__fp").as("__in_fp"): _*)
      val probeSide =
        if (keyCount <= mergeBroadcastMaxKeys) broadcast(probe)
        else probe.hint("merge")
      val currJ = curr.withColumn("__fp_t", fp)
        .join(probeSide, pks, "left")
        .withColumn("__close", col("__in_fp").isNotNull && col("__in_fp") =!= col("__fp_t"))
        .persist()
      try {
        val closed = currJ.filter(col("__close")).count()
        val unchangedKeys = currJ
          .filter(col("__in_fp").isNotNull && col("__in_fp") === col("__fp_t"))
          .select(pks.map(col): _*)
        val ukSide =
          if (keyCount <= mergeBroadcastMaxKeys) broadcast(unchangedKeys)
          else unchangedKeys.hint("merge")
        val inserts = in.drop("__fp").join(ukSide, pks, "left_anti")
          .withColumn("__valid_from", from)
          .withColumn("__valid_to", lit(null).cast(TimestampType))
          .withColumn("__is_current", lit(true))
        val materializedInserts = inserts.localCheckpoint()
        val inserted = materializedInserts.count()

        if (inserted == 0 && closed == 0)
          return Scd2Report(currentVersion(name), 0L, 0L, keyCount)

        val rewrittenCurrent = currJ
          .withColumn("__valid_to", when(col("__close"), from).otherwise(col("__valid_to")))
          .withColumn("__is_current", !col("__close"))
          .drop("__in_fp", "__fp_t", "__close")

        val next = currentVersion(name) + 1
        val statsFor = pks ++ inheritedStatsCols(name, Some(man))
        val rewritten =
          if (victims.isEmpty) Nil
          else writeData(name,
            SchemaOps.conform(hist.unionByName(rewrittenCurrent), schema),
            schema, s"d${next}r", statsFor, seq = next)
        val batchEntries = writeData(name,
          SchemaOps.conform(materializedInserts, schema), schema, s"d${next}b", statsFor, seq = next)
        commitManifest(name, next,
          Manifest(schema, untouched ++ rewritten ++ batchEntries))
        Scd2Report(next, inserted, closed, keyCount - inserted)
      } finally currJ.unpersist()
    } finally in.unpersist()
  }

  /** Current business-time view of an SCD2 table (one row per live key). */
  def scd2Current(name: String): DataFrame =
    load(name).filter(coalesce(col("__is_current"), lit(false)))

  /** Business-time travel over an SCD2 table: the attribute values in force
    * at `at` — rows whose validity interval covers it (`__valid_from <= at`
    * and (`__valid_to` open or `> at`); end-exclusive, matching the close
    * stamp of the superseding batch).
    */
  def scd2AsOf(name: String, at: java.sql.Timestamp): DataFrame =
    load(name).filter(col("__valid_from") <= lit(at) &&
      (col("__valid_to").isNull || col("__valid_to") > lit(at)))

  /** Outcome of [[deleteWhere]]: the new version (unchanged if nothing
    * could match), rows deleted, and how many files the predicate's stat
    * bounds proved untouchable (the pruning win).
    */
  final case class DeleteReport(version: Long, deleted: Long, prunedFiles: Int)

  /** Row-level `DELETE WHERE` (Iceberg copy-on-write delete): rewrite ONLY
    * the files whose per-column stat bounds say the predicate MAY match —
    * the same conservative bound logic the scan-side ManifestPruneRule
    * uses, applied to the RESOLVED condition (cond is analyzed against the
    * table schema first), so delete pruning and scan pruning can never
    * disagree. Provably-disjoint files carry into the new snapshot
    * untouched; a predicate proven to match nothing commits nothing.
    *
    * SQL null semantics: rows where `cond` evaluates to NULL are KEPT
    * (DELETE removes only where the predicate is TRUE).
    *
    * At 100 TB: a retention delete (`ts < cutoff`) over a time-clustered
    * table rewrites O(files in the expired range), never the table.
    */
  def deleteWhere(name: String, cond: Column): DeleteReport = {
    require(exists(name), s"no such table: $name")
    materializePendingDeletes(name)
    val man = currentManifest(name)
    val resolved = spark.createDataFrame(new java.util.ArrayList[Row](), man.schema)
      .filter(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(return DeleteReport(currentVersion(name), 0L, man.files.size))
    val (victims, untouched) =
      man.files.partition(f => graft.catalog.ManifestPruneRule.mayMatch(f, resolved))
    if (victims.isEmpty)
      return DeleteReport(currentVersion(name), 0L, untouched.size)

    val next = currentVersion(name) + 1
    // lineage carry: a delete's SURVIVORS are unchanged rows — they keep
    // their ids across the rewrite (victims predating lineage fall back)
    val target = victimScan(name, Manifest(man.schema, victims, Nil))
    // re-cluster survivors on the partition spec (compactDeletes discipline):
    // without it, rewritten files of a partitioned table span all transform
    // values, their bounds go loose, and transform pruning degrades
    val kept = cluster(target.frame.filter(!coalesce(cond, lit(false))), Nil,
      partitionSpec(name), Some(target.scanBytes))
    val rewritten = writeData(name, kept, man.schema, s"d${next}r",
      inheritedStatsCols(name, Some(man)), seq = next, spec = partitionSpec(name),
      lineageMat = target.carry)
    val deleted = victims.map(_.rows).sum - rewritten.map(_.rows).sum
    if (deleted == 0L) // predicate overlapped bounds but matched no rows
      return DeleteReport(currentVersion(name), 0L, untouched.size)
    // Rebase: victims intact, no concurrent deletes, and every
    // concurrently-added file must be PROVABLY predicate-disjoint (its rows
    // were never filtered — carrying a may-match file would silently keep
    // rows this delete should remove).
    commitOrRebase(name, next, Manifest(man.schema, untouched ++ rewritten, man.deletes),
      (base, n2) => {
        val mine = (victims ++ untouched).map(_.path).toSet
        val added = base.files.filterNot(f => mine.contains(f.path))
        if (base.schema != man.schema || base.deletes != man.deletes ||
            !filesIntact(base, victims) ||
            added.exists(f => graft.catalog.ManifestPruneRule.mayMatch(f, resolved))) None
        else {
          val victimPaths = victims.map(_.path).toSet
          Some(Manifest(man.schema, base.files.filterNot(f => victimPaths.contains(f.path)) ++
            rewritten.map(_.copy(seq = n2)), base.deletes))
        }
      })
    DeleteReport(next, deleted, untouched.size)
  }

  /** Per-call outcome of [[updateWhere]]. */
  final case class UpdateReport(version: Long, updated: Long, prunedFiles: Int)

  /** Row-level `UPDATE ... SET ... WHERE ...` — [[deleteWhere]]'s sibling:
    * stat-prune the table to the files the RESOLVED condition may touch,
    * rewrite only those with each assigned column conditionally replaced
    * (`when(cond, value)` — rows not matching keep every byte), carry
    * provably-disjoint files into the new snapshot untouched. Assigned
    * values are cast to the column's declared type (store-assignment
    * semantics). A condition matching no rows commits nothing. SQL null
    * semantics: rows where `cond` is NULL are NOT updated.
    */
  def updateWhere(name: String, cond: Column, set: Map[String, Column]): UpdateReport = {
    require(exists(name), s"no such table: $name")
    materializePendingDeletes(name)
    val man = currentManifest(name)
    require(set.nonEmpty, "updateWhere needs at least one assignment")
    val bad = set.keys.filterNot(man.schema.fieldNames.contains)
    require(bad.isEmpty, s"unknown columns in SET: ${bad.mkString(", ")}")
    val resolved = spark.createDataFrame(new java.util.ArrayList[Row](), man.schema)
      .filter(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(return UpdateReport(currentVersion(name), 0L, man.files.size))
    val (victims, untouched) =
      man.files.partition(f => graft.catalog.ManifestPruneRule.mayMatch(f, resolved))
    if (victims.isEmpty)
      return UpdateReport(currentVersion(name), 0L, untouched.size)

    val next = currentVersion(name) + 1
    // lineage carry — the Iceberg v3 UPDATE rule: an in-place update keeps
    // the row's IDENTITY (its id), only the values change; unmatched rows
    // in the victim files are plain carry-over
    val scan = victimScan(name, Manifest(man.schema, victims, Nil))
    val (target, carry) = (scan.frame, scan.carry)
    val hit = coalesce(cond, lit(false))
    val updated = target.filter(hit).count()
    if (updated == 0L)
      return UpdateReport(currentVersion(name), 0L, untouched.size)
    // ONE projection so every SET expression sees the OLD row (SQL UPDATE
    // semantics — `SET a = b, b = a` swaps; sequential withColumn would not)
    // lineage: the id carries for EVERY row (update keeps identity); the
    // last-updated version carries only for untouched rows — changed rows
    // write NULL so reads fall back to the entry's (rebase-exact) seq
    val keepCols =
      if (!carry) Nil
      else Seq(col(RowLineage.PhysCol),
        when(hit, lit(null).cast("long")).otherwise(col(RowLineage.VerCol))
          .as(RowLineage.VerCol))
    val rewrittenFrame = target.select(man.schema.fields.toSeq.map { f =>
      set.get(f.name) match {
        case Some(v) => when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    } ++ keepCols: _*)
    // same re-clustering as deleteWhere: keep transform bounds tight on rewrite
    val rewritten = writeData(name,
      cluster(rewrittenFrame, Nil, partitionSpec(name), Some(scan.scanBytes)),
      man.schema, s"d${next}u", inheritedStatsCols(name, Some(man)), seq = next,
      spec = partitionSpec(name), lineageMat = carry)
    // Rebase: same validation as deleteWhere — a concurrently-added file
    // that may match the predicate holds rows this UPDATE never rewrote.
    commitOrRebase(name, next, Manifest(man.schema, untouched ++ rewritten),
      (base, n2) => {
        val mine = (victims ++ untouched).map(_.path).toSet
        val added = base.files.filterNot(f => mine.contains(f.path))
        if (base.schema != man.schema || base.deletes.nonEmpty ||
            !filesIntact(base, victims) ||
            added.exists(f => graft.catalog.ManifestPruneRule.mayMatch(f, resolved))) None
        else {
          val victimPaths = victims.map(_.path).toSet
          Some(Manifest(man.schema, base.files.filterNot(f => victimPaths.contains(f.path)) ++
            rewritten.map(_.copy(seq = n2))))
        }
      })
    UpdateReport(next, updated, untouched.size)
  }

  /** Per-call outcome of [[positionUpdate]]. */
  final case class PositionUpdateReport(version: Long, updated: Long, prunedFiles: Int)

  /** MERGE-ON-READ row-level UPDATE — [[updateWhere]]'s deferred-IO sibling
    * and the last MOR verb beside [[positionDelete]] and [[morMerge]]: ONE
    * atomic commit of a positional-delete file (the matched rows' (file,
    * ordinal) pairs) PLUS data files holding the UPDATED versions of
    * exactly those rows. No untouched row is rewritten — commit cost is
    * O(matched rows), not O(touched files) — and the new rows (seq = next)
    * are shielded from the delete (strict-< rule), so a read serves old
    * rows minus the pairs, union the updated copies: exactly UPDATE.
    *
    * Shares [[updateWhere]]'s contract: SET expressions all see the OLD row
    * (a, b swap works), assigned values cast to the declared column type,
    * NULL-condition rows untouched, a no-match predicate commits nothing,
    * and the matched-row scan is stat-pruned by the resolved predicate. At
    * 100 TB this is the GDPR-update / backfill-correction shape: a
    * scattered predicate that would make [[updateWhere]] rewrite most files
    * commits only the changed rows now; [[compactDeletes]] pays the rewrite
    * later, off the ingest path.
    */
  def positionUpdate(name: String, cond: Column,
                     set: Map[String, Column]): PositionUpdateReport = {
    require(exists(name), s"no such table: $name")
    val man = currentManifest(name)
    require(set.nonEmpty, "positionUpdate needs at least one assignment")
    val bad = set.keys.filterNot(man.schema.fieldNames.contains)
    require(bad.isEmpty, s"unknown columns in SET: ${bad.mkString(", ")}")
    require(!man.schema.fieldNames.exists(Seq(PosFileCol, PosIdxCol, "__pdel_meta").contains),
      s"positionUpdate reserves column names $PosFileCol/$PosIdxCol/__pdel_meta; rename the table column")
    val resolved = spark.createDataFrame(new java.util.ArrayList[Row](), man.schema)
      .filter(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(return PositionUpdateReport(currentVersion(name), 0L, man.files.size))
    val (victims, untouched) =
      man.files.partition(f => graft.catalog.ManifestPruneRule.mayMatch(f, resolved))
    if (victims.isEmpty)
      return PositionUpdateReport(currentVersion(name), 0L, untouched.size)
    val next = currentVersion(name) + 1
    // matched rows WITH their positions, computed once over the
    // DELETE-APPLIED view (the pair write and the updated-row write must
    // see the same matched set, and a row already dead to a pending
    // equality/positional delete must never be resurrected as an "updated"
    // copy — chained MOR verbs compose without materializing)
    val matched = morFrameImpl(name,
        Manifest(man.schema, victims, man.deletes), keepPositions = true)
      .filter(coalesce(cond, lit(false)))
      .persist()
    try {
      val (dels, fresh) = writeDeletionVectors(name, next, man,
        matched.select(col(PosFileCol), col(PosIdxCol)))
      if (dels.isEmpty) return PositionUpdateReport(currentVersion(name), 0L, untouched.size)
      val targets = dels.head.cols.toSet
      val kept = sweepSupersededDvs(man.deletes, targets)
      // ONE projection so every SET expression sees the OLD row (SQL UPDATE
      // semantics — `SET a = b, b = a` swaps)
      val updatedFrame = matched.select(man.schema.fields.toSeq.map { f =>
        set.get(f.name) match {
          case Some(v) => v.cast(f.dataType).as(f.name)
          case None    => col(f.name)
        }
      }: _*)
      val newData = writeData(name, cluster(updatedFrame, Nil, partitionSpec(name)),
        man.schema, s"d${next}u", inheritedStatsCols(name, Some(man)), seq = next,
        spec = partitionSpec(name))
      // Rebase: the pairs target (file, ordinal) positions read from the
      // base snapshot — valid only while those exact files (and the delete
      // set they were filtered through) survive; concurrently-added files
      // carry (their rows post-date this update's read).
      commitOrRebase(name, next,
        Manifest(man.schema, man.files ++ newData, kept ++ dels),
        (base, n2) =>
          if (base.schema != man.schema || base.deletes != man.deletes ||
              !filesIntact(base, victims)) None
          else Some(Manifest(man.schema, base.files ++ newData.map(_.copy(seq = n2)),
            kept ++ dels.map(_.copy(seq = n2)))))
      PositionUpdateReport(next, fresh, untouched.size)
    } finally matched.unpersist()
  }

  /** Schema evolution, ADD-COLUMN case: commit a manifest whose schema is
    * widened by `fields` — SAME files, SAME pending deletes, NO data
    * rewrite. Reads null-backfill (every scan reads with the manifest
    * schema, and parquet files lacking a column yield nulls); snapshots
    * committed before the evolution keep their own schema, so time travel
    * shows the table as it was. Columns append at the end and must be
    * nullable — old rows cannot satisfy NOT NULL.
    *
    * This is the DDL spelling; implicit widening on write (the reference's
    * dlt behavior) stays [[SchemaOps.conform]]/first-write widening.
    */
  def addColumns(name: String, fields: Seq[StructField]): Long =
    addColumns(name, fields, Map.empty[String, String])

  /** [[addColumns]] with INITIAL DEFAULTS (Iceberg v3 initial-default
    * semantics): `defaults` maps new-column names to constant SQL
    * expressions; rows in files written BEFORE the addition read the
    * default, rows written after read what was stored — including genuine
    * nulls. Still a METADATA-ONLY commit at any table size: the default
    * rides the schema field as Spark's `EXISTS_DEFAULT` metadata, which the
    * parquet readers apply exactly when a FILE lacks the column — no
    * seq-based file splitting, no read-path branching, and every rewrite
    * op (compact/merge/deleteWhere/...) materializes the value physically
    * because its victim scan already serves it. The expression must be a
    * deterministic constant — it is evaluated ONCE here and stored as the
    * canonical literal, so every future scan sees the same frozen value
    * (write-side CURRENT DEFAULT is deliberately not implemented: writes
    * conform with explicit nulls, the documented target-schema-wins
    * contract).
    */
  def addColumns(name: String, fields: Seq[StructField],
                 defaults: Map[String, String]): Long = {
    require(exists(name), s"no such table: $name")
    require(fields.nonEmpty, "ADD COLUMN needs at least one column")
    val bad = fields.filterNot(_.nullable)
    require(bad.isEmpty,
      s"new columns must be nullable (existing rows have no value): ${bad.map(_.name).mkString(", ")}")
    val man = currentManifest(name)
    val clash = fields.map(_.name)
      .filter(n => man.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty, s"column(s) already exist: ${clash.mkString(", ")}")
    val unknown = defaults.keySet -- fields.map(_.name).toSet
    require(unknown.isEmpty, s"defaults for columns not being added: ${unknown.mkString(", ")}")
    val withDefaults = fields.map { f =>
      defaults.get(f.name) match {
        case None => f
        case Some(sqlExpr) =>
          // evaluate ONCE, freeze as a canonical literal (a later scan must
          // never re-evaluate arbitrary SQL from table metadata)
          val q = spark.sql(s"SELECT CAST(($sqlExpr) AS ${f.dataType.sql})")
          // strip the projection Alias (whose foldable is defined false)
          val e = q.queryExecution.analyzed.expressions.head match {
            case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
            case other => other
          }
          require(e.deterministic && e.foldable,
            s"initial default for ${f.name} must be a deterministic constant: $sqlExpr")
          val v = q.head().get(0)
          require(v != null,
            s"initial default for ${f.name} does not cast to ${f.dataType.sql}: $sqlExpr")
          val frozen = org.apache.spark.sql.catalyst.expressions.Literal
            .create(v, f.dataType).sql
          // EXISTS_DEFAULT: the FROZEN literal pre-addition files serve
          // forever (Iceberg initial default — scans must never re-evaluate
          // SQL). CURRENT_DEFAULT: the ORIGINAL SQL future INSERTs that omit
          // the column re-resolve at their own analysis time (Spark DEFAULT
          // semantics: `DEFAULT CURRENT_DATE` fills the INSERT day, not the
          // ALTER day) — with SUPPORT_COLUMN_DEFAULT_VALUE declared the SQL
          // face legally reaches this path and ResolveDefaultColumns reads
          // this key; without it an omitted column would land NULL
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putString("EXISTS_DEFAULT", frozen)
            .putString("CURRENT_DEFAULT", sqlExpr).build())
      }
    }
    // new fields get NEVER-REUSED ids (counter advanced before the commit);
    // id-less legacy tables stay id-less (name matching keeps working)
    val stamped =
      if (!hasFieldIds(man.schema)) withDefaults
      else {
        val base = reserveFieldIds(name, fields.size,
          man.schema.fields.flatMap(fieldIdOf).foldLeft(0L)(math.max))
        withDefaults.zipWithIndex.map { case (f, i) =>
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putLong("parquet.field.id", base + i + 1L).build())
        }
      }
    val next = currentVersion(name) + 1
    commitManifest(name, next,
      Manifest(StructType(man.schema.fields ++ stamped), man.files, man.deletes))
  }

  /** Idempotent evolve step for `MERGE ... WITH SCHEMA EVOLUTION`: add the
    * columns of `incoming` the table lacks (as nullable), skip the ones it
    * has — a replayed evolve-merge must not fail on its own prior commit.
    * A same-named column with a DIFFERENT type is a real conflict and
    * fails (silent coercion would corrupt either side).
    */
  def addMissingColumns(name: String, incoming: StructType): Unit = {
    val cur = currentManifest(name).schema
    val missing = incoming.fields.filter(f =>
      !cur.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    val conflict = incoming.fields.flatMap(f =>
      cur.fields.find(c => c.name.equalsIgnoreCase(f.name) && c.dataType != f.dataType))
    require(conflict.isEmpty,
      s"schema evolution cannot change column types: ${conflict.map(_.name).mkString(", ")}")
    if (missing.nonEmpty) addColumns(name, missing.map(_.copy(nullable = true)).toSeq)
  }

  /** Schema evolution, RENAME-COLUMN case — METADATA-ONLY, the Iceberg
    * field-id story: scans resolve warehouse columns by the `parquet.field.id`
    * the writer stamped into every file (names are labels, ids are
    * identity), so a rename is one manifest commit that relabels the field
    * and remaps every manifest-resident use of the old name: per-file stat
    * keys (plain and transform — `days(old)` → `days(new)`), pending
    * delete-file key columns and their stats, and the partition-spec
    * entries whose source is the renamed column. ZERO data IO at any table
    * size; files keep their physical column names forever and keep
    * resolving by id.
    *
    * Time travel stays coherent: an old manifest pairs its OLD names with
    * the same ids, so `loadVersion` before the rename serves the old
    * labels over the same bytes. Refuses on tables predating field ids
    * (their files carry no ids to resolve by — a rewrite would be needed,
    * and silently degrading to name matching would read nulls).
    */
  def renameColumn(name: String, from: String, to: String): Long = {
    require(exists(name), s"no such table: $name")
    val man = currentManifest(name)
    require(man.schema.fieldNames.contains(from), s"no such column: $from")
    require(!man.schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column already exists: $to")
    require(hasFieldIds(man.schema),
      s"$name predates field ids: files resolve by NAME, so a metadata-only " +
        "rename would null the column; rewrite the table first")
    def remapKey(k: String): String =
      if (k == from) to
      else PartitionTransforms.parseKey(k) match {
        case Some(pf) if pf.src == from => pf.copy(src = to).key
        case _ => VariantStats.parseKey(k) match {
          case Some(vk) if vk.src == from => vk.copy(src = to).key
          case _                          => k
        }
      }
    val newSchema = StructType(man.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val files = man.files.map(f => f.copy(stats =
      f.stats.map { case (k, v) => remapKey(k) -> v }))
    val dels = man.deletes.map(d => d.copy(
      cols = d.cols.map(c => if (c == from) to else c),
      stats = d.stats.map { case (k, v) => remapKey(k) -> v }))
    val v = commitManifest(name, currentVersion(name) + 1,
      Manifest(newSchema, files, dels))
    // spec rewrite AFTER the commit: a crash in between leaves transforms
    // naming a column that no longer exists, which every consumer treats
    // conservatively (cluster skips the transform, SPJ/prune disable) —
    // never wrong results, and the next rename/updateSpec heals it
    val spec = partitionSpec(name)
    val newSpec = spec.map(s => PartitionTransforms.parse(s) match {
      case Some(pf) if pf.src == from => pf.copy(src = to).key
      case _                          => s
    })
    if (newSpec != spec) writeSpecFile(name, newSpec)
    // bloom marker rides the rename too: sidecars are field-id-keyed (still
    // valid — same id, same values), only the planner's name-keyed marker
    // entry moves. Crash before this line just disables pruning for the
    // new name until the next buildBloomIndex.
    BloomIndex.remapIndexedCol(io, tableDir(name).toString, from, Some(to))
    v
  }

  /** Schema evolution, DROP-COLUMN case — metadata-only: the field leaves
    * the schema, its manifest stats leave with it, the FILES keep their
    * bytes (time travel to pre-drop versions still reads them; the id is
    * never reused — [[reserveFieldIds]] — so a later re-add can't resurrect
    * them). Refuses while the column is a partition-transform source or
    * keys a PENDING equality delete (materialize first): dropping either
    * would silently change which rows die.
    */
  def dropColumn(name: String, colName: String): Long = {
    require(exists(name), s"no such table: $name")
    val man = currentManifest(name)
    require(man.schema.fieldNames.contains(colName), s"no such column: $colName")
    require(man.schema.fields.length > 1, "cannot drop the last column")
    require(hasFieldIds(man.schema),
      s"$name predates field ids; rewrite the table first")
    val specSrcs = partitionSpec(name).flatMap(PartitionTransforms.parse).map(_.src)
    require(!specSrcs.contains(colName),
      s"$colName is a partition-transform source; update the spec first")
    require(!man.deletes.exists(_.cols.contains(colName)),
      s"$colName keys pending equality deletes; compactDeletes first")
    def dropsKey(k: String): Boolean =
      k == colName || PartitionTransforms.parseKey(k).exists(_.src == colName)
    // advance the id high-water mark over the DOOMED id before it leaves
    // the schema: tables auto-created by a first append have no _maxfid
    // file, and without this a later addColumns could hand the dropped id
    // to a new column — which would then resolve against pre-drop files
    // and resurrect the dropped column's bytes
    reserveFieldIds(name, 0, man.schema.fields.flatMap(fieldIdOf).foldLeft(0L)(math.max))
    val newSchema = StructType(man.schema.fields.filterNot(_.name == colName))
    val files = man.files.map(f => f.copy(stats = f.stats.filterNot { case (k, _) => dropsKey(k) }))
    val dels = man.deletes.map(d => d.copy(stats = d.stats.filterNot { case (k, _) => dropsKey(k) }))
    val v = commitManifest(name, currentVersion(name) + 1, Manifest(newSchema, files, dels))
    // un-mark any bloom index on the dropped name: a later re-added column
    // of the same name gets a FRESH field id, so the orphaned sidecars can
    // never be consulted — but the name must leave the marker so probes
    // don't pay sidecar-miss IO for an index that no longer applies
    BloomIndex.remapIndexedCol(io, tableDir(name).toString, colName, None)
    v
  }


  /** Drop all but the newest `keepLast` snapshots and garbage-collect data
    * files no surviving manifest references (Iceberg `expireSnapshots`).
    * Time travel keeps working within the retained window.
    *
    * Also sweeps ORPHANS — files referenced by no manifest at all (a losing
    * racing writer's attempt dir, a crash between writeData and commit) —
    * even when no snapshot is expired. Orphans must out-age `orphanGraceMs`
    * before deletion (Iceberg's orphan-file retention analog): a
    * concurrent IN-FLIGHT writer's files are unreferenced until its commit,
    * and the grace keeps the sweep from destroying them mid-write.
    */
  def expireSnapshots(name: String, keepLast: Int,
                      orphanGraceMs: Long = 3600000L,
                      olderThanMillis: Option[Long] = None): Unit = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val versions = history(name)
    // Tagged snapshots are PROTECTED refs (Iceberg retention semantics):
    // expiry never drops a tagged manifest or the files it references, no
    // matter how old — dropTag first to release it. With `olderThanMillis`
    // (Iceberg expire_snapshots older_than): only droppable snapshots
    // COMMITTED BEFORE the instant go — keepLast still floors retention.
    // Tags name MAIN-ledger versions, so they protect nothing on a branch
    // ledger (whose version numbers are a different space).
    val tagged = if (refOf(name).nonEmpty) Set.empty[Long] else tags(name).values.toSet
    // Every OTHER ref of this table keeps its entire ledger: its manifests'
    // files and segments are live no matter what this ref drops — branches
    // share data files with main (and each other) by path, and the v0 fork
    // manifest is a hard link whose content must stay resolvable.
    val base = splitRef(name)._1
    val otherRefManifests: Seq[Path] =
      (Seq(base) ++ branches(base).map(b => s"$base@$b"))
        .filterNot(_ == name)
        .flatMap(rn => history(rn).map(v => manifestPath(rn, v)))
    val drop = versions.dropRight(keepLast).filterNot(tagged)
      .filter(v => olderThanMillis.forall(commitTimeMillis(name, v) < _))
    val keep = versions.filterNot(drop.toSet)
    def refsOf(m: Manifest): Seq[String] = m.files.map(_.path) ++ m.deletes.map(_.path)
    // parse each other-ref manifest ONCE (the stage-publication loop below
    // would otherwise re-read all of them per stage, and the liveness fold
    // a third time): O(refs x versions) manifest IO, not O(stages x ...)
    val otherRefParsed: Seq[Manifest] = otherRefManifests.map(Manifest.read)
    val otherRefPathSets: Seq[Set[String]] = otherRefParsed.map(_.files.map(_.path).toSet)
    // Finalize published-but-unfinalized stage markers BEFORE destroying the
    // snapshots that prove publication (a crash inside publishStage's one-
    // rename window leaves such a marker): the evidence check runs while
    // every manifest still exists, and the marker becomes the durable
    // tombstone — so a later re-publish stays a no-op even after this
    // expiry removed all adopting snapshots. Closes the round-9 residual
    // double-apply window.
    listStages(name).foreach { id =>
      val (p, _, _) = findStage(name, id)
      val paths = Manifest.read(p).files.map(_.path).toSet
      val published = paths.nonEmpty && (versions.exists(v =>
        paths.subsetOf(manifestAt(name, v).files.map(_.path).toSet)) ||
        otherRefPathSets.exists(paths.subsetOf))
      if (published) io.move(p, tombstoneOf(p))
    }
    val droppedRefs = drop
      .flatMap(v => refsOf(Manifest.read(manifestPath(name, v)))).toSet
    // Pending (unpublished) stage manifests reference their stg* files just
    // like snapshots reference d* files: an audit can run for hours, so its
    // files are live regardless of age. Published stages' files were adopted
    // BY PATH into snapshot manifests, so once those snapshots expire the
    // files land in droppedRefs and must be swept from their stg* dirs too.
    val stageRefs = listStages(name)
      .map(id => findStage(name, id)._1)
      .flatMap(p => refsOf(Manifest.read(p))).toSet
    val referenced = keep
      .flatMap(v => refsOf(Manifest.read(manifestPath(name, v)))).toSet ++ stageRefs ++
      otherRefParsed.flatMap(refsOf)
    // manifest SEGMENTS are shared by reference across snapshot roots the
    // same way data files are: a segment lives while ANY kept root lists it
    // (collected BEFORE the roots are deleted) — including every other
    // ref's roots
    val keptSegs = keep.flatMap(v => Manifest.segmentRefs(manifestPath(name, v))).toSet ++
      otherRefManifests.flatMap(Manifest.segmentRefs)
    val droppedSegs = drop.flatMap(v => Manifest.segmentRefs(manifestPath(name, v))).toSet
    drop.foreach(v => io.delete(manifestPath(name, v)))
    (droppedSegs -- keptSegs).foreach(s => io.delete(tableDir(name).resolve(s)))
    val td = tableDir(name)
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    def aged(p: Path) = Files.getLastModifiedTime(p).toMillis < cutoff
    // grace-aged orphans, out-aging any in-flight writer first:
    //   - `*.tmp`: a crashed writer's staging file of ANY shape — MetaIO's
    //     `<target>.<uuid8>.tmp` (commit attempts, segments, pointers,
    //     markers) and older fixed names (`g<id>.seg.tmp`, `_spec.tmp`);
    //     the warehouse's `_intents` dir rides along (its tmps are
    //     unnamed to any table);
    //   - `m<v>.manifest.w<id>`: an older committer's attempt file whose
    //     link never happened;
    //   - `g*.seg`: a crashed or CAS-losing committer's segment whose root
    //     never linked (a committer writes its segment BEFORE its root).
    (io.list(td) ++ io.list(intentsDir)).filter { p =>
      val n = p.getFileName.toString
      (n.endsWith(".tmp") || n.matches("m\\d+(@.+)?\\.manifest\\.w.*") ||
        n.startsWith("g") && n.endsWith(".seg") && !keptSegs.contains(n)) &&
        Files.isRegularFile(p) && aged(p)
    }.foreach(io.delete)
    val dataDirs = io.list(td).filter { p =>
      val n = p.getFileName.toString
      // d* data dirs, del* equality-delete dirs, pdel* positional-delete
      // dirs, stg* staged dirs — everything that can hold referenced or
      // orphaned parquet
      Files.isDirectory(p) &&
        (n.startsWith("d") || n.startsWith("pdel") || n.startsWith("stg"))
    }
    dataDirs.foreach { dir =>
      // walk, not list: partitioned writes hive-split data one directory
      // level down (`__graft_p0=3/part-*.parquet`), and a non-recursive
      // sweep would see zero parquets and wholesale-delete a LIVE dir
      val files = {
        val s = Files.walk(dir)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        finally s.close()
      }
      val parquets = files.filter(_.getFileName.toString.endsWith(".parquet"))
      val (live, nonLive) = parquets.partition(p => referenced.contains(td.relativize(p).toString))
      // expired-snapshot files go immediately; never-referenced orphans only
      // after the grace period (an in-flight writer may still commit them)
      val dead = nonLive.filter(p => droppedRefs.contains(td.relativize(p).toString) || aged(p))
      dead.foreach { p =>
        io.delete(p)
        io.delete(p.resolveSibling("." + p.getFileName.toString + ".crc"))
      }
      // bloom sidecars (`<file>.bloom.<colB64>`) die with their data file:
      // sweep any whose data file is gone (incl. files this pass deleted),
      // and a crashed sidecar write's grace-aged tmp
      files.filter(_.getFileName.toString.contains(".bloom.")).foreach { sc =>
        val n = sc.getFileName.toString
        val dataName = n.substring(0, n.indexOf(".bloom."))
        if (!Files.exists(sc.resolveSibling(dataName)) || n.endsWith(".tmp") && aged(sc))
          io.delete(sc)
      }
      if (live.isEmpty && dead.size == nonLive.size)
        io.deleteTree(dir) // nothing referenced or pending: remove wholesale
    }
    // staged CDC windows (`_cdc/w<s>_<e>`, crashed stagers' tmp-* —
    // ChangesTable): the streaming face sweeps them on offset commit, but a
    // batch-only consumer never commits offsets, so expiry is their
    // backstop — one shared janitor ([[expireCdcStages]]), age-gated by the
    // same grace as data orphans.
    expireCdcStages(name, orphanGraceMs)
  }

}

object Warehouse {
  /** Held while a [[renameAll]] intent executes or rolls forward. */
  private val renameLock = new Object

  /** Open [[withWriteConfs]] scopes per session: conf key -> (writers
    * inside, the value the first writer in found).
    */
  private val writeScopes =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, (Int, Option[String])]]()

  /** Run `body` with the session confs `confs` set, for writers that may
    * overlap on one session. Per conf key, the first writer in saves the
    * caller's value and sets the scope's value; the last writer out
    * restores the saved value (unsetting a conf that had none). Every
    * writer asks for the same value of a key, so an overlapping writer
    * never sees it flip under its write.
    */
  private[sink] def withWriteConfs[A](spark: SparkSession, confs: Seq[(String, String)])(
      body: => A): A = {
    writeScopes.synchronized {
      val open = writeScopes.computeIfAbsent(spark, _ => scala.collection.mutable.Map.empty)
      confs.foreach { case (k, v) =>
        val (n, saved) = open.getOrElse(k, (0, spark.conf.getOption(k)))
        if (n == 0) spark.conf.set(k, v)
        open(k) = (n + 1, saved)
      }
    }
    try body
    finally writeScopes.synchronized {
      val open = writeScopes.get(spark)
      confs.foreach { case (k, _) =>
        open(k) match {
          case (1, saved) =>
            open.remove(k)
            saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
          case (n, saved) => open(k) = (n - 1, saved)
        }
      }
      if (open.isEmpty) writeScopes.remove(spark)
    }
  }

  /** Re-entrancy guard for [[Warehouse.recoverPendingTxns]]: roll-forward
    * itself goes through warehouse access paths that call `exists`.
    */
  private[sink] val inTxnRecovery: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Instrumentation: how often [[WarehouseChangeFeed.commitChangedEntryCount]]
    * fell back to a full two-manifest replay (test-pinned — CDC admission
    * over an append-shaped backlog must stay on the O(delta) root-line path).
    */
  private[graft] val changeCountFullDiffs = new java.util.concurrent.atomic.AtomicLong
}
