package graft.sink

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.SchemaOps

/** Staged publication: write-audit-publish (WAP) candidates and the
  * atomic CTAS/RTAS staging protocol (invisible writes, one-commit
  * publish, crash roll-forward).
  *
  * One of [[Warehouse]]'s section traits — a pure textual split of the
  * original single file (unchanged public face, same `private[sink]`
  * surface); the self-type is the class itself, so every member reads as
  * before.
  */
private[sink] trait WarehouseStaging { self: Warehouse =>

  // --------------------------------------------- write-audit-publish (WAP) --

  /** Stage a batch as an UNPUBLISHED candidate (Iceberg WAP pattern): data
    * files are written for real, but no snapshot commits — the table is
    * untouched until [[publishStage]]. The audit step reads the candidate
    * state via [[loadStage]] (quality gates, row-count deltas, the q122-q126
    * audits) and either publishes or [[dropStage]]s. Staged data dirs are
    * named `stg*`; [[expireSnapshots]] treats a pending stage manifest's
    * files as referenced — stage lifecycle is EXPLICIT (publish or drop), so
    * an audit running for hours can't have its files garbage-collected out
    * from under it, while files of expired snapshots that were ADOPTED from
    * a published stage do get swept from their stg* dirs.
    *
    * Publish semantics per mode:
    *   - append: fast-append cherry-pick — publishes onto WHATEVER the
    *     current snapshot is (interim commits are kept; only a schema
    *     change since staging is a conflict);
    *   - replace: the audit certified an exact table STATE, so any interim
    *     commit is a conflict (ConcurrentModificationException), mirroring
    *     the OCC contract of the direct write path.
    */
  def stageAppend(name: String, df: DataFrame, statsCols: Seq[String] = Nil): String =
    stage(name, df, "append", statsCols)

  /** See [[stageAppend]]; the staged candidate REPLACES the table on publish. */
  def stageReplace(name: String, df: DataFrame, statsCols: Seq[String] = Nil): String =
    stage(name, df, "replace", statsCols)

  private def stage(name: String, df: DataFrame, mode: String,
                    statsCols: Seq[String]): String = {
    require(exists(name), s"staging requires an existing table: $name")
    val man = currentManifest(name)
    val base = currentVersion(name)
    val schema = targetSchema(if (mode == "append") Some(man) else None, df)
    val id = java.util.UUID.randomUUID().toString.take(8)
    val spec = partitionSpec(name)
    val entries = writeData(name, cluster(SchemaOps.conform(df, schema), Nil, spec),
      schema, s"stg$id", statsCols ++ spec ++ inheritedStatsCols(name, Some(man)), spec = spec)
    Manifest.write(stagePath(name, id, mode, base), Manifest(schema, entries), io)
    id
  }

  private def stagePath(name: String, id: String, mode: String, baseV: Long) =
    tableDir(name).resolve(s"stage-$id.$mode.$baseV.manifest")

  /** (path, mode, baseVersion) of a stage, or a loud failure. */
  private[sink] def findStage(name: String, id: String): (Path, String, Long) = {
    val hits = io.list(tableDir(name))
      .filter(_.getFileName.toString.startsWith(s"stage-$id."))
      .filter(_.getFileName.toString.endsWith(".manifest"))
    require(hits.size == 1, s"no such stage: $name/$id")
    val parts = hits.head.getFileName.toString.split('.')
    (hits.head, parts(1), parts(2).toLong)
  }

  /** Ids of all unpublished stages of `name` (operator hygiene: find
    * forgotten candidates — staged files live until publish or drop).
    */
  def listStages(name: String): Seq[String] =
    io.list(tableDir(name)).map(_.getFileName.toString)
      .filter(n => n.startsWith("stage-") && n.endsWith(".manifest"))
      .map(_.stripPrefix("stage-").split('.').head).sorted

  /** The candidate table state the audit step reads: base + batch for an
    * append stage, the batch alone for a replace stage. The base rides
    * [[morFrame]], so PENDING equality deletes apply exactly as they do on
    * every other read — an audit must never see rows a publish would not
    * adopt. Staged files are sequenced above every pending delete for the
    * audit view, mirroring publish (adopted files get the publish commit's
    * seq, shielding them from carried-forward deletes).
    */
  def loadStage(name: String, stageId: String): DataFrame = {
    val (p, mode, _) = findStage(name, stageId)
    val sm = Manifest.read(p)
    val cur = currentManifest(name)
    val (files, deletes) =
      if (mode == "append")
        (cur.files ++ sm.files.map(_.copy(seq = Long.MaxValue)), cur.deletes)
      else (sm.files, Nil)
    morFrame(name, Manifest(sm.schema, files, deletes))
  }

  /** `stage-<id>...published` tombstone beside a marker: durable proof the
    * stage's commit landed, written by ATOMIC RENAME of the marker itself
    * right after the commit. Unlike snapshot-path evidence it survives
    * expiry and table rewrites, which closes the re-publish double-apply
    * window those could otherwise reopen.
    */
  private[sink] def tombstoneOf(p: Path): Path =
    p.resolveSibling(p.getFileName.toString.stripSuffix(".manifest") + ".published")

  private def findTombstones(name: String, id: String): Seq[Path] =
    io.list(tableDir(name))
      .filter(_.getFileName.toString.startsWith(s"stage-$id."))
      .filter(_.getFileName.toString.endsWith(".published"))

  /** Commit the audited candidate. One manifest commit under the same OCC
    * guard as every write; the staged data files are adopted by path, so
    * publish moves zero bytes.
    */
  def publishStage(name: String, stageId: String): Long = {
    // A crash between a prior publish's commit and its marker finalization
    // leaves the durable tombstone: re-publish is then a pure cleanup — no
    // snapshot inspection, no dependence on what expiry kept around.
    val stones = findTombstones(name, stageId)
    if (stones.nonEmpty) {
      stones.foreach(io.delete)
      return currentVersion(name)
    }
    val (p, mode, baseV) = findStage(name, stageId)
    val sm = Manifest.read(p)
    val cur = currentVersion(name)
    val curMan = currentManifest(name)
    // Idempotent re-publish, layered:
    //   1. the tombstone above — written by atomic rename IMMEDIATELY after
    //      the commit, so the unprotected window is one rename wide;
    //   2. evidence-based detection for a crash inside that window:
    //      - non-empty stage: its stg<id> file paths are globally unique, so
    //        ANY retained snapshot containing them proves the commit landed —
    //        the current manifest alone is not enough, because the table may
    //        have been replaced since the crash, and re-appending the staged
    //        rows onto the replaced table would be a silent double-publish;
    //      - empty stage: no path evidence can exist, but publishing an
    //        empty stage is content-neutral, so any commit past the stage's
    //        base makes re-publish a pure cleanup;
    //   3. [[expireSnapshots]] finalizes published-but-unfinalized markers
    //      (same evidence check) BEFORE destroying the snapshots that carry
    //      the evidence — so expiry can no longer reopen the window it used
    //      to (the round-9 residual, now closed and spec-pinned).
    val stagePaths = sm.files.map(_.path).toSet
    val published =
      if (stagePaths.isEmpty) cur > baseV
      else (cur +: history(name)).distinct.exists(v =>
        stagePaths.subsetOf(manifestAt(name, v).files.map(_.path).toSet))
    if (published) {
      io.delete(p)
      return cur
    }
    val merged = mode match {
      case "replace" =>
        if (cur != baseV)
          throw new java.util.ConcurrentModificationException(
            s"$name: replace stage $stageId audited v$baseV but table is at " +
              s"v$cur; re-stage against the current state")
        Manifest(sm.schema, sm.files.map(_.copy(seq = cur + 1)))
      case _ =>
        if (curMan.schema != sm.schema)
          throw new java.util.ConcurrentModificationException(
            s"$name: schema changed since stage $stageId was written; re-stage")
        // adopted files are sequenced at the PUBLISH commit (staged rows
        // were never in the table, so an interim MOR delete — carried
        // forward here — must not touch them)
        Manifest(curMan.schema, curMan.files ++ sm.files.map(_.copy(seq = cur + 1)),
          curMan.deletes)
    }
    val v = commitManifest(name, cur + 1, merged)
    // finalize in two steps: one ATOMIC RENAME to the durable tombstone
    // (from here on a replay is decided by the tombstone, never by snapshot
    // evidence), then the tombstone delete completes the happy path
    val stone = tombstoneOf(p)
    io.move(p, stone)
    io.delete(stone)
    v
  }

  /** Abandon a stage: its manifest and data files are deleted (they were
    * never referenced by any snapshot, so nothing else can see them). A
    * stage that turns out to be a published-but-unfinalized tombstone is
    * just the finalization cleanup.
    */
  def dropStage(name: String, stageId: String): Boolean = {
    val stones = findTombstones(name, stageId)
    if (stones.nonEmpty) return stones.map(io.delete).forall(identity)
    val (p, _, _) = findStage(name, stageId)
    val sm = Manifest.read(p)
    // a stage's files all live in its own stg* dir(s) — no snapshot ever
    // referenced them, so the dirs go wholesale
    sm.files.map(f => tableDir(name).resolve(f.path).getParent).distinct
      .foreach(io.deleteTree)
    io.delete(p)
  }

  // --------------------------------------------- atomic CTAS/RTAS staging --

  /** Stage an atomic `CREATE [OR REPLACE] TABLE ... AS SELECT` (the
    * StagingTableCatalog lifecycle): data files are written for real into
    * the (possibly not-yet-existing) table directory, but the table stays
    * INVISIBLE — [[exists]] is "a committed manifest is present", and none
    * is until [[CtasStage.commit]] lands exactly one snapshot commit. A
    * failed query aborts to nothing: no half-created table for readers to
    * trip on, no empty husk to clean up (the non-atomic alternative —
    * create-then-insert — exposes both states).
    *
    * `replaceExisting = true` stages an RTAS over the current version:
    * commit REDEFINES the table (new schema, new partition spec, content =
    * exactly the query result) as one snapshot commit, CAS-guarded against
    * concurrent writers ([[publishStage]]'s replace conflict rule); old
    * snapshots keep serving time travel. A crash between write and commit
    * orphans only `ctas*` attempt dirs — once the table exists (or existed
    * all along), [[expireSnapshots]]'s grace-aged unreferenced-file sweep
    * collects them.
    */
  def stageCreateTable(name: String, schema: StructType, spec: Seq[String],
                       replaceExisting: Boolean): CtasStage =
    new CtasStage(name, schema, spec, replaceExisting)

  final class CtasStage private[sink] (name: String, rawSchema: StructType,
      spec: Seq[String], replaceExisting: Boolean) {
    require(refOf(name).isEmpty,
      s"cannot create a table at a branch name: $name (use createBranch)")
    // fast-fail only — the real create-vs-create race is decided by the
    // v0 commitManifest CAS in commit()
    require(replaceExisting || !self.exists(name),
      s"table already exists: $name")
    require(!replaceExisting || self.exists(name),
      s"no such table to replace: $name")

    /** The committed table's schema: widened nullable + field-id-stamped,
      * frozen here so every staged file carries the ids scans resolve by.
      */
    private val schema: StructType =
      withFieldIds(StructType(rawSchema.fields.map(_.copy(nullable = true))))
    private val canon = PartitionTransforms.canonical(spec, schema)
    private val baseV: Option[Long] =
      if (replaceExisting) Some(currentVersion(name)) else None
    private val id = java.util.UUID.randomUUID().toString.take(8)
    private var entries: Vector[DataFile] = Vector.empty

    /** Write one batch of the query result (Spark's CTAS exec writes once;
      * multiple calls accumulate). Files land under a stage-unique `ctas*`
      * dir — unreferenced by any snapshot until commit.
      */
    def write(df: DataFrame, statsCols: Seq[String] = Nil): Unit = {
      io.mkdirs(tableDir(name))
      val in = cluster(SchemaOps.conform(df, schema), Nil, canon)
      entries = entries ++ writeData(name, in, schema, s"ctas$id-${entries.size}",
        statsCols ++ canon, seq = 0L, spec = canon)
    }

    /** Publish: exactly ONE snapshot commit makes the table (or its new
      * definition) visible. CREATE commits v0 directly with the staged
      * files — racing creators are serialized by the manifest CAS, the
      * loser surfaces `ConcurrentModificationException` and its files are
      * aborted by the caller. REPLACE commits base+1 and refuses if the
      * table moved since staging (the query read nothing from the table,
      * but "replace" semantics promise the definition the user saw).
      */
    def commit(): Long = {
      io.mkdirs(tableDir(name))
      val target = baseV match {
        case None => 0L
        case Some(b) =>
          val cur = currentVersion(name)
          if (cur != b) throw new java.util.ConcurrentModificationException(
            s"$name: RTAS staged against v$b but table is at v$cur; re-run")
          b + 1
      }
      // aux metadata: id high-water mark always (monotonic, harmless on a
      // lost race); the spec FILE only for CREATE, where the dir is still
      // invisible — an RTAS spec write before the commit would flip the
      // LIVE table's layout mid-flight, so it lands after instead
      reserveFieldIds(name, 0, schema.fields.flatMap(fieldIdOf).foldLeft(0L)(math.max))
      if (baseV.isEmpty && canon.nonEmpty) writeSpecFile(name, canon)
      val v = commitManifest(name, target,
        Manifest(schema, entries.map(_.copy(seq = target))))
      // RTAS redefines the table's spec too (Iceberg REPLACE semantics); a
      // crash inside this one-write window leaves the old spec file — a
      // layout hint, never a correctness input (pruning/SPJ resolve per
      // FILE from manifest stats)
      if (baseV.nonEmpty) writeSpecFile(name, canon)
      v
    }

    /** Abandon: every `ctas<id>*` dir of this stage goes wholesale — by id
      * GLOB, not the entry list, because a query that failed MID-write
      * (task abort inside `df.write.parquet`) leaves a partial attempt dir
      * that never produced entries. No snapshot ever referenced any of it.
      * A table directory created solely for this stage — the table never
      * came to exist — goes with it.
      */
    def abort(): Unit = {
      val d = tableDir(name)
      io.list(d).filter(_.getFileName.toString.startsWith(s"ctas$id-")).foreach(io.deleteTree)
      entries = Vector.empty
      // only metadata this stage itself wrote can remain (id counter);
      // anything else means a concurrent actor owns the dir — leave it
      if (baseV.isEmpty && !self.exists(name) &&
          io.list(d).forall(p => p.getFileName.toString.startsWith("_")))
        io.deleteTree(d)
    }
  }

}
