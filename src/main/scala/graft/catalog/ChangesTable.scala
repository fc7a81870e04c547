package graft.catalog

import java.util

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink.Warehouse

/** Row-level CDC as a FIRST-CLASS DSv2 source: `cat.`t$changes`` serves the
  * exact `+I`/`-D` change rows of [[Warehouse.readChanges]] through Spark's
  * own read APIs —
  *
  * {{{
  *   // batch: one window (defaults: the full history)
  *   spark.read.option("from-version", 2).table("cat.`t$changes`")
  *   // streaming: every commit kind, exactly-once, offsets = versions
  *   spark.readStream.table("cat.`t$changes`").writeStream...
  * }}}
  *
  * This closes the gap between [[GraftMicroBatchStream]] (append-only file
  * batches; refuses merge/delete/compact commits) and the poll-based
  * [[graft.streaming.ChangeFeedStream]] consumer: a downstream user gets
  * `readStream` semantics over a MUTATING table — morMerge upserts arrive
  * as `-D` old + `+I` new, equality/positional deletes as `-D`, compaction
  * as nothing (rewrite carry-over cancels) — with Spark's offset log
  * providing exactly-once across restarts. (Reference analog: the
  * incremental micro-batch replication contract, `salesforce/__init__.py:
  * 41-47`, generalized from inserts to row-level changes.)
  *
  * Why rows are STAGED, not served file-grain: a change window's exact rows
  * are a bag difference across MOR overlays ([[Warehouse.readChanges]]'s
  * exceptAll algebra) — inherently a multi-file computation that no
  * per-file reader can produce (Iceberg's changelog scan REFUSES equality
  * deletes for exactly this reason). Each planned window `(s, e]` therefore
  * materializes `readChanges(s, e)` ONCE under `<table>/_cdc/w<s>_<e>`
  * (atomic directory publish; replays and concurrent consumers of the same
  * window reuse it — snapshots are immutable, so the bag is deterministic)
  * and the batch plans those parquet files like any scan. Cost is
  * O(changed rows) write + read per window — the change volume, never the
  * table; at 100 TB an incremental consumer pays for its changes only.
  */
final class ChangesTable(displayName: String, val table: String, val root: String,
                         byCommit: Boolean = false, lineage: Boolean = false)
    extends Table with SupportsRead {

  private def spark = SparkSession.active

  /** The to-side table columns plus `_change_type` (`+I` | `-D`, with
    * `-U`/`+U` under `update-images`), fixed at load time — the
    * changelog-read schema contract. The COMMIT-ATTRIBUTED face
    * (`t$changes_by_commit`) adds `_commit_version`/`_commit_timestamp`
    * (the Delta CDF columns): windows stage as a union of PER-COMMIT
    * change bags, each row carrying the commit that produced it. The
    * LINEAGE face (`t$changes_lineage`, a separate table name because a
    * DSv2 table's schema is fixed at load) adds `_row_id` /
    * `_last_updated_version` per change row — and update-image pairing
    * then keys on `_row_id` instead of user-declared identifier columns.
    */
  val cdcSchema: StructType = {
    val tbl = new Warehouse(spark, root).manifestHeader(table).schema.fields
    val lin = if (!lineage) Nil else Seq(
      StructField("_row_id", LongType, nullable = false),
      StructField("_last_updated_version", LongType, nullable = false))
    val base = tbl ++ lin :+ StructField("_change_type", StringType, nullable = false)
    StructType(if (!byCommit) base else base ++ Seq(
      StructField("_commit_version", LongType, nullable = false),
      StructField("_commit_timestamp", TimestampType, nullable = false)))
  }

  override def name(): String = displayName
  override def schema(): StructType = cdcSchema
  override def capabilities(): util.Set[TableCapability] = {
    import scala.jdk.CollectionConverters._
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      // consumer predicates SCOPE window planning (the scoped-replication
      // shape): accepted conjuncts drive delete-aware segment pruning and
      // per-file refutation inside readChangesScoped. Every filter is also
      // returned as residual, so Spark re-applies it above the scan — the
      // scoped bag only guarantees rows MATCHING the predicate
      // ([[graft.sink.Warehouse.readChangesScoped]] contract). Faces whose
      // labels are decided from BOTH rows of a pair (update-images,
      // lineage) never scope: dropping the half of a pair that fails the
      // predicate would flip the surviving half's label.
      private val scopable = !lineage &&
        !Option(options.get("update-images")).exists(_.toBoolean)
      private var accepted: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        if (scopable)
          accepted = filters.filter(f => CdcScope.translate(f, cdcSchema).isDefined)
        filters // ALL residual — correctness never rides the scope
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = accepted
      override def build(): Scan = {
        val scope = accepted.toSeq.flatMap(CdcScope.translate(_, cdcSchema))
          .reduceOption(org.apache.spark.sql.catalyst.expressions.And(_, _))
        new ChangesScan(table, root, cdcSchema, options, byCommit, lineage, scope)
      }
    }
}

/** Translation of pushed DSv1 filters into the catalyst conjuncts
  * [[ManifestPruneRule.mayMatch]] prunes on — only shapes the manifest
  * stat domain can refute, only on real table columns (never the feed's
  * `_change_type`/lineage metadata). Anything else translates to None and
  * simply doesn't scope (the filter still applies above the scan).
  */
private[catalog] object CdcScope {
  import org.apache.spark.sql.{sources => sf}
  import org.apache.spark.sql.catalyst.expressions._

  private val MetaCols =
    Set("_change_type", "_row_id", "_last_updated_version",
      "_commit_version", "_commit_timestamp")

  def translate(f: sf.Filter, schema: StructType): Option[Expression] = {
    def attr(name: String): Option[AttributeReference] =
      schema.fields.find(g => g.name == name && !MetaCols(name))
        .map(g => AttributeReference(g.name, g.dataType)())
    def lit(name: String, v: Any): Option[Literal] =
      attr(name).map(a => Literal.create(v, a.dataType))
    f match {
      case sf.EqualTo(c, v)            => for {a <- attr(c); l <- lit(c, v)} yield EqualTo(a, l)
      case sf.EqualNullSafe(c, v)      => for {a <- attr(c); l <- lit(c, v)} yield EqualNullSafe(a, l)
      case sf.GreaterThan(c, v)        => for {a <- attr(c); l <- lit(c, v)} yield GreaterThan(a, l)
      case sf.GreaterThanOrEqual(c, v) => for {a <- attr(c); l <- lit(c, v)} yield GreaterThanOrEqual(a, l)
      case sf.LessThan(c, v)           => for {a <- attr(c); l <- lit(c, v)} yield LessThan(a, l)
      case sf.LessThanOrEqual(c, v)    => for {a <- attr(c); l <- lit(c, v)} yield LessThanOrEqual(a, l)
      case sf.In(c, vs)                =>
        attr(c).map(a => In(a, vs.toSeq.map(v => Literal.create(v, a.dataType))))
      case sf.IsNull(c)                => attr(c).map(IsNull(_))
      case sf.IsNotNull(c)             => attr(c).map(IsNotNull(_))
      case sf.StringStartsWith(c, p)   =>
        attr(c).filter(_.dataType == org.apache.spark.sql.types.StringType)
          .map(a => StartsWith(a, Literal(p)))
      // AND may translate partially (dropping a conjunct is conservative)
      case sf.And(l, r) =>
        (translate(l, schema), translate(r, schema)) match {
          case (Some(a), Some(b)) => Some(And(a, b))
          case (one, other)       => one.orElse(other)
        }
      case _ => None
    }
  }

  /** CATALYST-side sibling of [[translate]] for the STREAMING face: Spark
    * never pushes filters into a streaming scan builder, so
    * [[CdcStreamScopeRule]] reads the consumer's Filter condition straight
    * from the per-trigger logical plan and translates it here. Same
    * contract: only stat-domain shapes over REAL table columns (bare
    * attribute vs literal — a cast around the attribute does not
    * translate), AND partial-translation conservative, anything else None.
    * The returned conjuncts are DETACHED (fresh AttributeReferences), as
    * mayMatch resolves by name against the manifest stat keys.
    */
  def translateExpr(e: org.apache.spark.sql.catalyst.expressions.Expression,
                    schema: StructType): Option[Expression] = {
    def attr(x: Expression): Option[AttributeReference] = x match {
      case a: AttributeReference if !MetaCols(a.name) =>
        schema.fields.find(_.name == a.name)
          .map(g => AttributeReference(g.name, g.dataType)())
      case _ => None
    }
    def lt(x: Expression): Option[Literal] = x match {
      case l: Literal => Some(l)
      case _ => None
    }
    e match {
      case EqualTo(a, v) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield EqualTo(x, y)
      case EqualTo(v, a) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield EqualTo(x, y)
      case EqualNullSafe(a, v) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield EqualNullSafe(x, y)
      case EqualNullSafe(v, a) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield EqualNullSafe(x, y)
      case GreaterThan(a, v) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield GreaterThan(x, y)
      case GreaterThan(v, a) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield LessThan(x, y)
      case GreaterThanOrEqual(a, v) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield GreaterThanOrEqual(x, y)
      case GreaterThanOrEqual(v, a) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield LessThanOrEqual(x, y)
      case LessThan(a, v) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield LessThan(x, y)
      case LessThan(v, a) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield GreaterThan(x, y)
      case LessThanOrEqual(a, v) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield LessThanOrEqual(x, y)
      case LessThanOrEqual(v, a) if attr(a).isDefined =>
        for {x <- attr(a); y <- lt(v)} yield GreaterThanOrEqual(x, y)
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        attr(a).map(x => In(x, vs.map(_.asInstanceOf[Literal])))
      case InSet(a, vs) =>
        attr(a).map(x => In(x, vs.toSeq.map(Literal.create(_, x.dataType))))
      case IsNull(a)    => attr(a).map(IsNull(_))
      case IsNotNull(a) => attr(a).map(IsNotNull(_))
      case StartsWith(a, p: Literal)
          if a.dataType == org.apache.spark.sql.types.StringType =>
        attr(a).map(x => StartsWith(x, p))
      case And(l, r) =>
        (translateExpr(l, schema), translateExpr(r, schema)) match {
          case (Some(a), Some(b)) => Some(And(a, b))
          case (one, other)       => one.orElse(other)
        }
      // OR must translate WHOLE (dropping a disjunct would narrow, not widen)
      case Or(l, r) =>
        for {a <- translateExpr(l, schema); b <- translateExpr(r, schema)}
          yield Or(a, b)
      case _ => None
    }
  }
}

/** Scan face of [[ChangesTable]] — batch (one explicit window) and
  * micro-batch streaming (windows = commit ranges between offsets).
  */
private[catalog] final class ChangesScan(table: String, root: String,
    cdcSchema: StructType, options: CaseInsensitiveStringMap,
    byCommit: Boolean, lineage: Boolean = false,
    scope: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None)
    extends Scan {

  override def readSchema(): StructType = cdcSchema
  override def description(): String = s"$table$$changes"

  override def toBatch: Batch = {
    val spark = SparkSession.active
    val wh = new Warehouse(spark, root)
    val head = wh.currentVersion(table)
    // TIMESTAMP window bounds (the Delta CDF starting/endingTimestamp
    // analog), resolved against retained commit times: `from-timestamp-ms`
    // delivers commits AT OR AFTER the instant (from = first such version
    // − 1; none that late ⇒ empty window), `to-timestamp-ms` commits AT OR
    // BEFORE it. Mutually exclusive with the version form of the same bound.
    val fromTs = Option(options.get("from-timestamp-ms")).map(_.toLong)
    val toTs = Option(options.get("to-timestamp-ms")).map(_.toLong)
    require(fromTs.isEmpty || options.get("from-version") == null,
      s"$table$$changes: from-version and from-timestamp-ms are mutually exclusive")
    require(toTs.isEmpty || options.get("to-version") == null,
      s"$table$$changes: to-version and to-timestamp-ms are mutually exclusive")
    lazy val hist = wh.history(table)
    // default from = -1, the pre-history sentinel: the full net history
    // from the EMPTY state (covers tables whose v0 already holds data —
    // auto-created by a first append — where (0, head] would skip v0)
    val from = Option(options.get("from-version")).map(_.toLong)
      .orElse(fromTs.map(t =>
        hist.find(v => wh.commitTimeMillis(table, v) >= t).map(_ - 1).getOrElse(head)))
      .getOrElse(-1L)
    val to = Option(options.get("to-version")).map(_.toLong)
      .orElse(toTs.map(t =>
        hist.filter(v => wh.commitTimeMillis(table, v) <= t).lastOption.getOrElse(from)))
      .getOrElse(head)
    require(from >= -1 && to >= from && to <= head,
      s"$table$$changes: invalid window ($from, $to] over history 0..$head")
    val stager = new ChangesStager(table, root, cdcSchema, options, byCommit, lineage,
      scope)
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        if (to == from) Array.empty else stager.plan(from, to)
      override def createReaderFactory(): PartitionReaderFactory = stager.factory()
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangesMicroBatchStream(table, root, cdcSchema, options, byCommit, lineage)
}

/** Stages one change window's rows as parquet and plans/reads them.
  * Shared by the batch and streaming faces — the staging IS the
  * determinism story (scaladoc on [[ChangesTable]]).
  */
private[catalog] final class ChangesStager(table: String, root: String,
    cdcSchema: StructType, options: CaseInsensitiveStringMap,
    byCommit: Boolean = false, lineage: Boolean = false,
    scope: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None) {
  import java.nio.file.{Files, Path, Paths}
  import graft.sink.MetaIO

  private def spark = SparkSession.active
  private def wh = new Warehouse(spark, root)

  /** UPDATE-IMAGE mode (`update-images=true`, optional `identifier-columns`):
    * windows stage [[Warehouse.readChangesWithImages]]'s `-U`/`+U`-paired
    * rows instead of the plain `+I`/`-D` bag — option-gated so the default
    * contract never changes under a consumer. On the LINEAGE face pairing
    * keys on `_row_id` (identity, rename-immune) and `identifier-columns`
    * refuses: declaring a name-based key there would silently contradict
    * the id-based pairing actually served.
    */
  private val updateImages: Boolean =
    Option(options.get("update-images")).exists(_.toBoolean)
  private val idCols: Seq[String] =
    Option(options.get("identifier-columns")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
  require(!lineage || idCols.isEmpty,
    s"$table$$changes_lineage: identifier-columns is not used on the lineage " +
      "face — update images pair by _row_id; drop the option")

  /** `t@branch` stages under the BASE dir with the ref in the window name —
    * one `_cdc` namespace per table, windows disambiguated per ledger.
    */
  private val (baseName, refSuffix) = {
    val i = table.indexOf('@')
    if (i < 0) (table, "") else (table.substring(0, i), table.substring(i))
  }
  private[catalog] def cdcDir: Path = {
    val d = Paths.get(root, baseName, "_cdc")
    MetaIO.local.mkdirs(d)
    d
  }

  /** Fingerprint of the staged-row CONTRACT — everything that changes the
    * bytes a window stages: the consumer's load-time cdc schema (names,
    * field ids, types). Folded into the window directory name so two
    * consumers of the SAME (from, to] whose load-time schemas differ (a
    * column added or renamed between their loads, within the stage
    * retention) stage separately instead of one silently reusing the
    * other's files and reading the drifted column as NULL.
    */
  private val stageFp: String = {
    val sig = cdcSchema.fields.map { f =>
      val id = if (f.metadata.contains("parquet.field.id"))
        f.metadata.getLong("parquet.field.id").toString else ""
      s"${f.name}:$id:${f.dataType.catalogString}"
    }.mkString("|") +
      // the read MODE changes the staged bytes too: update-image windows
      // must never share files with plain +I/-D windows (and vice versa)
      (if (updateImages) s"|u:${idCols.mkString(",")}" else "")
    java.security.MessageDigest.getInstance("MD5")
      .digest((sig + (if (byCommit) "|bycommit" else ""))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
  }
  // a SCOPED window stages the predicate's slice only — it must never be
  // reused by (or reuse) the unscoped window or a differently-scoped one,
  // so the predicate's canonical SQL render joins the directory key
  private val scopeFp: String = scope.fold("") { cond =>
    "-p" + java.security.MessageDigest.getInstance("MD5")
      .digest(cond.sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
  }
  private def windowDir(s: Long, e: Long): Path =
    cdcDir.resolve(s"w${s}_$e$refSuffix-$stageFp$scopeFp")

  /** The staged ROW schema — the load-time cdc schema minus the
    * commit-attribution columns (those are injected per sub-window on the
    * by-commit face, not projected from table data).
    */
  private val rowSchema: StructType = StructType(cdcSchema.fields.filterNot(
    f => f.name == "_commit_version" || f.name == "_commit_timestamp"))

  /** One window's change rows conformed to the load-time row schema;
    * `s` = -1 is the pre-history sentinel (empty from-state): the net
    * change bag from nothing is exactly the to-snapshot, all `+I`.
    */
  private def windowFrame(s: Long, e: Long): org.apache.spark.sql.DataFrame = {
    val eSchema = wh.manifestAt(table, e).schema
    val changes =
      if (lineage) {
        if (s < 0) wh.loadWithLineage(table, e).withColumn("_change_type",
          org.apache.spark.sql.functions.lit("+I"))
        else wh.readChangesLineage(table, s, e, pairUpdates = updateImages)
      }
      else if (s < 0) {
        // pre-history sentinel: the net bag IS the snapshot — a scoped
        // consumer's catch-up window stages the predicate's slice only
        // (cond is detached, so re-apply via its SQL render; the scoped
        // contract is "exactly the rows matching the predicate")
        val full = wh.loadVersion(table, e).withColumn("_change_type",
          org.apache.spark.sql.functions.lit("+I"))
        scope.fold(full)(c => full.where(c.sql))
      }
      else if (updateImages)
        wh.readChangesWithImages(table, s, e, translateIdCols(eSchema))
      else scope match {
        case Some(cond) => wh.readChangesScoped(table, s, e, cond)
        case None       => wh.readChanges(table, s, e)
      }
    conformToCdc(changes, eSchema)
  }

  /** Materialize window `(s, e]` once (atomic publish, reuse on replay)
    * and return its file partitions. NOTE for plan-only tooling: batch
    * PLANNING executes a Spark write job here when the window is not yet
    * staged — correct and atomic, but `planInputPartitions` is not free.
    */
  def plan(s: Long, e: Long): Array[InputPartition] = {
    val dir = windowDir(s, e)
    if (!Files.exists(dir)) {
      // computability guard, checked only when MATERIALIZING (an existing
      // stage replays fine regardless): a window whose from-snapshot was
      // expired — e.g. a checkpointed stream replaying past both the stage
      // retention and snapshot expiry — has no manifest to diff; say so
      // instead of crashing on a missing-manifest error
      val oldest = { val h = wh.history(table); if (h.isEmpty) 0L else h.min }
      require(e >= oldest && (s == -1 || s >= oldest),
        s"$table$$changes: window ($s, $e] touches snapshots before the oldest " +
          s"retained one ($oldest) and no staged copy survives — the change bag " +
          "cannot be recomputed; restart the consumer from a fresh checkpoint " +
          "(or from-version=-1 for the net history)")
      require(!byCommit || s >= 0 || oldest == 0,
        s"$table$$changes_by_commit: commits before the oldest retained snapshot " +
          s"($oldest) cannot be ATTRIBUTED (their manifests were expired) — use " +
          s"from-version >= $oldest (batch) or stream-start-version > $oldest " +
          s"(streaming), or the plain $$changes face for the net history")
      val tmp = cdcDir.resolve(s"tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      if (!byCommit) windowFrame(s, e).write.mode("overwrite").parquet(tmp.toString)
      else {
        // commit-attributed: the window is the union of its per-commit
        // bags, each row stamped with the commit that produced it — the
        // Delta CDF shape; cost is the same O(changed rows) the admission
        // split would pay, just attributed. Staged as ONE WRITE JOB PER
        // COMMIT into the same tmp dir (append mode) instead of a
        // reduce(unionByName) over the range: a wide manual window (a
        // 100-commit batch read) would otherwise build a plan 100 unions
        // deep — O(n²) analysis cost and an optimizer cliff — while the
        // staged files are identical either way and the publish below
        // stays one atomic move
        import org.apache.spark.sql.functions.{lit, timestamp_millis}
        ((s + 1) to e).foreach { v =>
          windowFrame(v - 1, v)
            .withColumn("_commit_version", lit(v))
            .withColumn("_commit_timestamp",
              timestamp_millis(lit(wh.commitTimeMillis(table, v))))
            .write.mode("append").parquet(tmp.toString)
        }
      }
      try MetaIO.local.move(tmp, dir)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.DirectoryNotEmptyException =>
          // a racing planner of the SAME window published first — identical
          // bag by snapshot immutability; drop ours
          MetaIO.local.deleteTree(tmp)
      }
    }
    val pfs = listParquet(dir).map { p =>
      val len = Files.size(p)
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p.toString),
        0, len, Array.empty, 0L, len)
    }
    FilePartition.getFilePartitions(spark, pfs,
      spark.sessionState.conf.filesMaxPartitionBytes).toArray
  }

  /** Explicit `identifier-columns` are LOAD-TIME names (the schema the
    * consumer sees), but update-image pairing runs over the WINDOW-END
    * schema — a column renamed after the window end would make the
    * load-time name unresolvable there. Translate by FIELD ID (the same
    * correspondence [[conformToCdc]] projects rows through); a key column
    * with no counterpart at the window end did not exist yet, so nothing
    * in that window can be an update on it — fail the same way
    * readChangesWithImages would for an unknown column, with the window
    * spelled out.
    */
  private def translateIdCols(eSchema: StructType): Seq[String] =
    if (idCols.isEmpty) idCols
    else {
      def idOf(f: StructField): Option[Long] =
        if (f.metadata.contains("parquet.field.id"))
          Some(f.metadata.getLong("parquet.field.id")) else None
      val eById = eSchema.fields.flatMap(f => idOf(f).map(_ -> f.name)).toMap
      idCols.map { c =>
        val g = cdcSchema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"$table$$changes: identifier column '$c' is not in the table schema"))
        idOf(g).flatMap(eById.get).orElse(
          // schemas without ids: the name itself must resolve at the window end
          Some(c).filter(eSchema.fieldNames.contains)
        ).getOrElse(throw new IllegalArgumentException(
          s"$table$$changes: identifier column '$c' does not exist at the " +
            "window-end schema — it was added after this window; start the " +
            "stream from a later version or drop it from identifier-columns"))
      }
    }

  /** Conform a window's rows (the to-side schema of manifest `e`, plus
    * `_change_type`) to the LOAD-TIME cdc schema — the scan schema is
    * fixed at query start, historical windows project INTO it (the
    * Iceberg/Delta changelog contract). Correspondence is BY FIELD ID when
    * both schemas carry ids: a column RENAMED after `e` is the same field
    * relabeled and its values CARRY under the new name (a by-name conform
    * would silently null it); a column added after `e` null-fills; a
    * dropped-then-readded name is a DIFFERENT field id and never inherits
    * the old values; a retype refuses loudly. Schemas without ids fall
    * back to name matching.
    */
  private def conformToCdc(df: org.apache.spark.sql.DataFrame,
                           eSchema: StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    def idOf(f: StructField): Option[Long] =
      if (f.metadata.contains("parquet.field.id"))
        Some(f.metadata.getLong("parquet.field.id")) else None
    val metaCols = Set("_change_type", "_row_id", "_last_updated_version")
    val bothIds = eSchema.fields.nonEmpty &&
      eSchema.fields.forall(idOf(_).isDefined) &&
      rowSchema.fields.filterNot(f => metaCols(f.name)).forall(idOf(_).isDefined)
    val eById = eSchema.fields.flatMap(f => idOf(f).map(_ -> f)).toMap
    def sourceFor(g: StructField): Option[StructField] =
      if (g.name == "_change_type") Some(StructField("_change_type", StringType))
      // lineage columns are feed metadata, not table fields: pass through
      else if (lineage && (g.name == "_row_id" || g.name == "_last_updated_version"))
        Some(StructField(g.name, LongType))
      else if (bothIds) idOf(g).flatMap(eById.get)
      else eSchema.fields.find(_.name == g.name)
    // every projected column is stamped with the LOAD-TIME schema's
    // metadata (the writeData discipline): an Alias only inherits field-id
    // metadata when its child is a bare scan attribute, so a COMPUTED
    // column — the change feed's variant restore, a null-filled addition —
    // would otherwise stage id-less next to id-carrying neighbors and read
    // back NULL under field-id resolution (ids present in the file force
    // strict id matching for every requested field that has one)
    df.select(rowSchema.fields.toSeq.map { g =>
      sourceFor(g) match {
        case Some(f) =>
          require(f.dataType == g.dataType || g.name == "_change_type",
            s"$table$$changes: column '${g.name}' was retyped across the window " +
              s"(${f.dataType.catalogString} at the window end vs " +
              s"${g.dataType.catalogString} at load) — unsupported")
          col(f.name).as(g.name, g.metadata)
        case None => lit(null).cast(g.dataType).as(g.name, g.metadata)
      }
    }: _*)
  }

  private def listParquet(dir: Path): Seq[Path] =
    MetaIO.local.list(dir).filter(_.getFileName.toString.endsWith(".parquet"))

  /** Plain parquet reader factory over the staged files (they physically
    * carry `_change_type`): full cdc schema, vectorized, zero pushdown —
    * the frame above filters/prunes as usual.
    */
  def factory(): PartitionReaderFactory = {
    val pt = new ParquetTable(s"$table$$changes", spark, options,
      Seq(cdcDir.toString), Some(cdcSchema), classOf[ParquetFileFormat])
    new ParquetScanBuilder(spark, pt.fileIndex, pt.schema, pt.dataSchema, options)
      .build().createReaderFactory()
  }

  /** Sweep staged windows older than the retention (default 24 h) — called
    * from the stream's offset commit, where anything this old is either
    * committed everywhere or abandoned. Age-gated (not offset-gated) so a
    * second, slower consumer replaying the same window is never broken.
    */
  def sweep(retentionMs: Long): Unit =
    wh.expireCdcStages(table, retentionMs): Unit
}

/** Micro-batch CDC stream: offsets ARE snapshot versions (the ledger is the
  * replayable log — same contract as [[GraftMicroBatchStream]]), each batch
  * `(s, e]` delivers the staged `readChanges(s, e)` rows, and Spark's
  * checkpoint offset log makes delivery exactly-once: a version window's
  * change bag is immutable, so a restarted query re-plans the SAME rows and
  * a committed window is never re-delivered.
  *
  * Admission control (`stream-max-files-per-trigger`): the end offset
  * advances commit by commit until the next commit's CHANGED-file count
  * (manifest diff: added + removed + delete-file delta — metadata only)
  * would exceed the budget, so a backlog (or the initial history) drains in
  * bounded windows instead of one giant batch. `stream-start-version` picks
  * the first delivered commit (default 0 = full history as `+I`s; `latest`
  * = only commits after stream start).
  */
private[catalog] final class ChangesMicroBatchStream(table: String, root: String,
    cdcSchema: StructType, options: CaseInsensitiveStringMap,
    byCommit: Boolean = false, lineage: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def spark = SparkSession.active
  private def wh = new Warehouse(spark, root)
  private val stager = new ChangesStager(table, root, cdcSchema, options, byCommit, lineage)

  // ---- per-trigger window scoping ---------------------------------------
  // Spark never pushes filters into a STREAMING scan builder (the batch
  // face's SupportsPushDownFilters path does not run for micro-batch
  // relations), so the consumer's predicate arrives via
  // [[CdcStreamScopeRule]]: the optimizer runs per trigger
  // (IncrementalExecution), reads the Filter standing on this stream's
  // relation, and installs the translated conjuncts here BEFORE
  // planInputPartitions stages the window. Pair-label faces never scope
  // (dropping half a pair would flip the survivor's label) — same gate as
  // the batch builder. The filter itself still applies above the scan in
  // the consumer's plan, so correctness never rides the scope.
  private val scopable = !lineage &&
    !Option(options.get("update-images")).exists(_.toBoolean)
  @volatile private var scopeVar
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = None
  private[catalog] def updateScope(
      s: Option[org.apache.spark.sql.catalyst.expressions.Expression]): Unit =
    if (scopable) scopeVar = s

  /** Oldest retained snapshot of the ledger — the floor below which no
    * per-commit change window can be computed (its manifests are expired).
    */
  private lazy val oldestRetained: Long = {
    val h = wh.history(table)
    if (h.isEmpty) 0L else h.min
  }

  private lazy val startVersion: Long = {
    val byVersion = Option(options.get("stream-start-version"))
    val byTs = Option(options.get("stream-start-timestamp-ms")).map(_.toLong)
    require(byVersion.isEmpty || byTs.isEmpty,
      s"$table$$changes: stream-start-version and stream-start-timestamp-ms " +
        "are mutually exclusive")
    byVersion match {
      case Some("latest") => wh.currentVersion(table) + 1
      case Some(s) =>
        val v = s.toLong
        // v = 0 streams the full NET history from empty (the -1 sentinel —
        // always computable, expired or not); any other v needs manifest v-1
        // to diff against, so it must start strictly after the oldest
        // retained snapshot. Fail at stream init with the fix spelled out,
        // not with a missing-manifest error mid-plan.
        require(v == 0 || v > oldestRetained,
          s"$table$$changes: stream-start-version $v needs snapshot ${v - 1}, which " +
            s"was expired (oldest retained: $oldestRetained) — use 0 (full net " +
            s"history as +I), a version > $oldestRetained, or 'latest'")
        v
      case None => byTs match {
        case None => 0L
        case Some(t) =>
          // first retained commit AT OR AFTER the instant (the Delta
          // startingTimestamp contract); nothing that late yet ⇒ follow
          // only future commits
          val v = wh.history(table).find(wh.commitTimeMillis(table, _) >= t)
            .getOrElse(wh.currentVersion(table) + 1)
          require(v == 0 || v > oldestRetained,
            s"$table$$changes: stream-start-timestamp-ms $t resolves to snapshot $v, " +
              s"whose predecessor was expired (oldest retained: $oldestRetained) — " +
              "commits that old cannot be diffed; omit the option for the full net " +
              "history as +I, or start later")
          v
      }
    }
  }
  private val retentionMs: Long =
    Option(options.get("stream-stage-retention-ms")).map(_.toLong)
      .getOrElse(24L * 3600 * 1000)

  override def initialOffset(): Offset = VersionOffset(startVersion - 1)
  override def latestOffset(): Offset =
    VersionOffset(math.max(wh.currentVersion(table), startVersion - 1))
  override def reportLatestOffset(): Offset = latestOffset()

  override def getDefaultReadLimit: ReadLimit =
    Option(options.get("stream-max-files-per-trigger")) match {
      case Some(n) => ReadLimit.maxFiles(n.toInt)
      case None    => ReadLimit.allAvailable()
    }

  /** Files commit `v` CHANGED — the window's read cost driver. O(the
    * commit's delta) via the segmented-root line diff
    * ([[Warehouse.commitChangedEntryCount]]), zero data IO: draining a
    * K-commit backlog costs O(K) root/segment reads, not O(K x table files).
    */
  private def changedFileCount(v: Long): Int = wh.commitChangedEntryCount(table, v)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = math.max(wh.currentVersion(table), startVersion - 1)
    val s = start.asInstanceOf[VersionOffset].v
    limit match {
      case m: ReadMaxFiles =>
        var e = s
        // commits at or before the oldest retained snapshot cannot split
        // per-commit (their manifests are expired): the first window jumps
        // to the oldest retained snapshot in one net batch — with s at the
        // pre-history sentinel that is exactly "snapshot `oldest` as +I".
        // That catch-up window is delivered ALONE: its cost is the whole
        // oldest snapshot, which already dwarfs any per-trigger file budget
        // — admitting more commits on top would silently bypass the cap.
        // Fully-retained tables (oldestRetained == 0) never take it: a
        // fresh stream's pre-history sentinel (-1) is ordinary ground
        // there — commit 0 splits per-commit like any other and the budget
        // loop nets the opening window as wide as the cap allows.
        if (e < oldestRetained && oldestRetained > 0)
          return VersionOffset(math.min(oldestRetained, head))
        var files = 0
        var full = false
        while (!full && e < head) {
          val c = changedFileCount(e + 1)
          // an over-budget single commit still delivers whole: commits are
          // the atomic unit, and progress beats the cap
          if (files > 0 && files + c > m.maxFiles()) full = true
          else { files += c; e += 1 }
        }
        VersionOffset(e)
      case _ => VersionOffset(head)
    }
  }

  override def deserializeOffset(json: String): Offset = VersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    if (e <= s) return Array.empty
    // a scoped trigger stages under its own predicate-fingerprinted window
    // dir (ChangesStager.scopeFp), so scoped and unscoped windows never mix
    scopeVar match {
      case None => stager.plan(s, e)
      case some => new ChangesStager(table, root, cdcSchema, options, byCommit,
        lineage, some).plan(s, e)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = stager.factory()

  /** Offset commit doubles as the stage janitor (age-gated — see
    * [[ChangesStager.sweep]]).
    */
  override def commit(end: Offset): Unit = stager.sweep(retentionMs)
  override def stop(): Unit = ()
}
