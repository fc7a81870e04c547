package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, NoSuchViewException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.{AlwaysFalse, AlwaysTrue, Predicate, And => V2And, Not => V2Not, Or => V2Or}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwriteV2, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink.Warehouse

/** SQL-addressable face of the [[graft.sink.Warehouse]]: a Spark
  * `TableCatalog` so the warehouse is queryable *by name*, the way the
  * reference's Iceberg REST catalog is (`check_tables.py:16-32`
  * `RestCatalog(...).list_tables()/load_table()`; Airflow verify task
  * `airflow/dags/salesforce_iceberg_dag.py:106-140`):
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.root = /path/to/warehouse
  *
  *   SELECT * FROM graft.orders
  *   SELECT * FROM graft.orders VERSION AS OF 3     -- snapshot time travel
  *   SELECT * FROM graft.orders TIMESTAMP AS OF ...
  *   INSERT INTO graft.orders ...                    -- append disposition
  *   df.writeTo("graft.orders").append()             -- dispositions via options
  * }}}
  *
  * Reads delegate to Spark's built-in vectorized parquet DSv2
  * ([[ParquetTable]]) over the snapshot manifest's file list, so column
  * pruning, predicate pushdown, and whole-stage codegen all apply exactly as
  * for a direct parquet scan. Writes go through a `V1Write` shim into the
  * Warehouse commit protocol, carrying the reference's three dispositions
  * (`salesforce_pipeline.py:62-176`) via write options:
  * `disposition` = append (default) | replace | merge, `primaryKeys` = csv,
  * `mergeBroadcastMaxKeys` = merge broadcast gate (also settable session-wide
  * via `spark.graft.mergeBroadcastMaxKeys`).
  */
class GraftCatalog extends TableCatalog with FunctionCatalog with ProcedureCatalog
    with StagingTableCatalog with ViewCatalog {

  private var catalogName: String = _
  private var rootDir: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    rootDir = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(s"spark.sql.catalog.$name.root is required"))
  }

  override def name(): String = catalogName

  /** Declared catalog abilities: table constraints (CHECK enforced by
    * Spark's `ResolveTableConstraints` on every V2 write once the table
    * reports them; PK/UNIQUE/FK as RELY metadata — [[ConstraintStore]]).
    */
  override def capabilities(): util.Set[TableCatalogCapability] =
    Set(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      // write-side column DEFAULTs: with the capability declared, Spark's
      // own ResolveDefaultColumns fills omitted columns at ANALYSIS time
      // from the CURRENT_DEFAULT field metadata the DDL stored — engine-side
      // writes keep the conform (null-fill) contract untouched
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE).asJava

  /** Warehouse root (view substitution reaches the `_views` store by it). */
  private[catalog] def root: String = rootDir

  private def warehouse = new Warehouse(SparkSession.active, rootDir)

  /** The warehouse is flat, like the reference's single `salesforce`
    * namespace — only the empty (default) namespace exists.
    */
  private def requireFlat(namespace: Array[String]): Unit =
    require(namespace.isEmpty, s"graft catalog has no namespaces, got: ${namespace.mkString(".")}")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireFlat(namespace)
    warehouse.listTables().map(t => Identifier.of(Array.empty[String], t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty && warehouse.exists(ident.name())

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)

  /** `VERSION AS OF <n | 'tag'>` — the SQL face of snapshot time travel; a
    * non-numeric version string resolves as a snapshot TAG (Iceberg ref
    * semantics: `VERSION AS OF 'train-v1'`).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    // tags resolve against the BASE table, so `t$files VERSION AS OF 'tag'`
    // inspects the tagged snapshot's file list
    val baseName = MetaTables.parse(ident.name()).map(_._1).getOrElse(ident.name())
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        // tags and branch refs both name MAIN-ledger state: on a branch
        // identifier a non-numeric version would resolve a main tag and
        // then serve that number from the BRANCH ledger — an unrelated
        // snapshot. Numeric versions stay per-ledger time travel.
        if (baseName.contains("@")) throw new NoSuchTableException(ident)
        try warehouse.resolveTag(baseName, version) catch {
          case _: IllegalArgumentException =>
            // branch ref (Iceberg semantics: VERSION AS OF accepts a tag OR
            // a branch): resolve to the branch HEAD, pinned at analysis time
            val bname = s"$baseName@$version"
            if (!baseName.contains("@") && ident.name() == baseName &&
                warehouse.exists(bname))
              return new GraftTable(s"$catalogName.$bname", bname, rootDir,
                Some(warehouse.currentVersion(bname)))
            throw new NoSuchTableException(ident)
        }
    }
    loadAt(ident, Some(v))
  }

  /** `TIMESTAMP AS OF` (micros since epoch): newest snapshot committed at or
    * before the timestamp, resolved from manifest commit times.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val wh = warehouse
    val n = MetaTables.parse(ident.name()).map(_._1).getOrElse(ident.name())
    if (ident.namespace().nonEmpty || !wh.exists(n)) throw new NoSuchTableException(ident)
    val at = wh.history(n).filter(v => wh.commitTimeMillis(n, v) * 1000L <= timestamp)
    if (at.isEmpty)
      throw new NoSuchTableException(ident)
    loadAt(ident, Some(at.max))
  }

  private def loadAt(ident: Identifier, version: Option[Long]): Table = {
    requireFlat(ident.namespace())
    MetaTables.parse(ident.name()) match {
      // the CDC face: batch/streaming read of exact +I/-D change rows
      // ([[ChangesTable]]). Live only — the version axis is the CONTENT of
      // this table (from/to-version options, stream offsets), so VERSION AS
      // OF on it is a category error, like $snapshots.
      case Some((base, "changes")) if version.isEmpty && warehouse.exists(base) =>
        return new ChangesTable(s"$catalogName.${ident.name()}", base, rootDir)
      // the COMMIT-ATTRIBUTED face: same feed, each row stamped with
      // _commit_version/_commit_timestamp (the Delta CDF columns) — windows
      // stage as the union of per-commit bags
      case Some((base, "changes_by_commit")) if version.isEmpty && warehouse.exists(base) =>
        return new ChangesTable(s"$catalogName.${ident.name()}", base, rootDir,
          byCommit = true)
      // the LINEAGE faces: same feeds with _row_id/_last_updated_version per
      // change row; update-image pairing keys on _row_id. A separate table
      // NAME (not a read option) because a DSv2 table's schema is fixed at
      // load — an option cannot grow the relation's output.
      case Some((base, "changes_lineage")) if version.isEmpty && warehouse.exists(base) =>
        return new ChangesTable(s"$catalogName.${ident.name()}", base, rootDir,
          lineage = true)
      case Some((base, "changes_by_commit_lineage"))
          if version.isEmpty && warehouse.exists(base) =>
        return new ChangesTable(s"$catalogName.${ident.name()}", base, rootDir,
          byCommit = true, lineage = true)
      case _ => ()
    }
    MetaTables.parse(ident.name()) match {
      case Some((base, suffix)) if warehouse.exists(base) =>
        version.foreach { v =>
          if (!warehouse.history(base).contains(v)) throw new NoSuchTableException(ident)
        }
        return MetaTables.table(s"$catalogName.${ident.name()}", warehouse, base,
          suffix, version).getOrElse(throw new NoSuchTableException(ident))
      case _ => ()
    }
    if (!warehouse.exists(ident.name())) throw new NoSuchTableException(ident)
    version.foreach { v =>
      if (!warehouse.history(ident.name()).contains(v)) throw new NoSuchTableException(ident)
    }
    new GraftTable(s"$catalogName.${ident.name()}", ident.name(), rootDir, version)
  }

  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    // V2 Column -> StructField carrying DEFAULT metadata
    // (CURRENT_DEFAULT/EXISTS_DEFAULT) and comments through — Spark's own
    // CatalogV2Util conversion is private[sql], so the equivalent inline.
    // CURRENT_DEFAULT keeps the SQL text (what future INSERTs re-resolve);
    // EXISTS_DEFAULT must be the FROZEN evaluated literal (what
    // pre-existing rows serve forever) — storing the raw SQL would
    // re-evaluate e.g. CURRENT_DATE on every later scan and drift
    // (CatalogV2Util stores dv.getValue for exactly this reason; same
    // freeze invariant as Warehouse.addColumns).
    createTable(ident, StructType(columns.map { c =>
      var f = StructField(c.name(), c.dataType(), c.nullable())
      Option(c.comment()).foreach(cm => f = f.withComment(cm))
      Option(c.defaultValue()).foreach { dv =>
        f = f.withCurrentDefaultValue(dv.getSql)
        val frozen = Option(dv.getValue)
          .map(l => org.apache.spark.sql.catalyst.expressions.Literal(
            l.value(), l.dataType()).sql)
          .getOrElse(dv.getSql) // no pre-evaluated literal: constant SQL only
        f = f.withExistenceDefaultValue(frozen)
      }
      f
    }), partitions, properties)

  /** `CREATE TABLE ... (x INT, CONSTRAINT c CHECK (x > 0), PRIMARY KEY …)`
    * arrives on the TableInfo overload; persist the constraints beside the
    * table so every later write serves them (Spark's own
    * `ResolveTableConstraints` splices enforced CHECKs into the write's
    * query — enforcement is free once the table reports them).
    */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val t = createTable(ident, info.columns(), info.partitions(), info.properties())
    if (info.constraints() != null && info.constraints().nonEmpty) {
      val cs = new ConstraintStore(rootDir)
      info.constraints().foreach(cs.add(ident.name(), _))
      return loadTable(ident)
    }
    t
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    requireFlat(ident.namespace())
    if (warehouse.exists(ident.name())) throw new TableAlreadyExistsException(ident)
    warehouse.create(ident.name(), schema, partitions.map(specOf).toSeq)
    loadTable(ident)
  }

  /** `PARTITIONED BY (days(ts), bucket(16, id), truncate(4, s), c)` → the
    * warehouse's transform-spec strings (hidden partitioning; see
    * [[graft.sink.PartitionTransforms]]).
    */
  private def specOf(t: Transform): String = {
    val refs = t.references()
    require(refs.length == 1 && refs(0).fieldNames().length == 1,
      s"unsupported partition reference in $t")
    val c = refs(0).fieldNames()(0)
    def param: Int = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value().asInstanceOf[Number].intValue()
    }.getOrElse(throw new IllegalArgumentException(s"missing parameter in $t"))
    t.name() match {
      case "identity"                                  => c
      case n @ ("years" | "months" | "days" | "hours") => s"$n($c)"
      case "bucket"                                    => s"bucket($param,$c)"
      case "truncate"                                  => s"truncate($param,$c)"
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform: $other")
    }
  }

  /** Schema-evolution DDL — every supported change is a MANIFEST-ONLY
    * commit (zero data rewrite, old snapshots keep their own schema):
    *   - `ADD COLUMN c TYPE` (nullable, trailing) —
    *     [[graft.sink.Warehouse.addColumns]], null-backfill on read;
    *   - `RENAME COLUMN a TO b` — [[graft.sink.Warehouse.renameColumn]]:
    *     scans resolve by parquet field id, so the rename relabels the
    *     field and remaps its manifest stats/spec/delete-key uses;
    *   - `DROP COLUMN c` — [[graft.sink.Warehouse.dropColumn]]: the field
    *     leaves the schema, files keep their bytes, the id is never reused.
    * Positions (FIRST/AFTER), NOT NULL, and retype stay refused loudly —
    * implicit widening on write stays conform's job.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireFlat(ident.namespace())
    def topLevel(fieldNames: Array[String], what: String): String = {
      if (fieldNames.length != 1)
        throw new UnsupportedOperationException(
          s"only top-level $what is supported, not ${fieldNames.mkString(".")}")
      fieldNames(0)
    }
    val adds = Seq.newBuilder[org.apache.spark.sql.types.StructField]
    val addDefaults = Map.newBuilder[String, String]
    changes.foreach {
      case a: TableChange.AddColumn =>
        val n = topLevel(a.fieldNames(), "ADD COLUMN")
        if (a.position() != null)
          throw new UnsupportedOperationException(
            "ADD COLUMN ... FIRST/AFTER is not supported; columns append at the end")
        if (!a.isNullable)
          throw new UnsupportedOperationException(
            "ADD COLUMN ... NOT NULL is not supported: existing rows have no value")
        // `ADD COLUMN c T DEFAULT <const>` = Iceberg initial-default:
        // pre-addition files serve the frozen constant, metadata-only
        if (a.defaultValue() != null) {
          val sql = a.defaultValue().getSql
          if (sql == null) throw new UnsupportedOperationException(
            "ADD COLUMN DEFAULT needs a SQL-expressible constant")
          addDefaults += (n -> sql)
        }
        adds += org.apache.spark.sql.types.StructField(n, a.dataType, nullable = true)
      case r: TableChange.RenameColumn =>
        warehouse.renameColumn(ident.name(), topLevel(r.fieldNames(), "RENAME COLUMN"), r.newName())
      case d: TableChange.DeleteColumn =>
        warehouse.dropColumn(ident.name(), topLevel(d.fieldNames(), "DROP COLUMN"))
      // partition-spec evolution DDL:
      //   ALTER TABLE graft.t SET TBLPROPERTIES ('partition.spec' = 'bucket(8,id),days(ts)')
      // ('' un-partitions) — metadata-only, files keep their layout
      // (Warehouse.updateSpec; PartitionSpecEvolutionSpec)
      // ALTER TABLE ... ADD CONSTRAINT / DROP CONSTRAINT: metadata-only;
      // enforced CHECKs apply to writes from now on (existing rows are
      // whatever they are — validationStatus stays as declared)
      case a: TableChange.AddConstraint =>
        new ConstraintStore(rootDir).add(ident.name(), a.constraint())
      case d: TableChange.DropConstraint =>
        new ConstraintStore(rootDir).drop(ident.name(), d.name(), d.ifExists())
      case p: TableChange.SetProperty if p.property == "partition.spec" =>
        // top-level comma split only: 'bucket(8,k),days(ts)' has commas
        // INSIDE transform parens too
        val entries = {
          val out = Seq.newBuilder[String]
          val cur = new StringBuilder
          var depth = 0
          p.value.foreach {
            case ',' if depth == 0 => out += cur.result(); cur.clear()
            case c =>
              if (c == '(') depth += 1 else if (c == ')') depth -= 1
              cur += c
          }
          out += cur.result()
          out.result().map(_.trim).filter(_.nonEmpty)
        }
        warehouse.updateSpec(ident.name(), entries)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change ${other.getClass.getSimpleName}; " +
          "supported: ADD COLUMN (nullable, trailing), RENAME COLUMN, DROP COLUMN")
    }
    val addFields = adds.result()
    if (addFields.nonEmpty)
      warehouse.addColumns(ident.name(), addFields, addDefaults.result())
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    ident.namespace().isEmpty && warehouse.drop(ident.name())

  // ---- FunctionCatalog: the partition transforms as V2 functions, so
  // Spark's storage-partitioned-join planner (`V2ScanPartitioningAndOrdering`
  // → loadV2FunctionOpt) can resolve a scan-reported KeyGroupedPartitioning
  // into comparable TransformExpressions (see [[SpjSupport]]).

  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    // FunctionCatalog contract: unknown namespace -> NoSuchNamespaceException
    // (not IllegalArgumentException; mirrors loadFunction's NoSuchFunction).
    if (namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    TransformFunctions.names.map(Identifier.of(Array.empty[String], _)).toArray
  }

  override def loadFunction(ident: Identifier): functions.UnboundFunction = {
    if (ident.namespace().nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    TransformFunctions.load(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
  }

  // ---- stored procedures (`CALL graft.system.compact(tbl => 't')`, ...):
  // the Iceberg maintenance-procedures analog on Spark 4's ProcedureCatalog
  // face — see [[GraftProcedures]] for the registry and result contracts.

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    if (!namespace.sameElements(GraftProcedures.Namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    GraftProcedures.list()
  }

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    def missing = new IllegalArgumentException(
      s"no such procedure: ${ident.namespace().mkString(".")}.${ident.name()}; " +
        s"known: ${GraftProcedures.list().map(_.name()).sorted.mkString(", ")} " +
        "(namespace `system`)")
    if (!ident.namespace().sameElements(GraftProcedures.Namespace)) throw missing
    GraftProcedures.load(ident.name(), rootDir).getOrElse(throw missing)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireFlat(oldIdent.namespace()); requireFlat(newIdent.namespace())
    warehouse.rename(oldIdent.name(), newIdent.name())
  }

  // ---- SQL views (ViewCatalog): `CREATE [OR REPLACE] VIEW graft.v AS
  // SELECT ...` persists the defining SQL (plus the resolution context and
  // analyzed schema) as one metadata file under `<root>/_views/` — the
  // Iceberg REST-catalog views analog. Pure metadata: a view re-resolves at
  // analysis time of each querying statement, so it always reads current
  // snapshots and composes with time travel / branches / MOR like inline
  // SQL would. See [[ViewStore]] for the durability/race contract.

  private def views = new ViewStore(rootDir)

  override def listViews(namespace: String*): Array[Identifier] = {
    if (namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace.toArray)
    views.list().map(Identifier.of(Array.empty[String], _)).toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty && views.exists(ident.name())

  override def loadView(ident: Identifier): View = {
    if (ident.namespace().nonEmpty) throw new NoSuchViewException(ident)
    val r = views.load(ident.name()).getOrElse(throw new NoSuchViewException(ident))
    new GraftView(ident.name(), r)
  }

  override def createView(info: ViewInfo): View = {
    requireFlat(info.ident().namespace())
    val name = info.ident().name()
    // a view must not shadow a table: name resolution tries tables first in
    // some paths and views first in others — refusing the collision outright
    // keeps `graft.x` meaning ONE thing
    if (warehouse.exists(name))
      throw new TableAlreadyExistsException(info.ident())
    if (!views.create(name, recordOf(info)))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident())
    loadView(info.ident())
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    requireFlat(info.ident().namespace())
    val name = info.ident().name()
    if (warehouse.exists(name)) throw new TableAlreadyExistsException(info.ident())
    if (!orCreate && !views.exists(name)) throw new NoSuchViewException(info.ident())
    views.put(name, recordOf(info))
    loadView(info.ident())
  }

  private def recordOf(info: ViewInfo): ViewStore.ViewRecord =
    ViewStore.ViewRecord(info.sql(), info.currentCatalog(),
      info.currentNamespace().toSeq, info.schema(),
      info.queryColumnNames().toSeq, info.columnAliases().toSeq,
      info.columnComments().toSeq, info.properties().asScala.toMap)

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    if (ident.namespace().nonEmpty) throw new NoSuchViewException(ident)
    val vs = views
    val r = vs.load(ident.name()).getOrElse(throw new NoSuchViewException(ident))
    val props = changes.foldLeft(r.properties) {
      case (p, s: ViewChange.SetProperty)    => p + (s.property() -> s.value())
      case (p, d: ViewChange.RemoveProperty) => p - d.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"unsupported ALTER VIEW change: $other")
    }
    vs.put(ident.name(), r.copy(properties = props))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    ident.namespace().isEmpty && views.drop(ident.name())

  override def renameView(from: Identifier, to: Identifier): Unit = {
    requireFlat(from.namespace()); requireFlat(to.namespace())
    if (!views.exists(from.name())) throw new NoSuchViewException(from)
    if (warehouse.exists(to.name())) throw new TableAlreadyExistsException(to)
    try views.rename(from.name(), to.name())
    catch {
      case _: IllegalStateException =>
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(to)
    }
  }

  // ---- atomic CTAS/RTAS (StagingTableCatalog): `CREATE TABLE ... AS
  // SELECT`, `REPLACE TABLE ... AS SELECT`, `CREATE OR REPLACE ...` plan as
  // the ATOMIC execs — the query writes into an invisible staged table and
  // ONE commit publishes ([[graft.sink.Warehouse.stageCreateTable]]); a
  // failed query aborts to nothing. Without this face, Spark's fallback is
  // create-then-insert-then-drop-on-failure: a reader can observe the empty
  // table, and a driver crash strands it.

  override def stageCreate(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    staged(ident, columns, partitions, replace = false, orCreate = false)

  override def stageReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    staged(ident, columns, partitions, replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    staged(ident, columns, partitions, replace = true, orCreate = true)

  private def staged(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], replace: Boolean, orCreate: Boolean): StagedTable = {
    requireFlat(ident.namespace())
    val wh = warehouse
    val name = ident.name()
    val already = wh.exists(name)
    if (!replace && already) throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !already) throw new NoSuchTableException(ident)
    val schema = StructType(
      columns.map(c => StructField(c.name(), c.dataType(), c.nullable())))
    val stage = wh.stageCreateTable(name, schema, partitions.map(specOf).toSeq,
      replaceExisting = replace && already)
    new StagedGraftTable(s"$catalogName.$name", schema, stage)
  }
}

/** One persisted SQL view, served back to Spark's view resolution. */
private[catalog] class GraftView(viewName: String, r: ViewStore.ViewRecord)
    extends View {
  override def name(): String = viewName
  override def query(): String = r.sql
  override def currentCatalog(): String = r.currentCatalog
  override def currentNamespace(): Array[String] = r.currentNamespace.toArray
  override def schema(): StructType = r.schema
  override def queryColumnNames(): Array[String] = r.queryColumnNames.toArray
  override def columnAliases(): Array[String] = r.columnAliases.toArray
  override def columnComments(): Array[String] = r.columnComments.toArray
  override def properties(): util.Map[String, String] = r.properties.asJava
}

/** Staged CTAS/RTAS table: Spark writes the query result through the V1
  * shim into the stage's invisible `ctas*` files, then exactly one of
  * commit (one snapshot commit publishes) / abort (files vanish) runs.
  */
private[catalog] class StagedGraftTable(displayName: String, schema0: StructType,
    stage: Warehouse#CtasStage) extends StagedTable with SupportsWrite {

  override def name(): String = displayName
  override def schema(): StructType = schema0
  // RTAS plans OverwriteByExpression(AlwaysTrue) against the STAGED
  // relation, so it must advertise truncate — a no-op here: the stage holds
  // nothing to truncate, "overwrite the staged emptiness" IS the write
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SupportsOverwriteV2 {
      override def truncate(): WriteBuilder = this
      override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
        require(predicates.isEmpty ||
          (predicates.length == 1 && predicates(0).name() == "ALWAYS_TRUE"),
          "a staged CTAS write can only overwrite the whole (empty) stage")
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation = new InsertableRelation {
          override def insert(data: DataFrame, overwrite: Boolean): Unit = {
            val statsCols = Option(info.options().get("stats-cols")).toSeq
              .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
            stage.write(data, statsCols)
          }
        }
      }
    }

  override def commitStagedChanges(): Unit = stage.commit()
  override def abortStagedChanges(): Unit = stage.abort()
}

/** One warehouse table (optionally pinned to a snapshot version for time
  * travel). Scans are Spark's own parquet DSv2 over the manifest's file
  * list; writes are a V1 shim into the Warehouse commit protocol. It serves
  * programmatic reads too: [[graft.sink.Warehouse.loadVersion]] (and so
  * `load`/`loadTag`) wraps a relation over it pinned to the caller's
  * version, so SQL and API scans plan through the same rules.
  *
  * `prunedManifest` is set by [[ManifestPruneRule]] after predicate-driven
  * file skipping — the scan then covers only the files whose stat bounds may
  * satisfy the query's filters (Iceberg scan-planning analog).
  */
private[graft] class GraftTable(displayName: String, val table: String, val root: String,
                                  version: Option[Long],
                                  val prunedManifest: Option[graft.sink.Manifest] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2 {

  private def spark = SparkSession.active
  private def warehouse = new Warehouse(spark, root)

  /** The ONE snapshot this table instance serves: resolved lazily on first
    * metadata touch and shared by `header`, `manifest`, and segment
    * pruning, so a commit landing between analysis and scan planning can
    * never hand one query a mixed-version state (schema from v, files from
    * v+1 — the pre-header code pinned implicitly through its single lazy
    * manifest load; two independent point-in-time reads must pin
    * explicitly).
    */
  private lazy val pinnedVersion: Long =
    version.getOrElse(warehouse.currentVersion(table))
  lazy val manifest: graft.sink.Manifest = prunedManifest.getOrElse(
    warehouse.manifestAt(table, pinnedVersion))

  /** Header-only snapshot facts (O(2 lines)): planning-path consumers —
    * `schema()`, the MOR-deletes gate, [[ManifestPruneRule]] — must never
    * force the full entry list just to learn the schema or that no deletes
    * are pending; at millions of files that is the difference between
    * O(header + relevant segments) and O(table) per query.
    */
  private lazy val header: graft.sink.RootHeader = prunedManifest match {
    case Some(m) => graft.sink.RootHeader(m.schema, m.rowHwm, m.deletes.size)
    case None    => warehouse.manifestHeader(table, Some(pinnedVersion))
  }

  /** Does this snapshot carry pending MOR delete entries? Served from the
    * root header when the count is recorded there; pre-header manifests
    * fall back to the full load (unknown must never read as "no deletes" —
    * that would silently resurrect deleted rows).
    */
  def hasPendingDeletes: Boolean =
    if (header.deleteCount >= 0) header.deleteCount > 0 else manifest.deletes.nonEmpty

  /** Segment-pruned manifest of this snapshot ([[Warehouse.manifestPruned]]):
    * `(manifest over surviving segments, skipped segment count)`.
    */
  def manifestPruned(keep: graft.sink.SegSummary => Boolean): (graft.sink.Manifest, Int) =
    prunedManifest match {
      case Some(m) => (m, 0)
      case None    => warehouse.manifestPruned(table, Some(pinnedVersion), keep)
    }

  /** Same table pinned to an explicit pruned manifest (files AND deletes
    * already resolved — used by [[ManifestPruneRule]] so the swap never
    * forces a full manifest load of the original).
    */
  def withManifest(m: graft.sink.Manifest): GraftTable =
    new GraftTable(displayName, table, root, version, Some(m))

  override def name(): String = {
    val base = version.map(v => s"$displayName@v$v").getOrElse(displayName)
    prunedManifest.map(m => s"$base[${m.files.size} files]").getOrElse(base)
  }

  override def schema(): StructType = header.schema

  /** Stored table constraints ([[ConstraintStore]]): Spark's
    * `ResolveTableConstraints` reads these off every V2 write target and
    * splices enforced CHECK validation into the writing query.
    */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    new ConstraintStore(root).list(table).toArray

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // MOR safety net: correct reads of a snapshot with pending equality
    // deletes depend on MorReadRule swapping this relation for the MOR frame
    // BEFORE any scan executes. That rule rides spark.sql.extensions — a
    // session that registered only the catalog would reach this builder and
    // silently serve deleted rows. Fail loudly instead of lying. The one
    // build let through is the relation's size ESTIMATE: semi/anti-join
    // pushdown sizes its sides in the same optimizer fixed point, before
    // the splice, through `DataSourceV2Relation.computeStats`; that scan
    // never executes, and its plain-file size is an upper bound.
    require(manifest.deletes.isEmpty || GraftTable.sizingOnly,
      s"$displayName has ${manifest.deletes.size} pending equality-delete file(s); " +
        "plain scans would resurrect deleted rows. Register GraftExtensions " +
        "(spark.sql.extensions) so MorReadRule serves the MOR frame, or run " +
        "compactDeletes first.")
    val paths = manifest.files.map(f => warehouse.resolvePath(table, f.path))
    val pt = new ParquetTable(name(), spark, options, paths, Some(manifest.schema),
      classOf[ParquetFileFormat])
    // Storage-partitioned joins: when the manifest proves every file is
    // single-valued on the declared partition transforms, the scan reports
    // its key-grouped clustering and co-partitioned joins plan shuffle-free
    // (see [[SpjSupport]]; needs spark.sql.sources.v2.bucketing.enabled).
    def norm(rel: String): String =
      new org.apache.hadoop.fs.Path(warehouse.resolvePath(table, rel)).toUri.getPath
    val filesByPath = manifest.files.map(f => norm(f.path) -> f).toMap
    val info = SpjSupport.infoFor(warehouse.partitionSpec(table), manifest, norm)
    // a LIVE table scan can also be planned as a micro-batch stream
    // (readStream.table): the ref carries what GraftMicroBatchStream needs
    // to poll the version ledger
    val streamRef = if (version.isEmpty && prunedManifest.isEmpty) Some((table, root)) else None
    // ANALYZE-served column stats ride the same live-and-unpruned gate:
    // other populations weren't the ones measured. The bloom ref is
    // UNCONDITIONAL: sidecars are per-file derived metadata, valid for any
    // snapshot or pruned subset that references the file.
    new SpjScanBuilder(spark, pt.fileIndex, pt.schema, pt.dataSchema, options, filesByPath,
      info, streamRef, statsRef = streamRef, bloomRef = Some((table, root)))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty, s"cannot write to time-travel snapshot $displayName@v${version.get}")
    require(prunedManifest.isEmpty, s"cannot write to a pruned scan of $displayName")
    new GraftWriteBuilder(table, root, info)
  }

  // ---- SQL `DELETE FROM graft.t WHERE ...` (SupportsDeleteV2): the
  // predicate lands in [[graft.sink.Warehouse.deleteWhere]] — the same
  // stat-pruned copy-on-write rewrite as the programmatic face (pending MOR
  // deletes are materialized there first). Only predicates expressible as
  // column/literal comparisons are accepted (canDeleteWhere), so anything
  // else fails loudly at planning instead of silently deleting wrong rows.

  private def predColumn(p: Predicate): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}

    def colOf(e: V2Expr): Option[Column] = e match {
      case r: NamedReference => Some(col(r.fieldNames.mkString(".")))
      case _ => None
    }
    def litOf(e: V2Expr): Option[Column] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        // LiteralValue carries Catalyst-internal values (UTF8String, Decimal,
        // epoch days/micros); convert to the external form `lit` accepts
        Some(lit(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(l.dataType)(l.value)))
      case _ => None
    }
    // col-op-lit directly; lit-op-col via the flipped operator
    def cmp(a: V2Expr, b: V2Expr, direct: (Column, Column) => Column,
            flipped: (Column, Column) => Column): Option[Column] =
      (for (c <- colOf(a); v <- litOf(b)) yield direct(c, v))
        .orElse(for (v <- litOf(a); c <- colOf(b)) yield flipped(c, v))

    def go(pr: Predicate): Option[Column] = pr match {
      case a: V2And => for (l <- go(a.left()); r <- go(a.right())) yield l && r
      case o: V2Or => for (l <- go(o.left()); r <- go(o.right())) yield l || r
      case n: V2Not => go(n.child()).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ =>
        val ch = pr.children()
        (pr.name(), ch.length) match {
          case ("=", 2) => cmp(ch(0), ch(1), _ === _, _ === _)
          case ("<=>", 2) => cmp(ch(0), ch(1), _ <=> _, _ <=> _)
          case (">", 2) => cmp(ch(0), ch(1), _ > _, _ < _)
          case (">=", 2) => cmp(ch(0), ch(1), _ >= _, _ <= _)
          case ("<", 2) => cmp(ch(0), ch(1), _ < _, _ > _)
          case ("<=", 2) => cmp(ch(0), ch(1), _ <= _, _ >= _)
          case ("IS_NULL", 1) => colOf(ch(0)).map(_.isNull)
          case ("IS_NOT_NULL", 1) => colOf(ch(0)).map(_.isNotNull)
          case ("STARTS_WITH", 2) => for (c <- colOf(ch(0)); v <- litOf(ch(1))) yield c.startsWith(v)
          case ("ENDS_WITH", 2) => for (c <- colOf(ch(0)); v <- litOf(ch(1))) yield c.endsWith(v)
          case ("CONTAINS", 2) => for (c <- colOf(ch(0)); v <- litOf(ch(1))) yield c.contains(v)
          case ("IN", n) if n >= 2 =>
            val vs = ch.tail.map(litOf)
            if (vs.forall(_.isDefined)) colOf(ch(0)).map(_.isin(vs.flatten.toIndexedSeq: _*))
            else None
          case _ => None
        }
    }
    go(p)
  }

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    version.isEmpty && prunedManifest.isEmpty && predicates.forall(predColumn(_).isDefined)

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    require(version.isEmpty && prunedManifest.isEmpty,
      s"cannot delete from a time-travel or pruned scan of $displayName")
    // map + throw, not flatMap: silently dropping an unconvertible predicate
    // would WEAKEN the condition and delete more rows than asked. Spark vets
    // via canDeleteWhere today, but that contract could drift across versions.
    val cond = predicates.map(p => predColumn(p).getOrElse(throw
        new UnsupportedOperationException(s"cannot convert delete predicate $p")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // session knob picks the IO shape, not the semantics: "cow" (default)
    // rewrites the touched files now; "positional" commits (file, ordinal)
    // pairs and defers the rewrite to compactDeletes — the 100 TB
    // retention-sweep posture
    spark.conf.getOption("spark.graft.delete.mode").map(_.toLowerCase) match {
      case Some("positional") => warehouse.positionDelete(table, cond)
      case None | Some("cow") => warehouse.deleteWhere(table, cond)
      case Some(other) => throw new IllegalArgumentException(
        s"spark.graft.delete.mode must be cow or positional, got: $other")
    }
  }
}

private[graft] object GraftTable {
  /** Is the running scan build Spark's pre-pushdown size estimate
    * (`DataSourceV2Relation.computeStats`)?
    */
  private def sizingOnly: Boolean = StackWalker.getInstance().walk(frames =>
    frames.anyMatch(f => f.getMethodName == "computeStats" &&
      f.getClassName.startsWith(
        "org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation")))
}

/** Disposition-aware write shim: `INSERT INTO` / `writeTo(...).append()` is
  * the append disposition, `INSERT OVERWRITE` / truncate is replace, and
  * `option("disposition", "merge")` + `option("primaryKeys", "a,b")` routes
  * through the stat-pruned merge — the same three write modes as the
  * reference sink (`salesforce_pipeline.py:75-134`).
  */
private[catalog] class GraftWriteBuilder(table: String, root: String, info: LogicalWriteInfo)
    extends SupportsOverwriteV2 {

  private var overwriteAll = false

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
    require(predicates.isEmpty || (predicates.length == 1 && predicates(0).name() == "ALWAYS_TRUE"),
      "graft supports only full-table overwrite (or use disposition=merge)")
    overwriteAll = true
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: DataFrame, overwrite: Boolean): Unit = {
        val opts = info.options()
        // merge broadcast gate: per-write option wins, then the session
        // conf, then the Warehouse default (see Warehouse scaladoc)
        val gate = Option(opts.get("mergeBroadcastMaxKeys")).map(_.toLong)
          .orElse(Option(data.sparkSession.conf.get(
            "spark.graft.mergeBroadcastMaxKeys", null)).map(_.toLong))
        val wh = gate.map(new Warehouse(data.sparkSession, root, _))
          .getOrElse(new Warehouse(data.sparkSession, root))
        val pks = Option(opts.get("primaryKeys")).toSeq
          .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
        val disposition = Option(opts.get("disposition")).map(_.toLowerCase)
          .getOrElse(if (overwriteAll || overwrite) "replace" else "append")
        disposition match {
          case "replace" => wh.replace(table, data, pks)
          case "merge"   => wh.merge(table, data, pks)
          case "append"  => wh.append(table, data, pks)
          case "merge-on-read" =>
            // MOR upsert: one O(batch) commit (data files + equality-delete
            // file of the batch keys), zero target rewrites — the CDC
            // fast-ingest disposition; reads anti-join until compactDeletes
            require(pks.nonEmpty, "merge-on-read requires primaryKeys")
            wh.morMerge(table, data, pks)
          case "delete-matched" =>
            // MERGE ... WHEN MATCHED THEN DELETE: the incoming rows carry
            // the join keys; commit them as an O(batch) MOR equality delete
            // (no data file rewritten — the 100 TB delete-by-join path)
            require(pks.nonEmpty, "delete-matched requires primaryKeys")
            wh.equalityDelete(table,
              data.select(pks.map(org.apache.spark.sql.functions.col): _*))
          case other     => throw new IllegalArgumentException(s"unknown disposition: $other")
        }
      }
    }
  }
}

/** Iceberg-style metadata tables on the SQL face — the inspection surface
  * the reference reaches through its REST catalog (`check_tables.py:16-32`
  * table listing/loading; pyiceberg `table.inspect` analog):
  *
  * {{{
  *   SELECT * FROM graft.`orders$files`       -- data files + stat bounds
  *   SELECT * FROM graft.`orders$snapshots`   -- commit history + tags
  *   SELECT * FROM graft.`orders$deletes`     -- pending MOR equality deletes
  *   SELECT * FROM graft.`orders$partitions`  -- per-partition-value rollup
  *   SELECT * FROM graft.`orders$files` VERSION AS OF 'train-v1'
  *   SELECT * FROM graft.`orders$changes`  -- CDC rows (ChangesTable; also streams)
  * }}}
  *
  * Metadata is manifest-resident (file list, per-file row counts and column
  * bounds are written at commit time), so these scans read ZERO data files
  * at any table size — they materialize on the driver via [[LocalScan]],
  * bounded by file count, never row count.
  */
private[catalog] object MetaTables {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  /** `base$suffix` split, or None for plain table names. */
  def parse(name: String): Option[(String, String)] = name.split('$') match {
    case Array(base, suffix) if base.nonEmpty && suffix.nonEmpty => Some((base, suffix))
    case _ => None
  }

  private val statSchema = StructType(Seq(
    StructField("kind", StringType), StructField("min", StringType),
    StructField("max", StringType)))

  val FilesSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("row_count", LongType, nullable = false),
    StructField("stats", MapType(StringType, statSchema, valueContainsNull = false))))

  val DeletesSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("key_count", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("key_columns", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("stats", MapType(StringType, statSchema, valueContainsNull = false)),
    StructField("kind", StringType, nullable = false))) // "eq" | "dv"

  val SnapshotsSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("total_rows", LongType, nullable = false),
    StructField("tags", ArrayType(StringType, containsNull = false), nullable = false)))

  val ManifestsSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("root_bytes", LongType, nullable = false),
    StructField("n_segments", LongType, nullable = false),
    StructField("n_tombstones", LongType, nullable = false),
    StructField("segments", ArrayType(StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("bytes", LongType, nullable = false))), containsNull = false),
      nullable = false)))

  val RefsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false), // "branch" | "tag"
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    // the MAIN version a branch last forked from / published to; NULL for
    // tags and for main itself
    StructField("fork_version", LongType, nullable = true)))

  val PartitionsSchema: StructType = StructType(Seq(
    // transform -> value in the stat comparison domain; a transform's value
    // is NULL for files whose bounds span several values (pre-spec files,
    // un-clustered rewrites) — those group together as visibly unaligned
    StructField("partition", MapType(StringType, StringType, valueContainsNull = true),
      nullable = false),
    StructField("file_count", LongType, nullable = false),
    StructField("row_count", LongType, nullable = false)))

  def table(displayName: String, wh: Warehouse, base: String, suffix: String,
      version: Option[Long]): Option[Table] = suffix match {
    case "files" =>
      Some(new MetaTable(displayName, FilesSchema, () => {
        val m = version.map(wh.manifestAt(base, _)).getOrElse(wh.currentManifest(base))
        m.files.map(f => Row(wh.resolvePath(base, f.path), f.rows,
          f.stats.map { case (c, s) => c -> Row(s.kind, s.min, s.max) })).toArray
      }))
    // pending merge-on-read equality deletes of the snapshot (empty once
    // compactDeletes / a rewrite op materialized them)
    case "deletes" =>
      Some(new MetaTable(displayName, DeletesSchema, () => {
        val m = version.map(wh.manifestAt(base, _)).getOrElse(wh.currentManifest(base))
        m.deletes.map(d => Row(wh.resolvePath(base, d.path), d.rows, d.seq, d.cols,
          d.stats.map { case (c, s) => c -> Row(s.kind, s.min, s.max) }, d.kind)).toArray
      }))
    // per-partition-value rollup (Iceberg partitions-table analog): derived
    // entirely from the manifest's per-file transform stat bounds — a bound
    // with min == max IS the file's partition value (cluster() writes align
    // files to transform values, so this is the common case); zero data IO
    case "partitions" =>
      Some(new MetaTable(displayName, PartitionsSchema, () => {
        val m = version.map(wh.manifestAt(base, _)).getOrElse(wh.currentManifest(base))
        val spec = wh.partitionSpec(base)
        m.files.groupBy { f =>
          spec.map { t =>
            t -> f.stats.get(t).collect { case s if s.min == s.max => s.min }.orNull
          }.toMap
        }.toSeq.sortBy(_._1.toSeq.sortBy(_._1).map(kv => s"${kv._1}=${kv._2}").mkString(","))
          .map { case (part, files) =>
            Row(part, files.size.toLong, files.map(_.rows).sum)
          }.toArray
      }))
    // manifest-STORAGE inspection (segmented store, Iceberg $manifests
    // analog): per snapshot, the root's byte size, its referenced segments
    // with sizes (shared by reference across versions), and tombstone
    // count — the operator's view of when rewrite_manifests is worth it
    case "manifests" if version.isEmpty =>
      Some(new MetaTable(displayName, ManifestsSchema, () => {
        wh.history(base).sorted.map { v =>
          val (rootBytes, segs, tombs) = wh.manifestStorage(base, v)
          Row(v, rootBytes, segs.size.toLong, tombs.toLong,
            segs.map { case (p, b) => Row(p, b) })
        }.toArray
      }))
    // the snapshots table IS the version axis — time travel on it is a
    // category error, surfaced as table-not-found
    case "snapshots" if version.isEmpty =>
      Some(new MetaTable(displayName, SnapshotsSchema, () => {
        val tagsByV = wh.tags(base).toSeq.groupBy(_._2)
          .view.mapValues(_.map(_._1).sorted).toMap
        wh.history(base).sorted.map { v =>
          val m = wh.manifestAt(base, v)
          Row(v, new java.sql.Timestamp(wh.commitTimeMillis(base, v)),
            m.files.size.toLong, m.files.map(_.rows).sum,
            tagsByV.getOrElse(v, Nil))
        }.toArray
      }))
    // the ref axis itself (Iceberg $refs analog): main + every branch +
    // every tag, with head/tagged versions and commit times — each ref's
    // version in ITS OWN ledger's space (which is why branch rows carry the
    // main-space fork_version beside it). Like $snapshots, time travel on
    // the ref axis is a category error.
    case "refs" if version.isEmpty =>
      Some(new MetaTable(displayName, RefsSchema, () => {
        val main = {
          val v = wh.currentVersion(base)
          Row("main", "branch", v, new java.sql.Timestamp(wh.commitTimeMillis(base, v)), null)
        }
        val branchRows = wh.branches(base).map { b =>
          val bname = s"$base@$b"
          val v = wh.currentVersion(bname)
          Row(b, "branch", v, new java.sql.Timestamp(wh.commitTimeMillis(bname, v)),
            wh.forkVersion(base, b))
        }
        val tagRows = wh.tags(base).toSeq.sortBy(_._1).map { case (t, v) =>
          Row(t, "tag", v, new java.sql.Timestamp(wh.commitTimeMillis(base, v)), null)
        }
        (main +: branchRows) ++ tagRows
      }.toArray))
    case _ => None
  }
}

/** Driver-materialized read-only table over manifest metadata. Rows are
  * (re)computed at scan build, so a metadata query always reflects the
  * manifest state at ANALYSIS time of that query, like any snapshot read.
  */
private[catalog] class MetaTable(displayName: String, schema0: StructType,
    rowsF: () => Array[org.apache.spark.sql.Row]) extends Table with SupportsRead {
  import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}

  override def name(): String = displayName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        private lazy val data: Array[InternalRow] = {
          val conv = CatalystTypeConverters.createToCatalystConverter(schema0)
          rowsF().map(r => conv(r).asInstanceOf[InternalRow])
        }
        override def rows(): Array[InternalRow] = data
        override def readSchema(): StructType = schema0
      }
    }
}
