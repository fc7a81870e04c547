package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{ResourceDef, Resources, WriteMode}
import graft.sink.{FanOut, Warehouse}
import graft.sources.SObjectSource
import graft.state.WatermarkStore

/** End-to-end pipeline: the engine's analog of `load()` +
  * Dagster/Airflow orchestration (SURVEY.md §2.10, §3.1-3.3).
  *
  * Stages mirror the reference's Airflow DAG
  * (`airflow/dags/salesforce_iceberg_dag.py:38-183`):
  * validate config → run (extract/conform/load per resource) → verify
  * (per-table count scan) → summary report — all in-process, no global env
  * mutation (unlike the Dagster asset's env staging,
  * `dagster/.../dlt_salesforce.py:60-72`).
  */
object Pipeline {

  /** O3: per-table load metadata (rows, disposition, snapshot version, ms) —
    * the engine's `MaterializeResult` analog
    * (`dagster/.../dlt_salesforce.py:114-127`).
    */
  final case class LoadReport(
      table: String,
      mode: WriteMode,
      rows: Long,
      snapshotVersion: Long,
      newWatermark: Option[String],
      millis: Long)

  /** O4: fan-in summary (`dagster/.../dlt_salesforce.py:148-182`,
    * `airflow/dags/salesforce_iceberg_dag.py:151-183`).
    */
  final case class RunSummary(reports: Seq[LoadReport]) {
    def totalRecords: Long = reports.map(_.rows).sum
    def successCount: Int = reports.size
    def render: String =
      reports.map(r => f"${r.table}%-10s ${r.mode}%-8s rows=${r.rows}%-8d v=${r.snapshotVersion} wm=${r.newWatermark.getOrElse("-")}")
        .mkString("", "\n", f"\nTOTAL records=$totalRecords tables=$successCount")
  }

  /** Pipeline configuration — the typed replacement for the reference's
    * env-var surface (`salesforce_pipeline.py:31-39`, O2/O6, I7/I8).
    *
    * @param resources       subset to run (SALESFORCE_RESOURCES analog, I8)
    * @param forceReplace    override every disposition to Replace and reset
    *                        state (WRITE_DISPOSITION=force_replace, I7/I5)
    * @param testLimit       per-resource row cap (IS_PRODUCTION=false analog)
    * @param extract         pluggable extraction: (spark, resource, stored
    *                        watermark, limit) => batch. Default reads the
    *                        parquet stand-ins under sfDir; pass
    *                        `SObjectSource.dsv2Extractor(...)` to drive the
    *                        same run loop over the API-shaped DSv2 connector
    * @param retries         per-resource re-attempts after a transient
    *                        failure (the reference DAG retries the task once,
    *                        `airflow/dags/salesforce_iceberg_dag.py:23`)
    * @param retryBackoffMs  wait before each re-attempt (reference: 30 s,
    *                        `salesforce_iceberg_dag.py:24`)
    */
  final case class Config(
      sfDir: String,
      warehouseDir: String,
      stateDir: String,
      resources: Seq[ResourceDef] = Resources.testdata,
      forceReplace: Boolean = false,
      testLimit: Option[Int] = None,
      extract: Option[(SparkSession, ResourceDef, Option[String], Option[Int]) => DataFrame] = None,
      retries: Int = 1,
      retryBackoffMs: Long = 30000L)

  /** O6 fail-fast config validation
    * (`airflow/dags/salesforce_iceberg_dag.py:42-77`).
    */
  def validate(cfg: Config): Either[String, Config] =
    if (cfg.warehouseDir.isEmpty) Left("warehouseDir is required")
    else if (cfg.extract.isEmpty && cfg.sfDir.isEmpty) Left("sfDir is required")
    else if (cfg.extract.isEmpty && !new java.io.File(cfg.sfDir).isDirectory)
      Left(s"sfDir not found: ${cfg.sfDir}")
    else if (cfg.resources.isEmpty) Left("no resources selected")
    else Right(cfg)

  /** O1/O5: one run = extract + load every selected resource, advancing
    * watermarks. Incremental resources read only rows with
    * rk > stored-watermark (strict `>`, I1) and afterwards persist the batch
    * max (A3) — a driver-side 2-value aggregate, not a collect of data.
    *
    * Resources load concurrently, one load job per table like the
    * reference's dlt load workers: each is a chain of small driver-bound
    * Spark jobs, so overlapping them fills each other's driver gaps. The
    * summary's reports are in declaration order. Every resource runs to
    * the end (with its retries) before the run returns or throws; if any
    * failed, the first failure in declaration order is rethrown, and the
    * siblings of a failed resource have still landed, watermarks included.
    */
  def run(spark: SparkSession, cfg0: Config): RunSummary = {
    val cfg = validate(cfg0).fold(err => throw new IllegalArgumentException(err), identity)
    val wh = new Warehouse(spark, cfg.warehouseDir)
    val state = new WatermarkStore(cfg.stateDir)
    if (cfg.forceReplace) state.reset()

    val reports = FanOut(cfg.resources.map { res0 =>
      val res = if (cfg.forceReplace) res0.copy(mode = WriteMode.Replace) else res0
      () => withRetry(cfg.retries, cfg.retryBackoffMs, res.name)(loadOne(spark, cfg, wh, state, res))
    })
    RunSummary(reports)
  }

  /** Retry the whole per-resource extract+load, like the reference DAG
    * retries its task (at-least-once). Safe because the stages are
    * idempotent under re-execution from the top: the watermark only
    * advances AFTER a successful load, so a retried extract re-reads the
    * same rows, and the merge/replace dispositions absorb a re-applied
    * batch. (An append resource double-applies only if the failure landed
    * in the narrow window between snapshot commit and watermark write — the
    * same at-least-once edge the reference's Airflow retry has.)
    *
    * The contract is per resource: [[run]] retries each resource on its own
    * thread, concurrently with the others, so a resource that exhausts its
    * retries never advances its own watermark while its siblings still
    * commit and advance theirs; the run then rethrows the first failure in
    * declaration order.
    */
  private def withRetry[A](retries: Int, backoffMs: Long, what: String)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) if attempt < retries =>
          attempt += 1
          System.err.println(s"[pipeline] $what failed (${e.getMessage}); " +
            s"retry $attempt/$retries after ${backoffMs}ms")
          if (backoffMs > 0) Thread.sleep(backoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def loadOne(spark: SparkSession, cfg: Config, wh: Warehouse,
                      state: WatermarkStore, res: ResourceDef): LoadReport = {
      val t0 = System.nanoTime()
      val stored = state.get(res.name)
      // cache(): the merge disposition executes the batch more than once
      // (key-bounds aggregate, victim anti-join, batch write) and the
      // aggregate below is one more pass. One cached evaluation keeps all
      // of them on the same rows: an uncached nondeterministic plan (a
      // limited extract with ties on rk) could write different rows than
      // the pass the observed watermark came from — silently losing rows to
      // the strict `>` filter forever. Released in the finally, so a failed
      // attempt (retries included) leaves no cached batch behind.
      val batch = cfg.extract match {
        case Some(f) => f(spark, res, stored, cfg.testLimit).cache()
        case None => SObjectSource.extract(spark, cfg.sfDir, res,
          watermark = stored, limit = cfg.testLimit).cache()
      }
      val (rows, version, newWm) = try {
        // One aggregate job computes both the row count and the new watermark
        // off the cached batch. (Deliberately NOT observe()/CollectMetrics
        // riding the write: Warehouse.write range-clusters the batch, and the
        // RangePartitioner's bounds-sampling pass executes the subtree BELOW
        // the exchange a second time — a CollectMetrics there double-counts
        // every metric. Measured: exactly 2× row counts under every
        // disposition with non-empty cluster keys.)
        val (rows, newWm) = res.replicationKey match {
          case Some(rk) =>
            // µs-precision render: truncating to seconds would re-extract
            // boundary rows with sub-second timestamps on the next run.
            val agg = batch.agg(count(lit(1)).as("n"),
              date_format(max(col(rk)), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("wm")).head()
            (agg.getLong(0), Option(agg.getString(1)))
          case None => (batch.count(), None)
        }
        (rows, wh.write(res, batch), newWm)
      } finally batch.unpersist()
      newWm.foreach(w => state.advance(res.name, w))
      LoadReport(res.name, res.mode, rows, version, newWm,
        (System.nanoTime() - t0) / 1000000)
  }

  /** Config introspection — the typed analog of the reference's
    * `dump_env_vars.py` (reflection over dlt configspecs printing every
    * env-var knob). Here the knobs are Config fields, so the dump renders
    * each field, its effective value, and the reference env var it
    * replaces; plus the connector's six credential strategies with their
    * required fields (values never printed — they live in connector
    * options, not Config). Fails at compile time instead of at reflection
    * time when a knob is added or renamed.
    */
  def describe(cfg: Config): String = {
    val rows: Seq[(String, String, String)] = Seq(
      ("sfDir", cfg.sfDir, "(test stand-in for SALESFORCE credentials)"),
      ("warehouseDir", cfg.warehouseDir, "ICEBERG_CATALOG_* / warehouse location"),
      ("stateDir", cfg.stateDir, "dlt pipeline state dir"),
      ("resources", cfg.resources.map(_.name).mkString(","), "SALESFORCE_RESOURCES"),
      ("forceReplace", cfg.forceReplace.toString, "WRITE_DISPOSITION=force_replace"),
      ("testLimit", cfg.testLimit.fold("-")(_.toString), "IS_PRODUCTION=false row cap"),
      ("extract", if (cfg.extract.isDefined) "<custom>" else "<parquet stand-in>", "source override"),
      ("retries", cfg.retries.toString, "Airflow DAG retries"),
      ("retryBackoffMs", cfg.retryBackoffMs.toString, "Airflow DAG retry_delay"))
    val authRows: Seq[(String, String)] = Seq(
      ("security_token", "userName, password, securityToken"),
      ("organization_id", "userName, password, organizationId"),
      ("instance", "sessionId, instance|instanceUrl"),
      ("consumer_key_secret", "userName, password, consumerKey, consumerSecret"),
      ("jwt", "userName, consumerKey, privateKey|privateKeyFile"),
      ("client_credentials", "consumerKey, consumerSecret, domain"))
    val cfgBlock = rows.map { case (k, v, ref) => f"$k%-16s = $v%-40s # $ref" }
    val authBlock = authRows.map { case (k, fields) => f"auth=$k%-22s requires: $fields" }
    (("# pipeline config" +: cfgBlock) ++ ("# connector auth strategies" +: authBlock))
      .mkString("\n")
  }

  /** One table's verification result: row count plus up to 3 rendered
    * sample rows over the first ≤5 columns — the reference's
    * `check_tables.py:50-53` sample print, as data instead of stdout.
    */
  final case class TableCheck(rows: Long, sample: Seq[String])

  /** O5 verification stage: per-table count + sample scan of the warehouse
    * (`airflow/dags/salesforce_iceberg_dag.py:97-149`, `check_tables.py:27-62`).
    */
  def verify(spark: SparkSession, warehouseDir: String): Map[String, TableCheck] = {
    val wh = new Warehouse(spark, warehouseDir)
    wh.listTables().map { t =>
      val df = wh.load(t)
      val firstCols = df.columns.take(5).toIndexedSeq
      val sample = df.select(firstCols.head, firstCols.tail: _*).limit(3)
        .collect().map(_.toSeq.map(v => String.valueOf(v)).mkString(" | ")).toSeq
      t -> TableCheck(df.count(), sample)
    }.toMap
  }
}
