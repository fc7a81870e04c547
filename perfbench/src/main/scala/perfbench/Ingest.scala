package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.model.Resources
import graft.pipeline.Pipeline
import graft.sink.Warehouse
import graft.sources.SObjectSource
import graft.state.WatermarkStore

/** `ingest`: one round = one incremental `Pipeline.run` over a seeded
  * source batch (merge upserts into orders/lineitem, appended events, a
  * replaced supplier dimension), then the reads that follow a load: point
  * lookups of keys the batch just upserted, through SQL on the graft
  * catalog and through `Warehouse.load(t).filter(...)`. The headline op is
  * the pipeline run. Set-up is the initial full load of the four resources
  * the rounds change; one untimed warm-up round follows it. In a traced run, each listed scripted analytic (a
  * `SparkEntry.queries` key over the source files) then runs once, its
  * result written as parquet for the DuckDB oracle check run.py makes.
  */
object Ingest {
  private val batchTables = Seq("orders", "lineitem", "events", "supplier")
  private val mergeKeys = Map("orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))
  private val watermarkTables = Seq("orders", "lineitem", "events")
  private val LookupsPerRound = 6
  private val WarmupRounds = 1
  // single rounds spread by about a tenth: the median is over at least two
  private val MinRounds = 2
  private val Catalog = "gi"

  /** Commit-free `SparkEntry.queries` keys (no Warehouse in their scripts)
    * leaning on different kernel families: exact-decimal aggregation and
    * vector similarity.
    */
  val scriptedKeys: Seq[String] = Seq(
    "q20_pricing_summary", // Analytic
    "q60_cosine_topk")     // Similarity

  /** Every file path (data and delete) of `t`'s current snapshot. */
  private def livePaths(wh: Warehouse, t: String): Seq[String] = {
    val m = wh.currentManifest(t)
    (m.files.map(_.path) ++ m.deletes.map(_.path)).map(wh.resolvePath(t, _))
  }

  private def rowStrings(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val a = ctx.args
    val man = Json.read(a.data.resolve("manifest.json"))
    val nBatches = man.get("batches").asInt
    val base = a.data.resolve("base")
    val batchRes = Resources.testdata.filter(r => batchTables.contains(r.name))
    val (whDir, stDir) = ctx.setup {
      val w = ctx.dir("wh")
      val st = ctx.dir("state")
      Pipeline.run(spark, Pipeline.Config(base.toString, w.toString, st.toString,
        resources = batchRes, retries = 0))
      (w, st)
    }
    val wh = new Warehouse(spark, whDir.toString)
    val state = new WatermarkStore(stDir.toString)
    ctx.registerCatalog(Catalog, whDir)

    val dump = Files.createDirectories(a.out.resolve("results"))
    val rnd = new java.util.SplittableRandom(a.seed)
    val roundMs = Seq.newBuilder[Double]
    var rowsLanded = 0L
    var storedAfterFirst = 0L
    def round(i: Int): Unit = {
      val dir = a.data.resolve(s"batch$i")
      val rows = man.get("batch_rows").get(i)
      val wms = man.get("batch_wm").get(i)
      // traced runs trace every other measured round's pipeline run (the
      // lookups alternate on their own), so each op kind has untraced
      // samples too; warm-up rounds are never traced
      val traced = a.trace && i >= WarmupRounds && (i - WarmupRounds) % 2 == 0
      if (traced) ctx.aside("sources.extract") {
        batchRes.foreach(r => SObjectSource.extract(spark, dir.toString, r, state.get(r.name))
          .write.format("noop").mode("overwrite").save())
      }
      val before = batchTables.map(t => t -> (wh.currentVersion(t), livePaths(wh, t).toSet)).toMap
      val summary = ctx.op("run", traced) {
        ctx.tracer.span("pipeline.run") {
          Pipeline.run(spark, Pipeline.Config(dir.toString, whDir.toString, stDir.toString,
            resources = batchRes, retries = 0))
        }
      } { s =>
        s.reports.size == batchTables.size && s.reports.forall { r =>
          r.rows == rows.get(r.table).asLong &&
            Option(wms.get(r.table)).forall(w => r.newWatermark.contains(w.asText))
        }
      }
      if (ctx.ops.last.timed) summary.foreach(s => rowsLanded += s.totalRecords)
      if (traced) summary.foreach { s =>
        for (mode <- Seq("merge", "append", "replace"))
          ctx.sample(s"pipeline.${mode}_ms",
            s.reports.filter(_.mode.toString.toLowerCase == mode).map(_.millis.toDouble).sum)
        val added = batchTables.flatMap(t => livePaths(wh, t).filterNot(before(t)._2))
        ctx.sample("sink.commits_per_run",
          batchTables.map(t => wh.currentVersion(t) - before(t)._1).sum.toDouble)
        ctx.sample("sink.files_added_per_run", added.size.toDouble)
        ctx.sample("sink.bytes_written_per_input_byte",
          added.map(p => Files.size(Paths.get(p))).sum.toDouble / Bench.bytesUnder(dir))
        ctx.sample("sink.files_live",
          batchTables.map(t => livePaths(wh, t).size).sum.toDouble)
      }
      // the warm-up round warms the headline path only
      if (i >= WarmupRounds) lookups(ctx, wh, dir, rnd, i)
      if (i == 0) storedAfterFirst =
        batchTables.map(t => Bench.bytesUnder(Paths.get(wh.tableDirOf(t)))).sum
    }
    // the first round runs cold (class loading, JIT, codegen of the merge
    // path): warm-up, left out of every figure but the checks
    (0 until WarmupRounds).foreach(round)
    var i = WarmupRounds
    ctx.startClock()
    while (i < nBatches && ctx.timeLeft(roundMs.result(), MinRounds)) {
      val r0 = System.nanoTime()
      round(i)
      roundMs += (System.nanoTime() - r0) / 1e6
      i += 1
    }
    // scripted analytics once, after the rounds, in traced runs only: they
    // read the source files, not the warehouse, and feed only the `queries`
    // layer figures
    val scripted = if (a.trace) scriptedKeys else Nil
    for (k <- scripted) {
      ctx.op(k, traced = true) {
        SparkEntry.queries(k)(spark, base.toString).coalesce(1).write.mode("overwrite")
          .parquet(dump.resolve(k).toString)
      }(_ => true)
      ctx.sample(s"queries.${k}_s", ctx.ops.last.ms / 1000)
    }
    if (scripted.nonEmpty) Files.writeString(dump.resolve("oracle_sql.json"),
      Json.value(scripted.map(k => k -> SparkEntry.oracleSql(k)).toMap))

    // ---- output check: every table and watermark against plain Spark ----
    def src(d: Path, t: String) = spark.read.parquet(d.resolve(s"$t.parquet").toString)
    def expectedAfter(rounds: Int) = batchTables.map { t =>
      val history = src(base, t) +: (0 until rounds).map(b => src(a.data.resolve(s"batch$b"), t))
      t -> (mergeKeys.get(t) match {
        case Some(pks) => Oracles.lastWriterWins(history, pks)
        case None if t == "events" => Oracles.concat(history)
        case None => Oracles.lastBatch(history)
      })
    }
    val tablesOk = expectedAfter(i).forall { case (t, e) =>
      val ok = Oracles.sameRows(wh.load(t), e)
      if (!ok) Bench.warn(s"ingest: table $t differs from its expectation", null)
      ok
    }
    val wmOk = i == 0 || watermarkTables.forall { t =>
      val want = man.get("batch_wm").get(i - 1).get(t).asText
      val ok = state.get(t).contains(want)
      if (!ok) Bench.warn(s"ingest: watermark of $t is ${state.get(t)}, expected $want", null)
      ok
    }

    // storage of the tables after the first (warm-up) round, which every run
    // has whatever the box speed, against the same content written once as
    // snappy parquet
    val expDir = ctx.dir("expected")
    expectedAfter(1).foreach { case (t, e) =>
      e.coalesce(1).write.parquet(expDir.resolve(t).toString) }
    val floor = Bench.bytesUnder(expDir, _.getFileName.toString.endsWith(".parquet"))
    val ops = ctx.ops.toSeq
    def p50(kinds: String*) = {
      val xs = ops.filter(o => o.timed && kinds.contains(o.kind)).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val runs = ops.filter(o => o.timed && o.kind == "run").map(_.ms)
    Outcome("run", storedAfterFirst.toDouble / floor, Seq(
      ("ingest_run_p50_s", p50("run") / 1000, "s"),
      ("ingest_rows_per_s", if (runs.isEmpty) 0.0 else rowsLanded / (runs.sum / 1000), "rows/s"),
      ("lookup_sql_p50_ms", p50("lookup_sql"), "ms"),
      ("lookup_api_p50_ms", p50("lookup_api"), "ms")) ++
      (if (scripted.isEmpty) Nil else Seq(("scripted_p50_ms", p50(scripted: _*), "ms"))),
      tablesOk && wmOk, oracleKeys = scripted)
  }

  /** Point lookups of keys the batch in `dir` just upserted, alternating
    * the SQL catalog path and the programmatic `Warehouse.load` path. The
    * batch row is the expectation: it is the last writer of its key. In a
    * traced run every other SQL/API pair is traced.
    */
  private def lookups(ctx: Ctx, wh: Warehouse, dir: Path,
                      rnd: java.util.SplittableRandom, round: Int): Unit = {
    val spark = ctx.spark
    val schema = wh.load("orders").schema
    val batch = Oracles.conformTo(spark.read.parquet(dir.resolve("orders.parquet").toString),
      schema).collect()
    val byKey = batch.map(r => r.getAs[Long]("o_orderkey") -> r.toString).toMap
    val keys = batch.map(_.getAs[Long]("o_orderkey"))
    val liveData = wh.currentManifest("orders").files
      .map(f => Paths.get(f.path).getFileName.toString).toSet
    for (j <- 0 until LookupsPerRound) {
      val key = keys(rnd.nextInt(keys.length))
      val want = byKey.get(key).toSeq
      val traced = ctx.args.trace && (j / 2 + round) % 2 == 0
      if (j % 2 == 0) {
        val res = ctx.op("lookup_sql", traced) {
          val df = ctx.tracer.span("catalog.plan") {
            val d = spark.sql(s"SELECT * FROM $Catalog.orders WHERE o_orderkey = $key")
            d.queryExecution.executedPlan
            d
          }
          (df, ctx.tracer.span("spark.execute")(df.collect()))
        } { case (_, rows) => rowStrings(rows) == want }
        if (ctx.ops.last.traced) res.foreach { case (df, rows) =>
          val plan = df.queryExecution.executedPlan
          ctx.sample("catalog.files_read_frac.sql",
            (Plans.filesRead(plan) & liveData).size.toDouble / liveData.size)
          ctx.sample("catalog.rows_scanned_per_row_returned",
            Plans.rowsScanned(plan).toDouble / math.max(1, rows.length))
        }
      } else {
        val res = ctx.op("lookup_api", traced) {
          val t = ctx.tracer.span("sink.load")(wh.load("orders"))
          val df = t.filter(col("o_orderkey") === key)
          (df, ctx.tracer.span("spark.execute")(df.collect()))
        } { case (_, rows) => rowStrings(rows) == want }
        if (ctx.ops.last.traced) res.foreach { case (df, _) =>
          ctx.sample("sink.files_read_frac.api",
            (Plans.filesRead(df.queryExecution.executedPlan) & liveData).size.toDouble /
              liveData.size)
        }
      }
    }
  }
}
