package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.Pipeline
import graft.model.{ResourceDef, Resources, WriteMode}
import graft.sources.SObjectSource
import graft.state.WatermarkStore
import graft.sink.Warehouse

/** End-to-end pipeline semantics over the sf0.001 fixture data:
  * validate -> run -> verify -> summary (SURVEY §2.10, §3), incremental
  * second run is a no-op (strict `>` watermark), force_replace resets state.
  */
class PipelineSpec extends SparkSpec {

  private def cfg(wh: String, st: String, rs: Seq[ResourceDef] = Resources.testdata) =
    Pipeline.Config(sf, wh, st, resources = rs)

  private type Extract = (SparkSession, ResourceDef, Option[String], Option[Int]) => DataFrame

  private def sourceRows(table: String): Long = spark.read.parquet(s"$sf/$table.parquet").count()

  test("validate fails fast on bad config") {
    assert(Pipeline.validate(cfg("", "s")).isLeft)
    assert(Pipeline.validate(Pipeline.Config(sf, "w", "s", resources = Nil)).isLeft)
    assert(Pipeline.validate(Pipeline.Config("/nope", "w", "s")).isLeft)
    assert(Pipeline.validate(cfg("w", "s")).isRight)
  }

  test("first run loads all resources; verification counts match source") {
    val (wh, st) = (tmpDir("pl-wh"), tmpDir("pl-st"))
    val summary = Pipeline.run(spark, cfg(wh, st))
    assert(summary.successCount == Resources.testdata.size)
    assert(summary.totalRecords > 0)
    val counts = Pipeline.verify(spark, wh)
    val srcOrders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(counts("orders").rows == srcOrders)
    assert(summary.render.contains("TOTAL"))
    // check_tables.py parity: the verify stage carries ≤3 sample rows per
    // table over the first ≤5 columns
    counts.foreach { case (t, chk) =>
      assert(chk.sample.nonEmpty && chk.sample.size <= 3, s"$t: no sample rows")
      assert(chk.sample.forall(_.count(_ == '|') <= 4), s"$t: more than 5 columns sampled")
    }
  }

  test("second incremental run extracts nothing new (strict > watermark)") {
    val (wh, st) = (tmpDir("pl2-wh"), tmpDir("pl2-st"))
    Pipeline.run(spark, cfg(wh, st))
    val before = Pipeline.verify(spark, wh).view.mapValues(_.rows).toMap
    val second = Pipeline.run(spark, cfg(wh, st))
    // merge resources see 0 incremental rows; replace resources reload fully
    val mergeReports = second.reports.filter(_.mode == WriteMode.Merge)
    assert(mergeReports.nonEmpty && mergeReports.forall(_.rows == 0))
    assert(Pipeline.verify(spark, wh).view.mapValues(_.rows).toMap == before)
  }

  test("transient extract failure is retried; rows applied exactly once") {
    val (wh, st) = (tmpDir("pl5-wh"), tmpDir("pl5-st"))
    val res = Resources.byName("orders")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky: (org.apache.spark.sql.SparkSession, ResourceDef, Option[String], Option[Int]) =>
        org.apache.spark.sql.DataFrame = { (s, r, wm, lim) =>
      if (attempts.incrementAndGet() == 1)
        throw new RuntimeException("simulated transient API failure")
      s.read.parquet(s"$sf/orders.parquet")
    }
    val summary = Pipeline.run(spark,
      cfg(wh, st, Seq(res)).copy(extract = Some(flaky), retryBackoffMs = 0L))
    assert(attempts.get() == 2, "attempt 1 fails, attempt 2 succeeds")
    val src = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(summary.reports.head.rows == src)
    assert(Pipeline.verify(spark, wh)("orders").rows == src, "no double-applied rows")
  }

  test("failure on every attempt propagates after retries are exhausted") {
    val (wh, st) = (tmpDir("pl6-wh"), tmpDir("pl6-st"))
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val broken: (org.apache.spark.sql.SparkSession, ResourceDef, Option[String], Option[Int]) =>
        org.apache.spark.sql.DataFrame = { (_, _, _, _) =>
      attempts.incrementAndGet(); throw new RuntimeException("still down")
    }
    intercept[RuntimeException] {
      Pipeline.run(spark, cfg(wh, st, Seq(Resources.byName("orders")))
        .copy(extract = Some(broken), retries = 2, retryBackoffMs = 0L))
    }
    assert(attempts.get() == 3, "initial attempt + 2 retries")
  }

  test("force_replace resets state and dispositions") {
    val (wh, st) = (tmpDir("pl3-wh"), tmpDir("pl3-st"))
    Pipeline.run(spark, cfg(wh, st))
    val summary = Pipeline.run(spark, cfg(wh, st).copy(forceReplace = true))
    assert(summary.reports.forall(_.mode == WriteMode.Replace))
    // full re-extraction after state reset
    assert(summary.reports.find(_.table == "orders").get.rows ==
      spark.read.parquet(s"$sf/orders.parquet").count())
  }

  test("testLimit caps extraction like IS_PRODUCTION=false") {
    val (wh, st) = (tmpDir("pl4-wh"), tmpDir("pl4-st"))
    val summary = Pipeline.run(spark,
      cfg(wh, st, Seq(Resources.byName("customer"))).copy(testLimit = Some(100)))
    assert(summary.reports.head.rows == 100)
  }

  test("extract sorts only under a LIMIT: no sort without one, the n earliest rows with one") {
    val res = Resources.byName("lineitem")
    val wm = "1995-01-01T00:00:00Z"
    val open = SObjectSource.extract(spark, sf, res, watermark = Some(wm))
    val plan = open.queryExecution.executedPlan.toString
    assert(!plan.linesIterator.exists(_.matches("""^\W*Sort \[.*""")), s"sorted extract:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"range exchange in extract:\n$plan")
    val after = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter("l_shipdate > timestamp'1995-01-01 00:00:00'")
    assert(open.count() == after.count())
    // with a limit: the n earliest rows by rk (ties on rk may pick any of
    // the tied rows, so compare the rk values)
    val n = 25
    def rks(d: DataFrame) = d.selectExpr("cast(l_shipdate AS string)").collect().map(_.getString(0))
    val limited = rks(SObjectSource.extract(spark, sf, res, watermark = Some(wm), limit = Some(n)))
    val earliest = rks(after.orderBy("l_shipdate").limit(n))
    assert(limited.length == n && limited.sorted.toSeq == earliest.toSeq)
  }

  test("a load whose write throws leaves no cached batch behind, retries included") {
    val (wh, st) = (tmpDir("pl9-wh"), tmpDir("pl9-st"))
    val res = Resources.byName("orders")
    Pipeline.run(spark, cfg(wh, st, Seq(res)))
    // o_custkey is BIGINT in the table: the ANSI cast of this text throws in
    // the write, after the batch was cached and aggregated
    val batches = new ConcurrentLinkedQueue[DataFrame]()
    val uncastable: Extract = { (s, r, _, _) =>
      val b = s.read.parquet(s"$sf/${r.name}.parquet")
        .withColumn("o_custkey", org.apache.spark.sql.functions.lit("not a number"))
      batches.add(b)
      b
    }
    intercept[Exception](Pipeline.run(spark, cfg(wh, st, Seq(res))
      .copy(extract = Some(uncastable), retries = 1, retryBackoffMs = 0L)))
    assert(batches.size == 2, "initial attempt + 1 retry")
    batches.forEach(b => assert(b.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "a failed attempt left its batch cached"))
    assert(new Warehouse(spark, wh).load("orders").count() == sourceRows("orders"))
  }

  test("describe dumps every config knob and auth strategy (dump_env_vars parity)") {
    val out = Pipeline.describe(cfg("whdir", "stdir").copy(testLimit = Some(7)))
    // every Config field present with its effective value
    Seq("sfDir", "warehouseDir", "stateDir", "resources", "forceReplace",
      "testLimit", "retries", "retryBackoffMs").foreach(k => assert(out.contains(k), k))
    assert(out.contains("whdir") && out.contains("= 7"))
    assert(out.contains("SALESFORCE_RESOURCES") && out.contains("force_replace"))
    // all six connector credential strategies, fields only — never values
    Seq("security_token", "organization_id", "instance", "consumer_key_secret",
      "jwt", "client_credentials").foreach(s => assert(out.contains(s"auth=$s"), s))
  }

  test("watermark store: monotone advance, atomic write, reset") {
    val st = new WatermarkStore(tmpDir("wm"))
    st.advance("r", "2024-01-01T00:00:00")
    st.advance("r", "2023-01-01T00:00:00") // smaller: no-op
    assert(st.get("r").contains("2024-01-01T00:00:00.000000"))
    st.advance("r", "2025-01-01T00:00:00")
    assert(st.get("r").contains("2025-01-01T00:00:00.000000"))
    st.reset()
    assert(st.get("r").isEmpty)
  }

  test("watermark store: Z-suffixed seed does not block same-second µs advance") {
    val st = new WatermarkStore(tmpDir("wm-z"))
    // externally seeded in the documented Z format (Resources.DefaultInitialWatermark)
    st.put("r", "2024-06-01T12:00:00Z")
    // a µs-format candidate in the SAME second: '.' < 'Z' lexicographically,
    // but temporally this is later and must advance
    st.advance("r", "2024-06-01T12:00:00.000500")
    assert(st.get("r").contains("2024-06-01T12:00:00.000500"))
    st.advance("r", "2024-06-01T12:00:00.000400") // earlier µs: no-op
    assert(st.get("r").contains("2024-06-01T12:00:00.000500"))
    // non-timestamp watermarks stay opaque strings
    st.put("k", "000123")
    st.advance("k", "000124")
    assert(st.get("k").contains("000124"))
  }

  test("watermark store: concurrent advances of distinct resources lose no update") {
    val dir = tmpDir("wm-par")
    val store = new WatermarkStore(dir)
    val go = new CountDownLatch(1)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { t =>
      new Thread(() =>
        try {
          go.await()
          (1 to 50).foreach(i => store.advance(s"r$t", f"2024-01-01T00:00:$i%02d"))
        } catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, s"advance failed: ${errors.peek()}")
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "watermarks.properties"))
    assert(lines.size == 8 && lines.stream().allMatch(_.matches("r\\d=[-0-9T:.]+")),
      s"torn watermark file: $lines")
    val reread = new WatermarkStore(dir)
    (0 until 8).foreach(t =>
      assert(reread.get(s"r$t").contains("2024-01-01T00:00:50.000000"), s"r$t lost its max"))
  }

  test("resources load concurrently: every resource's extract is in flight at once") {
    val (wh, st) = (tmpDir("pl7-wh"), tmpDir("pl7-st"))
    val rs = Seq("supplier", "orders", "lineitem", "events").map(Resources.byName)
    val allIn = new CountDownLatch(rs.size)
    val meet: Extract = { (s, r, wm, lim) =>
      allIn.countDown()
      if (!allIn.await(60, TimeUnit.SECONDS))
        throw new RuntimeException(s"${r.name}: sibling extracts never started")
      SObjectSource.extract(s, sf, r, watermark = wm, limit = lim)
    }
    val summary = Pipeline.run(spark, cfg(wh, st, rs).copy(extract = Some(meet), retries = 0))
    assert(summary.reports.map(_.table) == rs.map(_.name), "reports in declaration order")
    val counts = Pipeline.verify(spark, wh)
    rs.foreach { r =>
      assert(counts(r.name).rows == sourceRows(r.name), r.name)
      assert(summary.reports.find(_.table == r.name).get.rows == sourceRows(r.name), r.name)
    }
  }

  test("a failed resource keeps its watermark; its siblings still land; a re-run loads it once") {
    val (wh, st) = (tmpDir("pl8-wh"), tmpDir("pl8-st"))
    val rs = Seq("orders", "lineitem", "events").map(Resources.byName)
    val down = new AtomicBoolean(true)
    val lineitemDown: Extract = { (s, r, wm, lim) =>
      if (r.name == "lineitem" && down.get()) throw new RuntimeException("lineitem API down")
      SObjectSource.extract(s, sf, r, watermark = wm, limit = lim)
    }
    val c = cfg(wh, st, rs).copy(extract = Some(lineitemDown), retryBackoffMs = 0L)
    val err = intercept[RuntimeException](Pipeline.run(spark, c))
    assert(err.getMessage == "lineitem API down")

    val store = new WatermarkStore(st)
    val w = new Warehouse(spark, wh)
    val siblings = Seq("orders", "events")
    assert(!w.exists("lineitem") && store.get("lineitem").isEmpty,
      "the failed resource landed or advanced its watermark")
    siblings.foreach { t =>
      assert(w.load(t).count() == sourceRows(t), s"$t did not land")
      assert(store.get(t).nonEmpty, s"$t watermark did not advance")
    }
    val wmBefore = siblings.map(t => t -> store.get(t)).toMap

    down.set(false)
    val rerun = Pipeline.run(spark, c)
    assert(rerun.reports.map(_.table) == rs.map(_.name))
    assert(rerun.reports.find(_.table == "lineitem").get.rows == sourceRows("lineitem"))
    assert(w.load("lineitem").count() == sourceRows("lineitem"), "lineitem not loaded exactly once")
    assert(store.get("lineitem").nonEmpty)
    siblings.foreach { t =>
      assert(rerun.reports.find(_.table == t).get.rows == 0, s"$t re-extracted rows")
      assert(w.load(t).count() == sourceRows(t), s"$t changed on the re-run")
      assert(store.get(t) == wmBefore(t), s"$t watermark moved on the re-run")
    }
  }
}
