package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sink.Warehouse
import graft.model.{ResourceDef, WriteMode}

/** Write-disposition semantics against the reference contract
  * (FIXTURES.md §A fixture guidance; `salesforce_pipeline.py:75-176`):
  * replace = target equals last batch; merge = delete-by-PK then append all
  * incoming (dups included), null PKs append-never-match; schema conform on
  * write; snapshot versioning isolates readers.
  */
class WarehouseSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("Id", StringType),
    StructField("Amount", LongType),
    StructField("SystemModstamp", StringType)))

  private def df(rows: (String, Long, String)*) =
    spark.createDataFrame(
      rows.map(r => Row(r._1, r._2, r._3)).asJava, schema)

  test("append accumulates batches") {
    val wh = new Warehouse(spark, tmpDir("wh-append"))
    wh.append("t", df(("a", 1, "2024-01-01")))
    wh.append("t", df(("b", 2, "2024-01-02")))
    assert(wh.load("t").count() == 2)
  }

  test("replace leaves only the incoming batch") {
    val wh = new Warehouse(spark, tmpDir("wh-replace"))
    wh.replace("t", df(("a", 1, "2024-01-01"), ("b", 2, "2024-01-01")))
    wh.replace("t", df(("c", 3, "2024-01-02")))
    val out = wh.load("t").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("c"))
  }

  test("merge upserts by PK: existing replaced, new appended") {
    val wh = new Warehouse(spark, tmpDir("wh-merge"))
    wh.replace("t", df(("a", 1, "2024-01-01"), ("b", 2, "2024-01-01")))
    wh.merge("t", df(("b", 20, "2024-02-01"), ("c", 30, "2024-02-01")), Seq("Id"))
    val out = wh.load("t").orderBy("Id").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 20L), ("c", 30L)))
  }

  test("merge keeps reference semantics: in-batch duplicate PKs all appended") {
    val wh = new Warehouse(spark, tmpDir("wh-dup"))
    wh.replace("t", df(("a", 1, "2024-01-01")))
    wh.merge("t", df(("a", 2, "2024-02-01"), ("a", 3, "2024-02-02")), Seq("Id"))
    // delete-then-append-all (salesforce_pipeline.py:108-130,176): both rows land
    assert(wh.load("t").count() == 2)
  }

  test("mergeLatest keeps only the newest version per PK") {
    val wh = new Warehouse(spark, tmpDir("wh-latest"))
    wh.replace("t", df(("a", 1, "2024-01-01")))
    wh.mergeLatest("t", df(("a", 2, "2024-02-01"), ("a", 3, "2024-02-02")),
      Seq("Id"), "SystemModstamp")
    val out = wh.load("t").collect()
    assert(out.length == 1 && out.head.getLong(1) == 3)
  }

  test("merge with null PK: appended, never matches/deletes") {
    val wh = new Warehouse(spark, tmpDir("wh-null"))
    wh.replace("t", spark.createDataFrame(
      Seq(Row(null, 1L, "2024-01-01"), Row("a", 2L, "2024-01-01")).asJava, schema))
    wh.merge("t", spark.createDataFrame(
      Seq(Row(null, 10L, "2024-02-01")).asJava, schema), Seq("Id"))
    // target null-PK row kept + target "a" kept + incoming null row appended = 3
    assert(wh.load("t").count() == 3)
  }

  test("merge without PKs in schema falls back to append") {
    val wh = new Warehouse(spark, tmpDir("wh-guard"))
    wh.replace("t", df(("a", 1, "2024-01-01")))
    wh.merge("t", df(("a", 2, "2024-02-01")), Seq("NotAColumn"))
    assert(wh.load("t").count() == 2) // appended, nothing deleted
  }

  test("schema conform on write: extra dropped, missing null-filled, target wins") {
    val wh = new Warehouse(spark, tmpDir("wh-conform"))
    wh.replace("t", df(("a", 1, "2024-01-01")))
    val extra = spark.createDataFrame(
      Seq(Row("b", "surprise")).asJava,
      StructType(Seq(StructField("Id", StringType), StructField("NewCol", StringType))))
    wh.append("t", extra)
    val out = wh.load("t")
    assert(out.schema.fieldNames.toSeq == Seq("Id", "Amount", "SystemModstamp"))
    assert(out.where(out("Id") === "b").head().isNullAt(1))
  }

  test("snapshot versions advance and old snapshots stay readable") {
    val wh = new Warehouse(spark, tmpDir("wh-ver"))
    val v0 = wh.replace("t", df(("a", 1, "2024-01-01")))
    val before = wh.load("t") // lazy plan over v0
    val v1 = wh.replace("t", df(("b", 2, "2024-02-01")))
    assert(v1 == v0 + 1)
    // read-modify-write never clobbered the snapshot the old plan points at
    assert(before.collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(wh.listTables() == Seq("t"))
  }

  // --- manifest-snapshot scale contract -----------------------------------

  /** (relative path, size, first+last bytes) of every data file of a table —
    * enough to detect any rewrite without hashing whole files.
    */
  private def fileFingerprints(root: String, table: String): Map[String, (Long, Long)] = {
    val td = java.nio.file.Paths.get(root, table)
    val s = java.nio.file.Files.walk(td)
    try {
      val b = Map.newBuilder[String, (Long, Long)]
      s.iterator().asScala.foreach { p =>
        if (p.getFileName.toString.endsWith(".parquet")) {
          val bytes = java.nio.file.Files.readAllBytes(p)
          b += td.relativize(p).toString -> (bytes.length.toLong, bytes.map(_.toLong).sum)
        }
      }
      b.result()
    } finally s.close()
  }

  test("append is O(batch): prior data files untouched, only new files added") {
    val dir = tmpDir("wh-obatch")
    val wh = new Warehouse(spark, dir)
    wh.append("t", df(("a", 1, "2024-01-01"), ("b", 2, "2024-01-01")))
    val before = fileFingerprints(dir, "t")
    assert(before.nonEmpty)
    wh.append("t", df(("c", 3, "2024-02-01")))
    val after = fileFingerprints(dir, "t")
    // every pre-existing data file is still present and byte-identical
    before.foreach { case (path, fp) => assert(after.get(path).contains(fp), s"rewritten: $path") }
    // and something new was added (the batch's files only)
    assert(after.size > before.size)
    assert(wh.load("t").count() == 3)
  }

  test("merge prunes by PK stats: disjoint files carried over byte-identical") {
    val dir = tmpDir("wh-prune")
    val wh = new Warehouse(spark, dir)
    // two appends with disjoint PK ranges → separate data files with stats
    wh.append("t", df(("a1", 1, "2024-01-01"), ("a2", 2, "2024-01-01")), Seq("Id"))
    val lowRange = fileFingerprints(dir, "t")
    wh.append("t", df(("z1", 3, "2024-01-02"), ("z2", 4, "2024-01-02")), Seq("Id"))
    // merge touching only the z-range: a-range files must not be rewritten
    wh.merge("t", df(("z1", 30, "2024-02-01")), Seq("Id"))
    val after = fileFingerprints(dir, "t")
    lowRange.foreach { case (path, fp) => assert(after.get(path).contains(fp), s"rewritten: $path") }
    val out = wh.load("t").orderBy("Id").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a1", 1L), ("a2", 2L), ("z1", 30L), ("z2", 4L)))
    // the current manifest records PK stats for every file
    assert(wh.dataFiles("t").forall(_.stats.contains("Id")))
  }

  test("compact bin-packs small files into one; data identical, history intact") {
    val wh = new Warehouse(spark, tmpDir("wh-compact"))
    (0 until 6).foreach { b =>
      wh.append("t", df((s"k$b", b.toLong, "2024-01-01")).repartition(1), Seq("Id"))
    }
    assert(wh.dataFiles("t").size == 6)
    val vBefore = wh.currentVersion("t")
    val before = wh.load("t").orderBy("Id").collect().toSeq

    wh.compact("t", targetBytes = 128L << 20, sortBy = Seq("Id"))
    assert(wh.dataFiles("t").size == 1, s"${wh.dataFiles("t").size} files after compact")
    assert(wh.load("t").orderBy("Id").collect().toSeq == before)
    // stats recollected on the packed file (merge pruning keeps working)
    assert(wh.dataFiles("t").forall(_.stats.contains("Id")))
    // pre-compaction snapshot still readable (time travel)
    assert(wh.loadVersion("t", vBefore).count() == 6)
    // second compact is a no-op (fewer than two small files)
    val v = wh.currentVersion("t")
    assert(wh.compact("t") == v)
  }

  test("clustered writes produce files with disjoint key ranges") {
    val wh = new Warehouse(spark, tmpDir("wh-cluster"))
    // one shuffled 400-row batch over 4 partitions, clustered on Amount
    val rows = scala.util.Random.shuffle((0 until 400).toList)
      .map(i => Row(s"id$i", i.toLong, "2024-01-01"))
    val batch = spark.createDataFrame(rows.asJava, schema).repartition(4)
    // AQE would rightly coalesce 400 tiny rows into one partition, and the
    // small-batch single-file arm would rightly skip the distribution
    // exchange outright; pin both off so the range partitioning is
    // observable at toy scale
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.graft.write.smallBatchBytes", "0")
    try wh.replace("t", batch, clusterBy = Seq("Amount"))
    finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.unset("spark.graft.write.smallBatchBytes")
    }
    val files = wh.dataFiles("t")
    assert(files.size > 1, "expected multiple range-partitioned files")
    val ranges = files.map { f =>
      val st = f.stats("Amount"); (BigDecimal(st.min), BigDecimal(st.max))
    }.sortBy(_._1)
    // tight, non-overlapping bounds: each file's min exceeds the previous max
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(lo > hi, s"overlapping file ranges: $ranges")
      case _ =>
    }
    assert(wh.load("t").count() == 400)
  }

  test("expireSnapshots drops old versions and GCs unreferenced files") {
    val dir = tmpDir("wh-expire")
    val wh = new Warehouse(spark, dir)
    wh.replace("t", df(("a", 1, "2024-01-01")))            // v0 (files orphaned by v1)
    wh.replace("t", df(("b", 2, "2024-02-01")))            // v1
    wh.append("t", df(("c", 3, "2024-03-01")))             // v2
    assert(wh.history("t") == Seq(0L, 1L, 2L))
    wh.expireSnapshots("t", keepLast = 2)
    assert(wh.history("t") == Seq(1L, 2L))
    intercept[IllegalArgumentException](wh.loadVersion("t", 0))
    // v0's data files are gone; v1/v2 data intact
    assert(!fileFingerprints(dir, "t").keySet.exists(_.startsWith("d0")))
    assert(wh.load("t").orderBy("Id").collect().map(_.getString(0)).toSeq == Seq("b", "c"))
    assert(wh.loadVersion("t", 1).count() == 1)
  }

  test("expireSnapshots sweeps aged orphans even when nothing expires") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("wh-orphan")
    val wh = new Warehouse(spark, dir)
    wh.replace("t", df(("a", 1, "2024-01-01")))
    // fake a losing racing writer's attempt dir: parquet referenced nowhere
    val orphanDir = Paths.get(dir, "t", "d9b-deadbeef")
    Files.createDirectories(orphanDir)
    val f = orphanDir.resolve("part-000.parquet")
    Files.writeString(f, "junk")
    // fresh orphan survives the grace period (could be an in-flight writer)
    wh.expireSnapshots("t", keepLast = 5)
    assert(Files.exists(f))
    // aged orphan is swept, dir and all, with no snapshot expired
    Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(1000))
    wh.expireSnapshots("t", keepLast = 5)
    assert(!Files.exists(orphanDir))
    assert(wh.load("t").count() == 1)
  }

  test("empty batch append commits a snapshot without new data") {
    val wh = new Warehouse(spark, tmpDir("wh-empty"))
    wh.replace("t", df(("a", 1, "2024-01-01")))
    val v = wh.append("t", df().limit(0))
    assert(v == 1 && wh.load("t").count() == 1)
    // empty table from scratch still loads with its schema
    val wh2 = new Warehouse(spark, tmpDir("wh-empty2"))
    wh2.replace("e", df().limit(0))
    assert(wh2.load("e").count() == 0 && wh2.load("e").schema.fieldNames.nonEmpty)
  }

  test("merge above the broadcast gate degrades to sort-merge anti-join, same results") {
    val batch = df(("a", 10, "2024-02-01"), ("b", 20, "2024-02-01"), ("c", 30, "2024-02-01"))
    val dirB = tmpDir("wh-gate-b")
    val dirS = tmpDir("wh-gate-s")
    val whB = new Warehouse(spark, dirB)                          // broadcast path
    val whS = new Warehouse(spark, dirS, mergeBroadcastMaxKeys = 1) // SMJ path
    Seq(whB, whS).foreach(_.replace("t", df(("a", 1, "2024-01-01"), ("x", 2, "2024-01-01"))))
    val broadcastPlans = mergePlans(whB, dirB, batch)
    val smjPlans = mergePlans(whS, dirS, batch)
    assert(broadcastPlans.exists(antiJoinLine(_, "BroadcastHashJoin")))
    assert(smjPlans.exists(antiJoinLine(_, "SortMergeJoin")),
      s"expected an SMJ anti-join above the gate; got:\n${smjPlans.mkString("\n---\n")}")
    assert(!smjPlans.exists(antiJoinLine(_, "BroadcastHashJoin")))
    // both paths produce identical tables
    assert(whB.load("t").orderBy("Id").collect().toSeq ==
      whS.load("t").orderBy("Id").collect().toSeq)
    assert(whS.load("t").orderBy("Id").collect().map(_.getString(0)).toSeq ==
      Seq("a", "b", "c", "x"))
  }

  test("merge gate counts batch rows: duplicate PKs above the gate take the sort-merge path") {
    // 2 distinct keys in 3 rows; the gate sits between them, so the raw key
    // tuples (what a broadcast would ship) are over it
    val batch = df(("a", 10, "2024-02-01"), ("a", 11, "2024-02-02"), ("b", 20, "2024-02-01"))
    val dirB = tmpDir("wh-dupgate-b")
    val dirS = tmpDir("wh-dupgate-s")
    val whB = new Warehouse(spark, dirB)
    val whS = new Warehouse(spark, dirS, mergeBroadcastMaxKeys = 2)
    Seq(whB, whS).foreach(_.replace("t", df(("a", 1, "2024-01-01"), ("x", 2, "2024-01-01"))))
    val broadcastPlans = mergePlans(whB, dirB, batch)
    val smjPlans = mergePlans(whS, dirS, batch)
    assert(broadcastPlans.exists(antiJoinLine(_, "BroadcastHashJoin")))
    assert(smjPlans.exists(antiJoinLine(_, "SortMergeJoin")),
      s"expected an SMJ anti-join above the gate; got:\n${smjPlans.mkString("\n---\n")}")
    assert(!smjPlans.exists(antiJoinLine(_, "BroadcastHashJoin")))
    val rows = whS.load("t").orderBy("Id", "Amount").collect().toSeq
    assert(whB.load("t").orderBy("Id", "Amount").collect().toSeq == rows)
    assert(rows.map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("a", 10L), ("a", 11L), ("b", 20L), ("x", 2L)))
  }

  /** Runs `wh.merge` of `batch` on `Id` and returns the executed plans of
    * the jobs it ran. AQE is off: at toy scale it would rightly re-broadcast
    * the tiny key set at runtime, and the static plan choice is what the
    * gate controls.
    */
  private def mergePlans(wh: Warehouse, dir: String,
                         batch: org.apache.spark.sql.DataFrame): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(listener)
    try {
      // suites share one session and may run concurrently, so the captured
      // plans are filtered to THIS warehouse dir (the merge anti-join plan
      // scans files under it)
      wh.merge("t", batch, Seq("Id"))
      drainPlans(plans, dir)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  /** Node-level check: the lineage-carry rewrite legitimately contains a
    * broadcast INNER join (the per-file id bases) in the same plan, so the
    * anti-join's strategy must be read off its own operator line.
    */
  private def antiJoinLine(p: String, op: String): Boolean =
    p.linesIterator.exists(l => l.contains(op) && l.contains("LeftAnti"))

  /** A lineage-carrying merge over a table of `rows` wide rows (each with a
    * 128-char hex payload), keyed and clustered on `k`, whose batch bounds
    * span every file. Returns the victims' parquet bytes and the number of
    * files the victim rewrite wrote.
    */
  private def wideMergeRewrite(dir: String, rows: Int): (Long, Int) = {
    import java.nio.file.{Files, Paths}
    val wh = new Warehouse(spark, dir)
    def wide(ids: org.apache.spark.sql.Dataset[_]) = ids.selectExpr("id AS k",
      "concat(sha2(cast(id AS string), 256), sha2(cast(id * 7 AS string), 256)) AS payload")
    wh.replace("t", wide(spark.range(rows)), clusterBy = Seq("k"))
    val victims = wh.dataFiles("t")
    assert(victims.forall(_.firstRowId >= 0), "expected a lineage-carrying table")
    val victimBytes = victims.map(f => Files.size(Paths.get(dir, "t", f.path))).sum
    val v = wh.merge("t", wide(spark.range(0, rows, rows / 4)), Seq("k"), clusterBy = Seq("k"))
    assert(wh.load("t").count() == rows)
    (victimBytes, wh.dataFiles("t").count(_.path.startsWith(s"d${v}r-")))
  }

  test("a lineage-carrying merge rewrite over 2 MB of victims is sized from its scan: one file") {
    val (victimBytes, rewriteFiles) = wideMergeRewrite(tmpDir("wh-wide1"), 40000)
    assert(victimBytes >= (2L << 20), s"victims hold only $victimBytes bytes")
    assert(rewriteFiles == 1, s"rewrite wrote $rewriteFiles files")
  }

  test("smallBatchBytes=0 still distributes a lineage-carrying merge rewrite") {
    spark.conf.set("spark.graft.write.smallBatchBytes", "0")
    val (victimBytes, rewriteFiles) =
      try wideMergeRewrite(tmpDir("wh-wide0"), 40000)
      finally spark.conf.unset("spark.graft.write.smallBatchBytes")
    assert(victimBytes >= (2L << 20), s"victims hold only $victimBytes bytes")
    assert(rewriteFiles > 1, s"rewrite wrote $rewriteFiles file(s) with the gate off")
  }

  /** QueryExecutionListener delivery is async (listener bus): wait for THIS
    * test's anti-join plan (marker = its warehouse dir, which appears in
    * the scan locations) to land, then drain. Plans of concurrently running
    * suites are dropped — the shared session delivers theirs too.
    */
  private def drainPlans(q: java.util.concurrent.ConcurrentLinkedQueue[String],
                         marker: String): Seq[String] = {
    val deadline = System.currentTimeMillis() + 10000
    def mine = q.iterator().asScala.filter(_.contains(marker)).toSeq
    while (System.currentTimeMillis() < deadline &&
      !mine.exists(_.contains("LeftAnti"))) Thread.sleep(50)
    Thread.sleep(100) // let stragglers land
    val out = mine
    q.clear()
    out
  }

  test("streaming ledger: O(batch) segment appends, compaction folds, union intact") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("wh-ledger")
    val wh = new Warehouse(spark, dir)
    wh.replace("t", df(("a", 1, "2024-01-01")))
    def segCount = {
      val d = Paths.get(dir, "t", "_stream_files_s1")
      if (!Files.isDirectory(d)) 0
      else Files.list(d).iterator().asScala.count(_.getFileName.toString.startsWith("seg-"))
    }
    wh.recordFiles("t", "s1", Seq("f1", "f2"))
    wh.recordFiles("t", "s1", Seq("f3"))
    wh.recordFiles("t", "s1", Seq("f3", "f4")) // overlap across segments is fine
    assert(segCount == 3, "each batch appends ONE segment (O(batch) commit)")
    assert(wh.loadedFiles("t", "s1") == Set("f1", "f2", "f3", "f4"))
    // push past the compaction threshold: ledger folds, content preserved
    (5 to 70).foreach(i => wh.recordFiles("t", "s1", Seq(s"f$i")))
    assert(segCount <= 65, s"ledger never folded: $segCount segments")
    assert(wh.loadedFiles("t", "s1") == (1 to 70).map(i => s"f$i").toSet)
  }

  test("merge is idempotent: same batch twice == once") {
    val wh1 = new Warehouse(spark, tmpDir("wh-idem1"))
    val wh2 = new Warehouse(spark, tmpDir("wh-idem2"))
    val batch = df(("a", 5, "2024-03-01"), ("b", 6, "2024-03-01"))
    wh1.replace("t", df(("a", 1, "2024-01-01")))
    wh2.replace("t", df(("a", 1, "2024-01-01")))
    wh1.merge("t", batch, Seq("Id"))
    wh2.merge("t", batch, Seq("Id"))
    wh2.merge("t", batch, Seq("Id"))
    val a = wh1.load("t").orderBy("Id").collect().toSeq
    val b = wh2.load("t").orderBy("Id").collect().toSeq
    assert(a == b)
  }
}
