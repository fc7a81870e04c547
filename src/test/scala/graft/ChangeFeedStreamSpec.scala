package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sink.{IncrementalRollup, Warehouse}
import graft.streaming.ChangeFeedStream

/** The change feed as a streaming source (`ChangeFeedStream`): a durable
  * version-ledger loop over `Warehouse.readChanges` delivering each
  * commit's +I/-D rows once, in contiguous gapless windows, across
  * restarts — and the two downstream materializations it feeds (a
  * merge-maintained mirror table and a retraction-aware CDC rollup).
  */
class ChangeFeedStreamSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("g", StringType),
    StructField("v", DecimalType(10, 2))))

  private def kv(rows: (Long, String, String)*) = spark.createDataFrame(
    rows.map(r => Row(r._1, r._2, new java.math.BigDecimal(r._3))).asJava, schema)

  private def bag(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Scripted multi-commit history over a pk-keyed fact table: append,
    * morMerge upsert, positional delete, compaction (row-preserving),
    * copy-on-write delete, append.
    */
  private def runHistory(wh: Warehouse, poll: () => Unit): Unit = {
    wh.create("fact", schema)                                    // v0 empty
    wh.append("fact", kv((1L, "a", "1.00"), (2L, "a", "2.00"), (3L, "b", "3.00"),
      (4L, "b", "4.00"), (5L, "c", "5.00"), (6L, "c", "6.00")), statsCols = Seq("k"))
    poll()
    wh.morMerge("fact", kv((2L, "a", "22.00"), (7L, "c", "7.00")), Seq("k"))
    wh.positionDelete("fact", col("k") === 3L)
    poll()
    wh.compact("fact")
    wh.deleteWhere("fact", col("k") >= 6L)
    wh.append("fact", kv((8L, "b", "8.00")), statsCols = Seq("k"))
    poll()
  }

  test("incremental windows are contiguous and fold to the one-shot readChanges(0, head)") {
    val root = tmpDir("cfs-fold")
    val wh = new Warehouse(spark, root)
    val windows = collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var plus: Option[DataFrame] = None
    var minus: Option[DataFrame] = None
    def deliver(): Unit = ChangeFeedStream.poll(wh, "fact", "folder") { (ch, from, to) =>
      windows += ((from, to))
      val p = ch.filter(col("_change_type") === "+I").drop("_change_type").localCheckpoint()
      val m = ch.filter(col("_change_type") === "-D").drop("_change_type").localCheckpoint()
      plus = Some(plus.map(_.unionAll(p)).getOrElse(p))
      minus = Some(minus.map(_.unionAll(m)).getOrElse(m))
    }
    runHistory(wh, deliver _)
    val head = wh.currentVersion("fact")
    // contiguous, gapless, non-overlapping — starting at v0
    assert(windows.head._1 == 0L && windows.last._2 == head)
    assert(windows.sliding(2).forall { case Seq((_, a), (b, _)) => a == b; case _ => true })
    // an extra poll with no new commits delivers NOTHING (and doesn't move)
    val before = windows.size
    deliver()
    assert(windows.size == before)
    // net fold of all windows == one-shot feed: accPlus − accMinus ≡
    // onePlus − oneMinus as bags ⇔ accPlus ∪ oneMinus ≡ accMinus ∪ onePlus
    val one = wh.readChanges("fact", 0L, head).localCheckpoint()
    val onePlus = one.filter(col("_change_type") === "+I").drop("_change_type")
    val oneMinus = one.filter(col("_change_type") === "-D").drop("_change_type")
    val lhs = plus.get.unionAll(oneMinus)
    val rhs = minus.get.unionAll(onePlus)
    assert(lhs.exceptAll(rhs).isEmpty && rhs.exceptAll(lhs).isEmpty,
      "incremental windows must net to the one-shot change feed")
  }

  test("mirror: downstream copy converges to the source snapshot at every poll") {
    val root = tmpDir("cfs-mirror")
    val wh = new Warehouse(spark, root)
    def sync(): Unit = {
      val cur = ChangeFeedStream.mirror(wh, "fact", "copy", Seq("k"), "mirrorer")
      val want = bag(wh.loadVersion("fact", cur))
      val got = bag(wh.load("copy"))
      assert(got == want, s"mirror at v$cur:\n  copy: $got\n  fact: $want")
    }
    runHistory(wh, sync _)
    // late extra sync is a no-op and still converged
    sync()
    assert(bag(wh.load("copy")) == bag(wh.load("fact")))
  }

  test("crash re-delivery: a failed apply re-delivers the SAME window; a rebuilt caller re-delivers nothing") {
    val root = tmpDir("cfs-crash")
    val wh = new Warehouse(spark, root)
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "1.00")), statsCols = Seq("k"))
    // apply crashes AFTER seeing the window: cursor must not advance
    val seen = collection.mutable.ArrayBuffer.empty[(Long, Long, Seq[Seq[Any]])]
    intercept[RuntimeException] {
      ChangeFeedStream.poll(wh, "fact", "crasher") { (ch, from, to) =>
        seen += ((from, to, bag(ch)))
        throw new RuntimeException("boom")
      }
    }
    assert(ChangeFeedStream.cursor(wh, "fact", "crasher") == -1L)
    // retry: same bounds, same rows (snapshots are immutable)
    ChangeFeedStream.poll(wh, "fact", "crasher") { (ch, from, to) =>
      seen += ((from, to, bag(ch)))
    }
    assert(seen.size == 2 && seen(0) == seen(1), s"re-delivery must be identical: $seen")
    // a "rebuilt" consumer (no in-memory state exists at all — the cursor is
    // the warehouse ledger) re-delivers nothing
    var called = false
    ChangeFeedStream.poll(wh, "fact", "crasher") { (_, _, _) => called = true }
    assert(!called && ChangeFeedStream.cursor(wh, "fact", "crasher") == 1L)
  }

  test("seek: a late consumer starts at the chosen version and only sees later commits") {
    val root = tmpDir("cfs-seek")
    val wh = new Warehouse(spark, root)
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "1.00")), statsCols = Seq("k"))   // v1
    ChangeFeedStream.seek(wh, "fact", "late", wh.currentVersion("fact"))
    wh.append("fact", kv((2L, "b", "2.00")), statsCols = Seq("k"))   // v2
    var got: Seq[Seq[Any]] = Nil
    ChangeFeedStream.poll(wh, "fact", "late") { (ch, from, to) =>
      assert(from == 1L && to == 2L)
      got = bag(ch.drop("_change_type"))
    }
    assert(got == bag(kv((2L, "b", "2.00"))))
  }

  test("mirror follows the fact's schema evolution: rename keeps values, add/drop replay") {
    val root = tmpDir("cfs-evolve")
    val wh = new Warehouse(spark, root)
    def sync(): Long = ChangeFeedStream.mirror(wh, "fact", "copy", Seq("k"), "evolver")
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "1.00"), (2L, "b", "2.00")), statsCols = Seq("k"))
    sync()
    // rename mid-stream: the copy must RENAME too — values carried, not nulled
    wh.renameColumn("fact", "v", "amount")
    wh.morMerge("fact", spark.createDataFrame(Seq(
      Row(3L, "c", new java.math.BigDecimal("3.00"))).asJava,
      StructType(Seq(StructField("k", LongType), StructField("g", StringType),
        StructField("amount", DecimalType(10, 2))))), Seq("k"))
    sync()
    assert(wh.load("copy").columns.toSeq == Seq("k", "g", "amount"))
    assert(bag(wh.load("copy")) == bag(wh.load("fact")))
    assert(wh.load("copy").filter(col("amount").isNull).count() == 0,
      "renamed column values must carry through the mirror, not null out")
    // add + drop mid-stream replay too
    wh.addColumns("fact", Seq(StructField("note", StringType)))
    wh.dropColumn("fact", "g")
    wh.append("fact", spark.createDataFrame(Seq(
      Row(4L, new java.math.BigDecimal("4.00"), "hi")).asJava,
      StructType(Seq(StructField("k", LongType),
        StructField("amount", DecimalType(10, 2)), StructField("note", StringType)))),
      statsCols = Seq("k"))
    sync()
    assert(wh.load("copy").columns.toSeq == wh.load("fact").columns.toSeq)
    assert(bag(wh.load("copy")) == bag(wh.load("fact")))
  }

  test("mirror evolution is crash-resumable: a stranded mid-rename temp completes on re-delivery") {
    val root = tmpDir("cfs-evolve-crash")
    val wh = new Warehouse(spark, root)
    def sync(): Long = ChangeFeedStream.mirror(wh, "fact", "copy", Seq("k"), "crasher")
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "1.00"), (2L, "b", "2.00")), statsCols = Seq("k"))
    sync()
    wh.renameColumn("fact", "v", "amount")
    wh.append("fact", spark.createDataFrame(Seq(
      Row(3L, "c", new java.math.BigDecimal("3.00"))).asJava,
      StructType(Seq(StructField("k", LongType), StructField("g", StringType),
        StructField("amount", DecimalType(10, 2))))), statsCols = Seq("k"))
    // simulate a crash BETWEEN the two rename phases of the window's
    // evolution replay: phase 1 (old -> target-derived temp) committed on
    // the copy, then the process died before phase 2 — and before the
    // cursor advanced, so the window re-delivers
    val temp = "__cfs_ren_" + "amount".getBytes("UTF-8").map("%02x".format(_)).mkString
    wh.renameColumn("copy", "v", temp)
    sync() // re-delivery must COMPLETE the rename, not strand the temp
    assert(wh.load("copy").columns.toSeq == Seq("k", "g", "amount"),
      s"stranded temp: ${wh.load("copy").columns.toSeq}")
    assert(bag(wh.load("copy")) == bag(wh.load("fact")))
    assert(wh.load("copy").filter(col("amount").isNull).count() == 0,
      "pre-window rows must keep their values through the resumed rename")
  }

  test("mirror evolution: a window combining DROP b with RENAME a TO b replays (drops first)") {
    val root = tmpDir("cfs-evolve-reuse")
    val wh = new Warehouse(spark, root)
    def sync(): Long = ChangeFeedStream.mirror(wh, "fact", "copy", Seq("k"), "reuser")
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "1.00"), (2L, "b", "2.00")), statsCols = Seq("k"))
    sync()
    // one WINDOW spanning both commits: drop g, then rename v -> g
    wh.dropColumn("fact", "g")
    wh.renameColumn("fact", "v", "g")
    wh.append("fact", spark.createDataFrame(Seq(
      Row(3L, new java.math.BigDecimal("3.00"))).asJava,
      StructType(Seq(StructField("k", LongType), StructField("g", DecimalType(10, 2))))),
      statsCols = Seq("k"))
    sync()
    assert(wh.load("copy").columns.toSeq == Seq("k", "g"))
    assert(bag(wh.load("copy")) == bag(wh.load("fact")))
    assert(wh.load("copy").filter(col("g").isNull).count() == 0,
      "renamed-onto-reused-name values must carry, not null out")
  }

  test("CDC rollup: count/sum maintained exactly across upserts, deletes and compaction") {
    val root = tmpDir("cfs-rollup")
    val wh = new Warehouse(spark, root)
    val spec = IncrementalRollup.Spec(Seq("g"), Seq(
      IncrementalRollup.CountStar("n"),
      IncrementalRollup.SumOf(col("v"), "sv")))
    def sync(): Unit = {
      ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "roller")
      // fully-retracted groups fold to n=0 rows (the retraction-stream
      // artifact); live groups must match the direct aggregate exactly
      val got = bag(IncrementalRollup.read(wh, "roll", spec).filter(col("n") =!= 0L))
      val want = bag(wh.load("fact").groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv")))
      assert(got == want, s"rollup:\n  got:  $got\n  want: $want")
    }
    runHistory(wh, sync _)
    // replayed maintenance call is a no-op (version-keyed ledger guard)
    val v = wh.currentVersion("roll")
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "roller")
    assert(wh.currentVersion("roll") == v)
  }

  test("CDC rollup + min/max: a tick never rescans; the pending drain recomputes ONLY marked groups") {
    val wh = new Warehouse(spark, tmpDir("cfs-mm"))
    val spec = IncrementalRollup.Spec(Seq("g"), Seq(
      IncrementalRollup.CountStar("n"),
      IncrementalRollup.MinOf(col("v"), "lo"),
      IncrementalRollup.MaxOf(col("v"), "hi")))
    def direct() = bag(wh.load("fact").groupBy("g")
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi")))
    def folded() = bag(IncrementalRollup.read(wh, "roll", spec).filter(col("n") =!= 0L))
    val pend = ChangeFeedStream.pendingTable("roll")

    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "1.00"), (2L, "a", "9.00"), (3L, "b", "5.00")),
      statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "mm")
    assert(folded() == direct())

    // INSIDE-bounds delete (a:5 is not an extreme): exact with NO pending
    wh.append("fact", kv((4L, "a", "5.00")), statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "mm")
    wh.deleteWhere("fact", col("k") === 4L)
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "mm")
    assert(!wh.exists(pend) || wh.load(pend).count() == 0L,
      "inside-bounds delete must not mark the group pending")
    assert(folded() == direct())

    // delete group a's MAX: the tick marks a pending and appends O(window)
    // partials WITHOUT rescanning — the folded hi stays (documented) STALE
    // until the drain, which is the proof the tick deferred
    wh.deleteWhere("fact", col("k") === 2L)
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "mm")
    assert(wh.load(pend).count() == 1L, "tie-gated delete must mark exactly one group")
    val staleHi = IncrementalRollup.read(wh, "roll", spec)
      .filter(col("g") === "a").collect().head.getAs[java.math.BigDecimal]("hi")
    assert(staleHi.doubleValue() == 9.0, s"tick must NOT rescan (hi stays stale): $staleHi")
    val bRows = wh.load("roll").filter(col("g") === "b").count()

    // the drain recomputes ONLY the marked group at the covered version
    val drained = ChangeFeedStream.drainPendingExtremes(wh, "fact", "roll", spec)
    assert(drained == 1L)
    assert(folded() == direct(), s"drained fold:\n  got ${folded()}\n  want ${direct()}")
    assert(wh.load("roll").filter(col("g") === "a").count() == 1L,
      "marked group consolidates to one recomputed row")
    assert(wh.load("roll").filter(col("g") === "b").count() == bRows,
      "unmarked group's fold history untouched by the drain")
    assert(wh.load(pend).count() == 0L, "drain clears the pending set")

    // re-drain is a no-op; the next tick resumes exactly
    assert(ChangeFeedStream.drainPendingExtremes(wh, "fact", "roll", spec) == 0L)
    wh.append("fact", kv((5L, "a", "7.00")), statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "mm")
    assert(folded() == direct())
  }

  test("drain of a fully-deleted group never regresses the replay watermark") {
    // REGRESSION (round-17 advice): a pending group with NO surviving fact
    // rows retracts its fold history with no replacement row; when the
    // covered version rode those rows (a stat-bound marker), it regressed
    // and a crash-replayed tick re-applied the covered window's signed
    // partials. The covered version is a mark on the rollup's root now,
    // which the drain's commits carry forward.
    val wh = new Warehouse(spark, tmpDir("cfs-wm"))
    val spec = IncrementalRollup.Spec(Seq("g"), Seq(
      IncrementalRollup.CountStar("n"), IncrementalRollup.MaxOf(col("v"), "hi")))
    def direct() = bag(wh.load("fact").groupBy("g")
      .agg(count(lit(1)).as("n"), max(col("v")).as("hi")))
    def folded() = bag(IncrementalRollup.read(wh, "roll", spec).filter(col("n") =!= 0L))
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "5.00"), (2L, "b", "1.00")), statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "wm")
    // delete group a's ONLY row (it IS the extreme → tie-gated pending);
    // this window's partials are group a's alone, and the drain will
    // retract every one of them
    wh.deleteWhere("fact", col("k") === 1L)
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "wm")
    assert(ChangeFeedStream.drainPendingExtremes(wh, "fact", "roll", spec) == 1L)
    assert(folded() == direct(), "drained state exact")
    // crash replay: cursor lost → wide re-delivery (0, head]; a regressed
    // covered version would re-apply group a's -1 partial (folded a = -1)
    ChangeFeedStream.seek(wh, "fact", "wm", 0L)
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "wm")
    assert(folded() == direct(),
      s"replayed tick double-applied a covered window:\n  got ${folded()}\n  want ${direct()}")
    // and the stream keeps tracking afterwards
    wh.append("fact", kv((3L, "a", "2.00")), statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "wm")
    assert(folded() == direct())
  }

  test("maintainRollup(drainEvery=N): N delivering ticks then auto-drain; idle when nothing pends") {
    val wh = new Warehouse(spark, tmpDir("cfs-auto"))
    val spec = IncrementalRollup.Spec(Seq("g"), Seq(
      IncrementalRollup.CountStar("n"), IncrementalRollup.MaxOf(col("v"), "hi")))
    def direct() = bag(wh.load("fact").groupBy("g")
      .agg(count(lit(1)).as("n"), max(col("v")).as("hi")))
    def folded() = bag(IncrementalRollup.read(wh, "roll", spec).filter(col("n") =!= 0L))
    val pend = ChangeFeedStream.pendingTable("roll")
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "5.00"), (2L, "a", "1.00")), statsCols = Seq("k"))
    // tick 1 (delivering, nothing pending): no drain work
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "au", drainEvery = 2)
    // delete the extreme → tick 2 marks pending AND (cadence hit) auto-drains
    wh.deleteWhere("fact", col("k") === 1L)
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "au", drainEvery = 2)
    assert(wh.load(pend).count() == 0L, "cadence tick must auto-drain the pending set")
    assert(folded() == direct(), s"auto-drained fold:\n  got ${folded()}\n  want ${direct()}")
    // off-cadence tick with pending: marks but does NOT drain (tick stays O(window))
    wh.append("fact", kv((3L, "a", "9.00")), statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "au", drainEvery = 2)
    wh.deleteWhere("fact", col("k") === 3L)
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "au", drainEvery = 3)
    assert(wh.load(pend).count() == 1L, "off-cadence tick must defer the drain")
    // a non-delivering call never advances the cadence
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "au", drainEvery = 3)
    assert(wh.load(pend).count() == 1L)
    // next delivering tick on cadence drains
    wh.append("fact", kv((4L, "b", "2.00")), statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "au", drainEvery = 1)
    assert(wh.load(pend).count() == 0L)
    assert(folded() == direct())
  }

  test("maintainRollup(drainEvery=1): a call that delivers nothing after a drain runs no Spark job") {
    val wh = new Warehouse(spark, tmpDir("cfs-idle"))
    val spec = IncrementalRollup.Spec(Seq("g"), Seq(
      IncrementalRollup.CountStar("n"), IncrementalRollup.MaxOf(col("v"), "hi")))
    val pend = ChangeFeedStream.pendingTable("roll")
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "5.00"), (2L, "a", "1.00")), statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "idle", drainEvery = 1)
    wh.deleteWhere("fact", col("k") === 1L)
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "idle", drainEvery = 1)
    assert(wh.load(pend).count() == 0L, "the cadence tick drains")
    // nothing delivered: poll never calls the tick, so no job runs
    val jobs = sparkJobs {
      ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "idle", drainEvery = 1): Unit
    }
    assert(jobs == 0, s"an idle call ran $jobs Spark jobs")
  }

  test("rollup compaction between drain and next tick: marker survives, no window double-counts") {
    // the covered mark's durability: compacting the rollup's files
    // (content-preserving rewrite) between a drain and the next tick must
    // neither lose the covered version nor let a replayed window
    // double-apply
    val wh = new Warehouse(spark, tmpDir("cfs-compact"))
    val spec = IncrementalRollup.Spec(Seq("g"), Seq(
      IncrementalRollup.CountStar("n"), IncrementalRollup.MinOf(col("v"), "lo")))
    def direct() = bag(wh.load("fact").groupBy("g")
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo")))
    def folded() = bag(IncrementalRollup.read(wh, "roll", spec).filter(col("n") =!= 0L))
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "1.00"), (2L, "a", "3.00"), (3L, "b", "2.00")),
      statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "cp")
    wh.deleteWhere("fact", col("k") === 1L) // delete a's min → pending
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "cp")
    ChangeFeedStream.drainPendingExtremes(wh, "fact", "roll", spec)
    assert(folded() == direct())
    // compact the rollup (compactFiles rewrites every partial file)
    wh.compactFiles("roll", smallRows = 1000000L)
    assert(folded() == direct(), "compaction must be content-preserving")
    // crash replay across the compaction: wide re-delivery must still
    // narrow to the covered version
    ChangeFeedStream.seek(wh, "fact", "cp", 0L)
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "cp")
    assert(folded() == direct(),
      s"window double-counted across compaction:\n  got ${folded()}\n  want ${direct()}")
    // and normal ticking resumes
    wh.append("fact", kv((5L, "b", "0.50")), statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "cp")
    assert(folded() == direct())
  }

  test("rollup crash window: partials committed, cursor lost, MORE commits land — re-delivery narrows to the uncovered suffix") {
    val wh = new Warehouse(spark, tmpDir("cfs-rollup-crash"))
    val spec = IncrementalRollup.Spec(Seq("g"), Seq(
      IncrementalRollup.CountStar("n"), IncrementalRollup.SumOf(col("v"), "sv")))
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "1.00"), (2L, "b", "2.00")), statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "c")
    // same-bounds re-delivery (cursor lost, no new commits): the covered
    // mark committed with the partials covers the window — zero new rollup
    // commits
    ChangeFeedStream.seek(wh, "fact", "c", 0L)
    val rv = wh.currentVersion("roll")
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "c")
    assert(wh.currentVersion("roll") == rv, "covered window must not re-apply")
    // widened re-delivery: cursor lost AND commits landed before the
    // restart — the wide window (0, head] must narrow to (marker, head]
    // or the covered prefix double-counts
    ChangeFeedStream.seek(wh, "fact", "c", 0L)
    wh.append("fact", kv((3L, "a", "4.00")), statsCols = Seq("k"))
    ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "c")
    val got = bag(IncrementalRollup.read(wh, "roll", spec).filter(col("n") =!= 0L))
    val want = bag(wh.load("fact").groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    assert(got == want, s"widened window double-applied:\n  got:  $got\n  want: $want")
  }

  test("mirror crash window: applied marker rides the txn — an ABA revert across the gap replays exactly") {
    val wh = new Warehouse(spark, tmpDir("cfs-mirror-crash"))
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "1.00")), statsCols = Seq("k"))
    ChangeFeedStream.mirror(wh, "fact", "copy", Seq("k"), "m")
    val v1 = wh.currentVersion("fact")
    wh.morMerge("fact", kv((1L, "a", "9.00")), Seq("k"))
    ChangeFeedStream.mirror(wh, "fact", "copy", Seq("k"), "m") // (v1, v2] applied
    // same-bounds re-delivery: the mark committed with the txn covers it
    ChangeFeedStream.seek(wh, "fact", "m", v1)
    val cv = wh.currentVersion("copy")
    ChangeFeedStream.mirror(wh, "fact", "copy", Seq("k"), "m")
    assert(wh.currentVersion("copy") == cv, "covered window must not re-apply")
    // widened re-delivery with an ABA revert: k=1 returns to its v1 value
    // before the restart, so the WIDE diff (v1, v3] nets the key out — only
    // the mark-narrowed suffix (v2, v3] sees the revert
    ChangeFeedStream.seek(wh, "fact", "m", v1)
    wh.morMerge("fact", kv((1L, "a", "1.00")), Seq("k"))
    ChangeFeedStream.mirror(wh, "fact", "copy", Seq("k"), "m")
    assert(bag(wh.load("copy")) == bag(wh.load("fact")),
      "ABA revert across the crash gap must replay exactly")
  }

  test("drain gate is exact: right after a drain, a tick with no new ties runs the jobs of drainEvery = 0") {
    val wh = new Warehouse(spark, tmpDir("cfs-exact"))
    val spec = IncrementalRollup.Spec(Seq("g"), Seq(
      IncrementalRollup.CountStar("n"), IncrementalRollup.MaxOf(col("v"), "hi")))
    def folded(r: String) = bag(IncrementalRollup.read(wh, r, spec).filter(col("n") =!= 0L))
    def direct() = bag(wh.load("fact").groupBy("g")
      .agg(count(lit(1)).as("n"), max(col("v")).as("hi")))
    def tick(r: String, every: Int): Unit = {
      ChangeFeedStream.maintainRollup(wh, "fact", r, spec, r, drainEvery = every): Unit
    }
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "5.00"), (2L, "a", "1.00"), (3L, "b", "2.00")),
      statsCols = Seq("k"))
    tick("r0", 0); tick("r1", 1)
    wh.deleteWhere("fact", col("k") === 1L) // a's max: both rollups mark a pending
    tick("r1", 1) // drains on its cadence
    tick("r0", 0)
    assert(ChangeFeedStream.drainPendingExtremes(wh, "fact", "r0", spec) == 1L)
    // a delivering tick that ties no extreme: nothing pends on either side
    wh.append("fact", kv((4L, "b", "1.50")), statsCols = Seq("k"))
    val j0 = sparkJobs(tick("r0", 0))
    val j1 = sparkJobs(tick("r1", 1))
    assert(j1 == j0, s"drainEvery = 1 ran $j1 Spark jobs, drainEvery = 0 ran $j0")
    assert(folded("r0") == direct() && folded("r1") == direct())
  }

  test("cadence counter is exactly-once: a crash after the partials commit neither recounts nor loses a drain") {
    import graft.sink.{MetaIO, SimulatedCrash}
    /** Dies at the `nth` durable write to a file whose name `hit` accepts. */
    final class DieAt(hit: String => Boolean, nth: Int) extends MetaIO {
      private var seen = 0
      override def atomicWrite(target: java.nio.file.Path, bytes: Array[Byte]): Unit = {
        if (hit(target.getFileName.toString)) {
          seen += 1
          if (seen == nth) throw new SimulatedCrash(s"crash before writing $target")
        }
        super.atomicWrite(target, bytes)
      }
    }
    val root = tmpDir("cfs-ticks")
    val wh = new Warehouse(spark, root)
    val spec = IncrementalRollup.Spec(Seq("g"), Seq(
      IncrementalRollup.CountStar("n"), IncrementalRollup.MaxOf(col("v"), "hi")))
    def tick(w: Warehouse): Unit = {
      ChangeFeedStream.maintainRollup(w, "fact", "roll", spec, "tk", drainEvery = 2): Unit
    }
    def ticks() = wh.marks("roll").get("cfs.ticks")
    val pend = ChangeFeedStream.pendingTable("roll")
    wh.create("fact", schema)
    wh.append("fact", kv((1L, "a", "5.00"), (2L, "a", "1.00")), statsCols = Seq("k"))
    // tick 1 dies right after its partials commit, before the cursor lands;
    // the re-run re-delivers the same window, which the covered mark skips
    intercept[SimulatedCrash](tick(new Warehouse(spark, root,
      io = new DieAt(_.startsWith("_stream_cdc:"), 1))))
    tick(wh)
    assert(ticks().contains("1"), s"a re-delivered window counted again: ${ticks()}")
    // tick 2 marks a pending and owes the cadence's drain; it dies after its
    // partials transaction, before the drain's own
    wh.deleteWhere("fact", col("k") === 1L)
    intercept[SimulatedCrash](tick(new Warehouse(spark, root,
      io = new DieAt(n => n.startsWith("txn-") && !n.contains(".done"), 2))))
    assert(ticks().contains("2") && wh.load(pend).count() == 1L,
      "premise: tick 2's partials and pending key landed, its drain did not")
    // the re-run delivers nothing new and still runs the drain tick 2 owes
    tick(wh)
    assert(wh.load(pend).count() == 0L, "the owed drain did not run")
    assert(ticks().contains("2"))
    assert(bag(IncrementalRollup.read(wh, "roll", spec).filter(col("n") =!= 0L)) ==
      bag(wh.load("fact").groupBy("g").agg(count(lit(1)).as("n"), max(col("v")).as("hi"))))
    val jobs = sparkJobs(tick(wh))
    assert(jobs == 0, s"an idle call after the drain ran $jobs Spark jobs")
  }

  // DECIMAL(38,10) sums: a signed partial must keep the operand's exact type
  // (a `v * ±1` product types as DECIMAL(38,6) and rounds the fold). The same
  // upsert and delete run through the streaming tick and the batch fold.
  private val wide = StructType(Seq(
    StructField("k", LongType), StructField("g", StringType),
    StructField("v", DecimalType(38, 10))))

  private def wideHistory(wh: Warehouse, fold: () => Unit): Unit = {
    def rows(rs: (Long, String, String)*) = spark.createDataFrame(
      rs.map(r => Row(r._1, r._2, new java.math.BigDecimal(r._3))).asJava, wide)
    wh.create("fact", wide)
    wh.append("fact", rows((1L, "a", "1.0123456789"), (2L, "a", "0.5000000003"),
      (3L, "b", "3.0000000007")), statsCols = Seq("k"))
    fold()
    wh.morMerge("fact", rows((2L, "a", "2.0000000001")), Seq("k"))
    fold()
    wh.deleteWhere("fact", col("k") === 1L)
    fold()
  }

  private def assertExactWideSums(wh: Warehouse, spec: IncrementalRollup.Spec): Unit = {
    val got = bag(IncrementalRollup.read(wh, "roll", spec).filter(col("n") =!= 0L))
    val want = bag(wh.load("fact").groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv")))
    assert(want.contains(Seq("a", 1L, new java.math.BigDecimal("2.0000000001"))), want.toString)
    assert(got == want, s"DECIMAL(38,10) rollup:\n  got:  $got\n  want: $want")
  }

  private val wideSpec = IncrementalRollup.Spec(Seq("g"), Seq(
    IncrementalRollup.CountStar("n"), IncrementalRollup.SumOf(col("v"), "sv")))

  test("CDC rollup: a DECIMAL(38,10) sum keeps its scale across an upsert and a delete") {
    val wh = new Warehouse(spark, tmpDir("cfs-dec"))
    wideHistory(wh, () => ChangeFeedStream.maintainRollup(wh, "fact", "roll", wideSpec, "dec"))
    assertExactWideSums(wh, wideSpec)
  }

  test("batch change-feed fold: the same DECIMAL(38,10) history reads the direct aggregate") {
    val wh = new Warehouse(spark, tmpDir("cfs-dec-batch"))
    wideHistory(wh, () => IncrementalRollup.maintainFromChangeFeed(wh, "fact", "roll", wideSpec))
    assertExactWideSums(wh, wideSpec)
  }
}
