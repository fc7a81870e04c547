package graft.sink

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import graft.{SparkSpec, TestSpark}
import graft.streaming.{ChangeFeedStream, GraftTableSink, RollupStream}

/** Commit-carried consumer marks (`Warehouse.marks`): a string map on the
  * snapshot root, set only together with a commit, carried forward by every
  * later commit, adopted by restore and branch publish, and read from the
  * root header with no Spark job. Consumers whose target still holds the
  * progress state of an older build refuse it loudly.
  */
class ConsumerMarksSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
  private def kv(rows: (Long, Long)*): DataFrame = TestSpark.spark.createDataFrame(
    rows.map(r => Row(r._1, r._2)).asJava, schema)

  /** The table's marks, asserting the read ran no Spark job. */
  private def marksOf(wh: Warehouse, t: String): Map[String, String] = {
    var got = Map.empty[String, String]
    val jobs = sparkJobs { got = wh.marks(t) }
    assert(jobs == 0, s"reading $t's marks ran $jobs Spark jobs")
    got
  }

  test("a mark survives every commit kind, read with zero Spark jobs; restore brings marks back") {
    val root = tmpDir("marks-kinds")
    val wh = new Warehouse(spark, root)
    wh.append("t", kv((1L, 1L), (2L, 2L)), statsCols = Seq("k"))          // v0: no marks
    wh.append("t", kv((3L, 3L)), statsCols = Seq("k"), marks = Map("m" -> "1"))
    val markedV = wh.currentVersion("t")
    var want = Map("m" -> "1")
    assert(marksOf(wh, "t") == want)

    def fire(interfere: => Unit)(body: => Unit): Unit = {
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      wh.preCommitHook = (_, _) => if (fired.compareAndSet(false, true)) interfere
      try body finally wh.preCommitHook = (_, _) => ()
      assert(fired.get(), "the interfering commit never fired")
    }
    val other = new Warehouse(spark, root)
    val kinds: Seq[(String, () => Unit)] = Seq(
      "append" -> (() => wh.append("t", kv((4L, 4L)), statsCols = Seq("k"))),
      "merge" -> (() => wh.merge("t", kv((1L, 10L), (5L, 5L)), Seq("k"))),
      "morMerge" -> (() => wh.morMerge("t", kv((2L, 20L)), Seq("k"))),
      "equalityDelete" -> (() => wh.equalityDelete("t", kv((3L, 0L)).select("k"))),
      "compactDeletes" -> (() => wh.compactDeletes("t")),
      "deleteWhere" -> (() => wh.deleteWhere("t", col("k") === 4L)),
      "updateWhere" -> (() => wh.updateWhere("t", col("k") === 5L, Map("v" -> lit(50L)))),
      "compact" -> (() => wh.compact("t")),
      "compactFiles" -> (() => {
        wh.append("t", kv((6L, 6L)), statsCols = Seq("k"))
        wh.compactFiles("t", smallRows = 1000000L)
      }),
      "rewriteManifests" -> (() => wh.rewriteManifests("t")),
      "addColumns" -> (() => wh.addColumns("t", Seq(StructField("w", StringType)))),
      "renameColumn" -> (() => wh.renameColumn("t", "w", "w2")),
      "dropColumn" -> (() => wh.dropColumn("t", "w2")),
      "replace" -> (() => wh.replace("t", kv((1L, 1L), (2L, 2L), (7L, 7L)), statsCols = Seq("k"))),
      "transact" -> (() => wh.transact(tx => tx.append("t", kv((8L, 8L))))),
      // lost CAS: the winner sets its own mark, the loser rebases and sets
      // another — the overlay lands on the winner's marks
      "rebase" -> (() => fire(other.append("t", kv((9L, 9L)), marks = Map("w" -> "x"))) {
        wh.append("t", kv((10L, 10L)), marks = Map("m2" -> "2"))
        want = want ++ Map("w" -> "x", "m2" -> "2")
      }),
      "WAP publish" -> (() => wh.publishStage("t", wh.stageAppend("t", kv((11L, 11L))))),
      // the branch head's marks are main's plus what the branch set
      "branch publish" -> (() => {
        wh.createBranch("t", "b")
        wh.append("t@b", kv((12L, 12L)), marks = Map("br" -> "1"))
        wh.publishBranch("t", "b")
        want = want + ("br" -> "1")
      }))
    kinds.foreach { case (kind, op) =>
      val before = wh.currentVersion("t")
      op()
      assert(wh.currentVersion("t") > before, s"$kind committed nothing")
      assert(marksOf(wh, "t") == want, s"after $kind")
    }
    assert(wh.load("t").count() == 8L)

    wh.restore("t", markedV)
    assert(marksOf(wh, "t") == Map("m" -> "1"), "restore adopts the restored version's marks")
    wh.restore("t", 0L)
    assert(marksOf(wh, "t").isEmpty)
  }

  test("tx.mark: a marks-only section is a metadata-only version; a crashed intent lands all or nothing") {
    val root = tmpDir("marks-tx")
    val wh = new Warehouse(spark, root)
    wh.append("a", kv((1L, 1L)))
    wh.append("b", kv((1L, 1L)))
    val files = wh.dataFiles("b")
    wh.transact(tx => tx.mark("b", "p", "1"))
    assert(wh.currentVersion("b") == 1L && wh.dataFiles("b") == files)
    assert(marksOf(wh, "b") == Map("p" -> "1"))

    // crash at every durable step of a transaction that lands rows + a mark
    // on `a` and a mark alone on `b`: reopened, both land or neither does
    val dry = tmpDir("marks-tx-dry")
    CrashingMetaIO.copyTree(Paths.get(root), Paths.get(dry))
    def run(w: Warehouse): Unit = {
      w.transact { tx =>
        tx.append("a", kv((2L, 2L)))
        tx.mark("a", "p", "2")
        tx.mark("b", "p", "2")
      }: Unit
    }
    val counter = new CrashingMetaIO(Int.MaxValue)
    run(new Warehouse(spark, dry, io = counter))
    val n = counter.steps
    (1 to n).foreach { k =>
      val dir = tmpDir(s"marks-tx-k$k")
      CrashingMetaIO.copyTree(Paths.get(root), Paths.get(dir))
      intercept[SimulatedCrash](run(new Warehouse(spark, dir, io = new CrashingMetaIO(k))))
      val re = new Warehouse(spark, dir)
      val got = (re.load("a").count(), re.marks("a").get("p"), re.marks("b").get("p"))
      assert(got == ((1L, None, Some("1"))) || got == ((2L, Some("2"), Some("2"))),
        s"crash at step $k of $n: $got")
    }
  }

  test("a consumer refuses a target holding an older build's progress, naming table and consumer") {
    val root = tmpDir("marks-legacy")
    val wh = new Warehouse(spark, root)
    wh.create("fact", schema)
    wh.append("fact", kv((1L, 1L)))
    val spec = IncrementalRollup.Spec(Seq("k"), Seq(IncrementalRollup.CountStar("n")))
    def partials(n: Long) = TestSpark.spark.createDataFrame(List(Row(1L, n)).asJava,
      StructType(Seq(StructField("k", LongType), StructField("n", LongType))))
    def sink(table: String) = new GraftTableSink(root, table, "append",
      Nil, "", "", Nil, Nil, "s1", mergeSchema = false)

    // (shape, target, consumer, legacy state, the consumer's call)
    val shapes: Seq[(String, String, String, () => Unit, () => Unit)] = Seq(
      ("stream sink, _stream_ sidecar", "t", "s1",
        () => { wh.append("t", kv((1L, 1L))); wh.recordBatchId("t", "s1", 4L) },
        () => sink("t").commitBatch(wh, 5L, kv((2L, 2L)))),
      ("RollupStream, _stream_ sidecar", "rs", "s1",
        () => { wh.append("rs", partials(1L)); wh.recordBatchId("rs", "s1", 0L) },
        () => RollupStream.applyBatch(wh, "rs", spec, "s1")(kv((2L, 2L)), 1L)),
      ("batch change-feed fold, _stream_ sidecar", "fold", "rollup:fact",
        () => { wh.append("fold", partials(1L)); wh.recordBatchId("fold", "rollup:fact", 1L) },
        () => IncrementalRollup.maintainFromChangeFeed(wh, "fact", "fold", spec): Unit),
      ("append-only feed fold, _stream_ sidecar", "feed", "rollup:fact",
        () => { wh.append("feed", partials(1L)); wh.recordBatchId("feed", "rollup:fact", 1L) },
        () => IncrementalRollup.maintainFromFeed(wh, "fact", "feed", spec): Unit),
      ("maintainRollup, __cfs_v column", "roll", "cfs",
        () => wh.append("roll", partials(1L).withColumn("__cfs_v", lit(1L))),
        () => ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "cfs"): Unit),
      ("maintainRollup, _stream_cfsmark sidecar", "roll2", "cfs2",
        () => { wh.append("roll2", partials(1L)); wh.recordBatchId("roll2", "cfsmark", 1L) },
        () => ChangeFeedStream.maintainRollup(wh, "fact", "roll2", spec, "cfs2"): Unit),
      ("mirror, <copy>__ledger table", "copy", "mir",
        () => { wh.append("copy", kv((1L, 1L))); wh.append("copy__ledger", kv((0L, 1L))) },
        () => ChangeFeedStream.mirror(wh, "fact", "copy", Seq("k"), "mir"): Unit))
    shapes.foreach { case (shape, target, consumer, legacy, call) =>
      legacy()
      val v = wh.currentVersion(target)
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains(target) && e.getMessage.contains(s"'$consumer'"),
        s"$shape: ${e.getMessage}")
      assert(wh.currentVersion(target) == v, s"$shape: the refused call committed")
    }
  }
}
