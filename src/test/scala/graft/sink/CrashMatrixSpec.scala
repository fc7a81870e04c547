package graft.sink

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.{SparkSpec, TestSpark}
import graft.streaming.{ChangeFeedStream, GraftTableSink}

/** A process crash, as the metadata-IO seam sees it. An `Error`, not an
  * `Exception`: nothing in the engine should recover from its own death.
  */
final class SimulatedCrash(msg: String) extends Error(msg)

/** Fault-injecting [[MetaIO]]: counts durable steps and dies at step
  * `crashAt` (1-based). Every later operation throws too, listing
  * included — a dead process runs no `finally` cleanup and reads nothing.
  * `crashAt = Int.MaxValue` is the counting dry run.
  */
final class CrashingMetaIO(crashAt: Int) extends MetaIO {
  private val n = new AtomicInteger
  @volatile private var dead = false
  def steps: Int = n.get

  override protected def step(): Unit = {
    if (dead) throw new SimulatedCrash("process already crashed")
    if (n.incrementAndGet() >= crashAt) {
      dead = true
      throw new SimulatedCrash(s"crash before durable step $crashAt")
    }
  }

  override def list(dir: Path): Seq[Path] = {
    if (dead) throw new SimulatedCrash("process already crashed")
    super.list(dir)
  }
}

object CrashingMetaIO {
  import scala.jdk.CollectionConverters._

  /** Copy a warehouse tree: the pre-state each crash point starts from. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally s.close()
  }
}

/** Crash-point enumeration over the commit protocols (the persistence-point
  * method of Pillai et al., OSDI 2014, and CrashMonkey, OSDI 2018): for each
  * operation a counting dry run finds its N durable steps, then for every
  * k in 1..N the operation runs against a copy of the same pre-state with
  * the process dying before step k. Reopened with the real [[MetaIO]],
  * every table must read exactly its pre-state or its post-state; from the
  * pre-state a re-run lands the post-state exactly once; a following
  * append commits without a CME; and expiry with no grace leaves no tmp
  * file, commit attempt or unreferenced segment behind.
  */
class CrashMatrixSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
  private def rows(tag: String, ks: Long*): DataFrame = TestSpark.spark.createDataFrame(
    ks.map(k => Row(k, s"$tag$k")).asJava, schema)

  /** None = no such table; else its rows, sorted (a multiset). */
  private type State = Map[String, Option[Seq[String]]]

  private def state(root: String, tables: Seq[String]): State = {
    val wh = new Warehouse(spark, root)
    tables.map { t =>
      t -> (if (!wh.exists(t)) None
            else Some(wh.load(t).collect().map(_.mkString("|")).toSeq.sorted))
    }.toMap
  }

  /** One operation under test. `tables`: every table it touches (pre or
    * post); `retry`: how a caller re-runs it after a crash that left the
    * pre-state (the operation itself unless it refuses a leftover).
    * `replay`: the caller re-runs it after EVERY crash, the post-state
    * included (a stream re-delivers its uncommitted batch, a fold is simply
    * called again), so that re-run must land the post-state too. `probe`:
    * the one-row frame the follow-up append adds to each live table.
    */
  private case class Op(name: String, tables: Seq[String],
                        setup: Warehouse => Unit, run: Warehouse => Unit,
                        retry: Option[Warehouse => Unit] = None,
                        replay: Boolean = false,
                        probe: Int => DataFrame = k => rows("z", 100 + k))

  private val factSchema = StructType(Seq(StructField("k", LongType),
    StructField("g", StringType), StructField("x", LongType)))
  private def facts(rs: (Long, String, Long)*): DataFrame = TestSpark.spark.createDataFrame(
    rs.map(r => Row(r._1, r._2, r._3)).asJava, factSchema)

  /** The stream sink's append disposition over the warehouse it is handed. */
  private def appendSink(wh: Warehouse) = new GraftTableSink(wh.root, "t", "append",
    Nil, "", "", Seq("k"), Nil, "s", mergeSchema = false)

  private val sumSpec = IncrementalRollup.Spec(Seq("g"), Seq(
    IncrementalRollup.CountStar("n"), IncrementalRollup.SumOf(col("x"), "s")))
  private def fold(wh: Warehouse): Unit = {
    IncrementalRollup.maintainFromChangeFeed(wh, "fact", "roll", sumSpec): Unit
  }

  private val ops: Seq[Op] = Seq(
    Op("first-commit create", Seq("t"), _ => (),
      _.create("t", schema, Seq("bucket(4,k)"))),
    Op("append", Seq("t"), _.append("t", rows("a", 1, 2, 3), Seq("k")),
      _.append("t", rows("b", 4, 5), Seq("k"))),
    Op("merge", Seq("t"), _.append("t", rows("a", 1, 2, 3, 4), Seq("k")),
      _.merge("t", rows("m", 3, 7), Seq("k"))),
    Op("morMerge", Seq("t"), _.append("t", rows("a", 1, 2, 3, 4), Seq("k")),
      _.morMerge("t", rows("m", 2, 9), Seq("k"))),
    Op("two-table transact", Seq("a", "b"),
      wh => { wh.append("a", rows("a", 1, 2)); wh.append("b", rows("b", 1)) },
      _.transact { tx =>
        tx.append("a", rows("x", 3))
        tx.append("b", rows("y", 2, 3))
      }),
    Op("chained two-pair renameAll", Seq("live", "retired", "cand"),
      wh => { wh.append("live", rows("l", 1, 2)); wh.append("cand", rows("c", 3)) },
      _.renameAll(Seq("live" -> "retired", "cand" -> "live"))),
    Op("three-pair rotation renameAll", Seq("a", "b", "spare"),
      wh => { wh.append("a", rows("a", 1, 2)); wh.append("b", rows("b", 3)) },
      _.renameAll(Seq("a" -> "spare", "b" -> "a", "spare" -> "b"))),
    Op("WAP stageAppend + publishStage", Seq("t"), _.append("t", rows("a", 1, 2)),
      wh => wh.publishStage("t", wh.stageAppend("t", rows("s", 5, 6)))),
    Op("createBranch + publishBranch", Seq("t"), _.append("t", rows("a", 1, 2)),
      wh => {
        wh.createBranch("t", "b")
        wh.append("t@b", rows("br", 8))
        wh.publishBranch("t", "b")
      },
      // a half-made branch refuses a second createBranch: drop it, redo
      retry = Some(wh => {
        if (wh.branches("t").contains("b")) wh.dropBranch("t", "b")
        wh.createBranch("t", "b")
        wh.append("t@b", rows("br", 8))
        wh.publishBranch("t", "b")
      })),
    // the stream-sink batch protocol: skip a batch the table already marked,
    // else the disposition's commit carrying the batch id
    Op("stream-sink append batch", Seq("t"),
      wh => appendSink(wh).commitBatch(wh, 0L, rows("a", 1, 2)),
      wh => appendSink(wh).commitBatch(wh, 1L, rows("b", 3, 4)),
      replay = true),
    // the batch change-feed fold with count/sum measures: the window's
    // signed partials and the fact version they cover
    Op("maintainFromChangeFeed count/sum fold", Seq("roll"),
      wh => {
        wh.create("fact", factSchema)
        wh.append("fact", facts((1L, "a", 5L), (2L, "a", 9L), (3L, "b", 4L)), Seq("k"))
        fold(wh)
        wh.morMerge("fact", facts((3L, "b", 6L), (4L, "c", 7L)), Seq("k"))
        wh.deleteWhere("fact", col("k") === 2L)
      },
      fold, replay = true,
      probe = k => TestSpark.spark.createDataFrame(List(Row("z", 1L, 100L + k)).asJava,
        StructType(Seq(StructField("g", StringType), StructField("n", LongType),
          StructField("s", LongType)))))
  )

  import CrashingMetaIO.copyTree

  /** Leftovers expiry must have removed: tmp files in the table dirs,
    * older commit-attempt files, segments no remaining root (of any ref)
    * lists, and anything at all in `_intents` (markers, progress markers,
    * their tmps).
    */
  private def leftovers(root: String, tables: Seq[String]): Seq[String] = {
    val r = Paths.get(root)
    val tmps = tables.map(r.resolve).flatMap(d => MetaIO.local.list(d))
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".tmp") || n.matches("m\\d+(@.+)?\\.manifest\\.w.*")) ++
      MetaIO.local.list(r.resolve("_intents")).map(p => s"_intents/${p.getFileName}")
    val unrefSegs = tables.map(r.resolve).flatMap { td =>
      val names = MetaIO.local.list(td).map(_.getFileName.toString)
      val referenced = names.filter(_.matches("m\\d+(@.+)?\\.manifest"))
        .flatMap(m => Manifest.segmentRefs(td.resolve(m))).toSet
      names.filter(n => n.startsWith("g") && n.endsWith(".seg") && !referenced(n))
    }
    tmps ++ unrefSegs
  }

  ops.foreach { op =>
    test(s"crash matrix: ${op.name} reads pre- or post-state at every durable step") {
      val t0 = System.nanoTime()
      val template = tmpDir("cm-template")
      op.setup(new Warehouse(spark, template))
      val pre = state(template, op.tables)

      // counting dry run
      val dryDir = tmpDir("cm-dry")
      copyTree(Paths.get(template), Paths.get(dryDir))
      val counter = new CrashingMetaIO(Int.MaxValue)
      op.run(new Warehouse(spark, dryDir, io = counter))
      val n = counter.steps
      val post = state(dryDir, op.tables)
      assert(n > 0 && post != pre, s"${op.name}: the dry run must change something")

      var preSeen, postSeen = 0
      (1 to n).foreach { k =>
        val dir = tmpDir(s"cm-k$k")
        copyTree(Paths.get(template), Paths.get(dir))
        val io = new CrashingMetaIO(k)
        intercept[SimulatedCrash](op.run(new Warehouse(spark, dir, io = io)))
        // reopen with the real seam: a fresh process
        val reopened = new Warehouse(spark, dir)
        val after = state(dir, op.tables)
        assert(after == pre || after == post,
          s"${op.name}, crash at step $k of $n: neither pre- nor post-state: $after " +
            s"(pre $pre, post $post)")
        if (after == pre) preSeen += 1 else postSeen += 1
        if (after == pre || op.replay) {
          op.retry.getOrElse(op.run)(reopened)
          assert(state(dir, op.tables) == post,
            s"${op.name}, crash at step $k of $n: the re-run did not land the post-state once")
        }
        val live = op.tables.filter(t => post(t).nonEmpty)
        val probe = op.probe(k)
        live.foreach { t =>
          reopened.append(t, probe) // no CME: the ledger is not wedged
          reopened.expireSnapshots(t, 1, orphanGraceMs = 0)
        }
        assert(leftovers(dir, op.tables).isEmpty,
          s"${op.name}, crash at step $k of $n: leftovers after expiry: ${leftovers(dir, op.tables)}")
        val probed = probe.collect().head.mkString("|")
        live.foreach { t =>
          assert(state(dir, Seq(t))(t).get == (post(t).get :+ probed).sorted,
            s"${op.name}, crash at step $k of $n: $t lost rows after the follow-up append")
        }
      }
      // both ends are reached: early crashes keep the pre-state, late ones
      // (after the commit point) the post-state
      assert(preSeen > 0 && postSeen > 0, s"${op.name}: pre $preSeen, post $postSeen of $n")
      info(f"N = $n durable steps; $preSeen crash points read pre, $postSeen post; " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }

  // A stream-maintained min/max rollup is several commits, so a crash may
  // leave any prefix of them: the window partials plus its pending keys and
  // the rollup's marks (one transaction), the drain's retract-and-land
  // transaction with its drained mark, then the consumer cursor. The
  // contract is convergence: reopened and re-run, the folded rollup and the
  // pending keys equal what the uncrashed tick leaves.
  test("crash matrix: a maintainRollup tick and its drain converge at every durable step") {
    val t0 = System.nanoTime()
    val spec = IncrementalRollup.Spec(Seq("g"), Seq(
      IncrementalRollup.CountStar("n"), IncrementalRollup.MaxOf(col("x"), "hi")))
    def tick(wh: Warehouse): Unit = {
      ChangeFeedStream.maintainRollup(wh, "fact", "roll", spec, "cm", drainEvery = 1): Unit
    }
    def sorted(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted
    def result(root: String): (Seq[String], Seq[String]) = {
      val wh = new Warehouse(spark, root)
      (sorted(IncrementalRollup.read(wh, "roll", spec)),
        sorted(wh.load(ChangeFeedStream.pendingTable("roll")).select("g")))
    }

    val template = tmpDir("cm-roll-template")
    locally {
      val wh = new Warehouse(spark, template)
      wh.create("fact", factSchema)
      wh.append("fact", facts((1L, "a", 5L), (2L, "a", 9L), (3L, "b", 4L), (4L, "c", 7L)),
        Seq("k"))
      tick(wh)
      // a window with an upsert and the deletion of group a's max: the next
      // tick marks a pending and its drain recomputes a
      wh.morMerge("fact", facts((3L, "b", 6L)), Seq("k"))
      wh.deleteWhere("fact", col("k") === 2L)
    }

    val dryDir = tmpDir("cm-roll-dry")
    copyTree(Paths.get(template), Paths.get(dryDir))
    val counter = new CrashingMetaIO(Int.MaxValue)
    tick(new Warehouse(spark, dryDir, io = counter))
    val n = counter.steps
    val want = result(dryDir)
    assert(want == ((Seq("a|1|5", "b|1|6", "c|1|7"), Nil)), s"uncrashed tick: $want")

    (1 to n).foreach { k =>
      val dir = tmpDir(s"cm-roll-k$k")
      copyTree(Paths.get(template), Paths.get(dir))
      intercept[SimulatedCrash](tick(new Warehouse(spark, dir, io = new CrashingMetaIO(k))))
      tick(new Warehouse(spark, dir))
      assert(result(dir) == want,
        s"crash at step $k of $n, then a re-run: ${result(dir)} (uncrashed: $want)")
    }
    info(f"N = $n durable steps; ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
