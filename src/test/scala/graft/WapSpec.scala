package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sink.Warehouse

/** Write-audit-publish staging (Iceberg WAP pattern): data lands as an
  * unpublished candidate, the audit reads the WOULD-BE table state, and
  * only publish makes it visible — under the same OCC contract as direct
  * writes. The property that matters at scale: publish adopts the staged
  * files by path (zero data IO), and an unpublished stage is invisible to
  * every reader and safe from snapshot expiry.
  */
class WapSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("Id", StringType),
    StructField("Amount", LongType)))

  private def df(rows: (String, Long)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)

  test("append stage: invisible until publish; audit sees base+batch; publish adopts files") {
    val wh = new Warehouse(spark, tmpDir("wap-append"))
    val v0 = wh.replace("t", df("a" -> 1, "b" -> 2))
    val id = wh.stageAppend("t", df("c" -> 3), statsCols = Seq("Amount"))

    assert(wh.load("t").count() == 2, "staging must not touch the table")
    assert(wh.currentVersion("t") == v0, "no snapshot committed by staging")
    assert(wh.listStages("t") == Seq(id))

    val audit = wh.loadStage("t", id)
    assert(audit.count() == 3, "audit reads the candidate state: base + batch")

    val staged = filesScanned(wh.loadStage("t", id))
    assert(staged.nonEmpty, "the audit read sees the staged files")
    val v1 = wh.publishStage("t", id)
    assert(wh.load("t").count() == 3 && v1 == v0 + 1)
    // zero-copy adoption: published scan reads the very files the audit read
    assert(filesScanned(wh.load("t")) == staged)
    assert(wh.listStages("t").isEmpty, "publish consumes the stage")
    intercept[IllegalArgumentException](wh.loadStage("t", id))
  }

  test("append publish is a fast-append cherry-pick over interim commits") {
    val wh = new Warehouse(spark, tmpDir("wap-cherry"))
    wh.replace("t", df("a" -> 1))
    val id = wh.stageAppend("t", df("b" -> 2))
    wh.append("t", df("x" -> 9)) // interim commit while the audit runs
    wh.publishStage("t", id)
    assert(wh.load("t").collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b", "x"),
      "interim commit and staged batch must both survive")
  }

  test("replace stage: interim commit is a conflict; re-stage succeeds") {
    val wh = new Warehouse(spark, tmpDir("wap-replace"))
    wh.replace("t", df("a" -> 1))
    val id = wh.stageReplace("t", df("z" -> 26))
    wh.append("t", df("x" -> 9)) // the audited state is no longer the base
    intercept[java.util.ConcurrentModificationException](wh.publishStage("t", id))
    assert(wh.load("t").count() == 2, "failed publish commits nothing")
    wh.dropStage("t", id)
    val id2 = wh.stageReplace("t", df("z" -> 26))
    wh.publishStage("t", id2)
    assert(wh.load("t").collect().map(_.getString(0)).toSeq == Seq("z"))
  }

  test("dropStage removes the staged files; expiry never touches a live stage") {
    val wh = new Warehouse(spark, tmpDir("wap-drop"))
    wh.replace("t", df("a" -> 1))
    wh.append("t", df("b" -> 2)) // history to expire
    val id = wh.stageAppend("t", df("c" -> 3))
    val stagedFiles = filesScanned(wh.loadStage("t", id)).toSeq
      .filter(_.contains("stg")).map(u => Paths.get(java.net.URI.create(u)))
    assert(stagedFiles.nonEmpty)

    // aggressive expiry while the stage is pending: staged files survive
    wh.expireSnapshots("t", keepLast = 1, orphanGraceMs = 0)
    assert(stagedFiles.forall(Files.exists(_)),
      "expiry must not garbage-collect an unpublished stage")
    assert(wh.loadStage("t", id).count() == 3)

    wh.dropStage("t", id)
    assert(stagedFiles.forall(!Files.exists(_)), "dropStage deletes the staged data")
    assert(wh.listStages("t").isEmpty)
    assert(wh.load("t").count() == 2, "the table never saw the stage")
  }

  test("published-stage files are swept once their snapshots expire (no stg* leak)") {
    val wh = new Warehouse(spark, tmpDir("wap-sweep"))
    wh.replace("t", df("a" -> 1))
    val id = wh.stageAppend("t", df("b" -> 2))
    val staged = filesScanned(wh.loadStage("t", id)).toSeq
      .filter(_.contains("stg")).map(u => Paths.get(java.net.URI.create(u)))
    assert(staged.nonEmpty)
    wh.publishStage("t", id)
    wh.replace("t", df("z" -> 26)) // the published snapshot is now history
    wh.expireSnapshots("t", keepLast = 1, orphanGraceMs = 0)
    assert(staged.forall(!Files.exists(_)),
      "adopted stg* files of expired snapshots must be garbage-collected")
    assert(wh.load("t").collect().map(_.getString(0)).toSeq == Seq("z"))
  }

  /** The stage marker file of `id`, for crash-window simulation. */
  private def markerOf(root: String, table: String, id: String) = {
    val s = Files.list(Paths.get(root, table))
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith(s"stage-$id.")).toSeq.head
    finally s.close()
  }

  test("a pending stage survives aggressive expiry (keepLast=1, zero grace)") {
    val wh = new Warehouse(spark, tmpDir("wap-expiry"))
    wh.replace("t", df("a" -> 1))
    wh.append("t", df("b" -> 2))
    val id = wh.stageAppend("t", df("c" -> 3))
    // harshest retention: only the current snapshot, no orphan grace — the
    // stage's files are referenced by no snapshot, only by its manifest
    wh.expireSnapshots("t", keepLast = 1, orphanGraceMs = 0L)
    assert(wh.listStages("t") == Seq(id), "stage marker must survive expiry")
    assert(wh.loadStage("t", id).count() == 3, "staged rows must survive expiry")
    assert(wh.publishStage("t", id) > 0 && wh.load("t").count() == 3)
  }

  test("empty stages re-publish as a no-op across the crash window (no CME, no dup snapshot)") {
    val root = tmpDir("wap-empty")
    val wh = new Warehouse(spark, root)
    wh.replace("t", df("a" -> 1))
    // empty REPLACE stage: publish truncates; a marker surviving the commit
    // must clean up, not throw ConcurrentModificationException
    val rid = wh.stageReplace("t", df().limit(0))
    val rMarker = markerOf(root, "t", rid)
    val rBytes = Files.readAllBytes(rMarker)
    val v1 = wh.publishStage("t", rid)
    assert(wh.load("t").count() == 0, "empty replace = truncate")
    Files.write(rMarker, rBytes) // crash: commit landed, marker delete lost
    assert(wh.publishStage("t", rid) == v1)
    assert(wh.currentVersion("t") == v1, "re-publish must not commit again")
    assert(wh.listStages("t").isEmpty)

    // empty APPEND stage: same window must not commit a duplicate snapshot
    wh.replace("t", df("b" -> 2))
    val aid = wh.stageAppend("t", df().limit(0))
    val aMarker = markerOf(root, "t", aid)
    val aBytes = Files.readAllBytes(aMarker)
    val v2 = wh.publishStage("t", aid)
    Files.write(aMarker, aBytes)
    assert(wh.publishStage("t", aid) == wh.currentVersion("t"))
    assert(wh.currentVersion("t") == v2, "re-publish of an empty append is pure cleanup")
    assert(wh.listStages("t").isEmpty)
  }

  test("append published, then table replaced: a surviving marker must not re-append") {
    val root = tmpDir("wap-replaced")
    val wh = new Warehouse(spark, root)
    wh.replace("t", df("a" -> 1))
    val id = wh.stageAppend("t", df("b" -> 2))
    val marker = markerOf(root, "t", id)
    val bytes = Files.readAllBytes(marker)
    wh.publishStage("t", id)
    Files.write(marker, bytes) // crash window
    // the table moves on: full replace drops the stage's paths from CURRENT,
    // but the adopting snapshot is still retained — evidence enough
    wh.replace("t", df("z" -> 9))
    val cur = wh.currentVersion("t")
    assert(wh.publishStage("t", id) == cur)
    assert(wh.currentVersion("t") == cur, "no new commit")
    assert(wh.load("t").collect().map(_.getString(0)).toSeq == Seq("z"),
      "staged rows must not be re-appended onto the replaced table")
    assert(wh.listStages("t").isEmpty)
  }

  test("audit view applies pending MOR deletes; staged rows are shielded like publish") {
    val root = tmpDir("wap-mor")
    val wh = new Warehouse(spark, root)
    wh.replace("t", df("a" -> 1, "b" -> 2), Seq("Id"))
    // pending equality delete on 'a' — no rewrite, delete rides the manifest
    wh.equalityDelete("t", spark.createDataFrame(
      Seq(org.apache.spark.sql.Row("a")).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("Id",
          org.apache.spark.sql.types.StringType)))))
    // stage a batch that RE-ADDS 'a': the staged row must survive the older
    // delete in the audit view (publish sequences adopted files above it)
    val id = wh.stageAppend("t", df("a" -> 99, "c" -> 3))
    val audit = wh.loadStage("t", id).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(audit == Seq(("a", 99L), ("b", 2L), ("c", 3L)),
      s"audit must hide the deleted row and keep the staged re-insert: $audit")
    // publish: the real table state equals what the audit certified
    wh.publishStage("t", id)
    val after = wh.load("t").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(after == audit, s"published state $after diverged from audit view $audit")
  }

  test("residual window closed: crash + full snapshot expiry still re-publishes as a no-op") {
    val root = tmpDir("wap-closed")
    val wh = new Warehouse(spark, root)
    wh.replace("t", df("a" -> 1))
    val id = wh.stageAppend("t", df("b" -> 2))
    val marker = markerOf(root, "t", id)
    val bytes = Files.readAllBytes(marker)
    wh.publishStage("t", id)
    Files.write(marker, bytes) // crash inside the one-rename finalize window
    // the table moves on and EVERY adopting snapshot is expired — snapshot
    // path evidence is gone; pre-fix, re-publish would re-append the staged
    // rows onto the replaced table (the round-9 documented residual)
    wh.replace("t", df("z" -> 9))
    wh.expireSnapshots("t", keepLast = 1, orphanGraceMs = 0L)
    assert(wh.listStages("t").isEmpty,
      "expiry must finalize the published marker before destroying its evidence")
    val cur = wh.currentVersion("t")
    assert(wh.publishStage("t", id) == cur)
    assert(wh.currentVersion("t") == cur, "no new commit")
    assert(wh.load("t").collect().map(_.getString(0)).toSeq == Seq("z"),
      "staged rows must not be re-applied after evidence-destroying surgery")
  }

  test("tombstone window: rename landed, delete lost — re-publish and dropStage are cleanups") {
    val root = tmpDir("wap-stone")
    val wh = new Warehouse(spark, root)
    wh.replace("t", df("a" -> 1))
    val id = wh.stageAppend("t", df("b" -> 2))
    val v1 = wh.publishStage("t", id)
    // crash between the marker→tombstone rename and the tombstone delete
    val stone = Paths.get(root, "t", s"stage-$id.append.1.published")
    Files.write(stone, Array[Byte]())
    assert(wh.publishStage("t", id) == v1, "tombstone re-publish is a pure cleanup")
    assert(!Files.exists(stone), "re-publish must consume the tombstone")
    assert(wh.currentVersion("t") == v1 && wh.load("t").count() == 2)
    // dropStage on a tombstone is the same cleanup
    Files.write(stone, Array[Byte]())
    assert(wh.dropStage("t", id))
    assert(!Files.exists(stone))
    assert(wh.load("t").count() == 2, "dropStage of a tombstone must not touch data")
  }

  test("publish is idempotent: a marker surviving the commit re-publishes as a no-op") {
    val root = tmpDir("wap-idem")
    val wh = new Warehouse(spark, root)
    wh.replace("t", df("a" -> 1))
    val id = wh.stageAppend("t", df("b" -> 2))
    val marker = {
      val s = Files.list(Paths.get(root, "t"))
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(s"stage-$id.")).toSeq.head
      finally s.close()
    }
    val markerBytes = Files.readAllBytes(marker)
    val v1 = wh.publishStage("t", id)
    // crash window: the manifest commit landed but the marker delete didn't
    Files.write(marker, markerBytes)
    val v2 = wh.publishStage("t", id)
    assert(v2 == v1, "re-publish must be a no-op returning the committed version")
    assert(wh.currentVersion("t") == v1)
    assert(wh.load("t").count() == 2, "staged rows must not be appended twice")
    assert(wh.listStages("t").isEmpty, "re-publish finishes the marker cleanup")
  }
}
