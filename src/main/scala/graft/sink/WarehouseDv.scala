package graft.sink

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.SchemaOps

import scala.jdk.CollectionConverters._

/** Deletion-vector plumbing: per-target-file roaring bitmaps built by a
  * distributed aggregate, merged on write, probed on read
  * ([[graft.functions.expressions.DeletionVector]]).
  *
  * One of [[Warehouse]]'s section traits — a pure textual split of the
  * original single file (unchanged public face, same `private[sink]`
  * surface); the self-type is the class itself, so every member reads as
  * before.
  */
private[sink] trait WarehouseDv { self: Warehouse =>

  // ------------------------------------------------ deletion vectors (DV) --

  /** DV file schema: one row per TARGET data file — its merged roaring
    * bitmap of deleted ordinals, live cardinality, and this commit's newly
    * deleted count. One `dv<version>` parquet per positional commit.
    */
  private val DvBytesCol = "__dv_bytes"
  private val DvCardCol = "__dv_card"
  private val DvNewCol = "__dv_new"
  // LAZY: trait initializers run BEFORE the Warehouse constructor body, so
  // an eager val here would read the class's PosFileCol as null
  private lazy val DvFileSchema = StructType(Seq(
    StructField(PosFileCol, StringType, nullable = false),
    StructField(DvBytesCol, BinaryType, nullable = false),
    StructField(DvCardCol, LongType, nullable = false),
    StructField(DvNewCol, LongType, nullable = false)))

  /** Positional-delete probe for a scan of `files` under `dvs`, shipping
    * gated by total live deleted positions (`spark.graft.dv.broadcastMaxPositions`,
    * default 4M — the merge-broadcast discipline):
    *
    *   - at or under the gate: broadcast the VECTOR BYTES ([[dvMapFor]] →
    *     `DvLookup`) — one driver-side read of O(affected files) tiny rows,
    *     zero task-side IO;
    *   - over it: broadcast only (target file → dv parquet) DESCRIPTORS
    *     (`DvLazyLookup`) — ZERO driver-side vector reads, and each task
    *     point-reads just the vectors of the files it actually scans (the
    *     Delta/Iceberg puffin posture). At pathological churn the all-bytes
    *     broadcast would otherwise pressure driver and executor memory with
    *     vectors most tasks never probe.
    */
  private[sink] def dvProbeFor(name: String, dvs: Seq[DeleteFile],
                         files: Seq[DataFile]): graft.functions.expressions.DvProbe = {
    val gate = spark.conf.getOption("spark.graft.dv.broadcastMaxPositions")
      .map(_.toLong).getOrElse(4000000L)
    if (dvs.map(_.rows).sum <= gate)
      new graft.functions.expressions.DvLookup(
        spark.sparkContext.broadcast(dvMapFor(name, dvs, files)))
    else {
      val want = files.map(_.path).toSet
      val acc = scala.collection.mutable.HashMap[String, String]()
      dvs.sortBy(_.seq).foreach { d =>
        val abs = resolvePath(name, d.path)
        d.cols.foreach(t => if (want(t)) acc(t) = abs)
      }
      new graft.functions.expressions.DvLazyLookup(
        spark.sparkContext.broadcast(acc.toMap), PosFileCol, DvBytesCol)
    }
  }

  /** Latest DV bytes per target file across `dvs` (ascending seq: a later
    * vector supersedes — merge-on-write makes it a superset), restricted to
    * `want`. Driver-side read of O(affected files) tiny rows.
    */
  private[sink] def dvMapFor(name: String, dvs: Seq[DeleteFile],
                       files: Seq[DataFile]): Map[String, Array[Byte]] = {
    val want = files.map(_.path).toSet
    val acc = scala.collection.mutable.HashMap[String, Array[Byte]]()
    dvs.sortBy(_.seq).foreach { d =>
      if (d.cols.exists(want))
        spark.read.schema(DvFileSchema).parquet(resolvePath(name, d.path))
          .select(PosFileCol, DvBytesCol).collect()
          .foreach { r =>
            val f = r.getString(0)
            if (want(f)) acc(f) = r.getAs[Array[Byte]](1)
          }
    }
    acc.toMap
  }

  /** Build and write this commit's DELETION VECTORS from `pairs` ((file,
    * ordinal) rows derived from the delete-applied view): a distributed
    * roaring aggregate per target file, MERGED ON WRITE with the manifest's
    * latest DV for that file (new DV = old ∪ new — per-file delete state
    * stays ONE live vector no matter how many delete commits touch it),
    * landing as one `dv<next>` parquet. Returns (manifest delete entries,
    * newly-deleted row count). The Iceberg-v3 DV story: pair files grew
    * O(delete commits) and applied as an anti-join; vectors keep O(data
    * files) entries (superseded vectors are swept at commit) and apply as a
    * codegen'd bitmap probe.
    */
  private[sink] def writeDeletionVectors(name: String, next: Long, man: Manifest,
                                   pairs: DataFrame): (Seq[DeleteFile], Long) = {
    import scala.jdk.CollectionConverters._
    graft.functions.expressions.DvFns.register(spark)
    val F = graft.functions.expressions.DvFns
    val newAgg = pairs.groupBy(PosFileCol).agg(
      F.dvAgg(col(PosIdxCol)).as("__dv_add"),
      count(lit(1)).as(DvNewCol))
    val prevDf = spark.createDataFrame(
      latestDvRows(name, man).map { case (f, b) => Row(f, b) }.asJava,
      StructType(Seq(StructField(PosFileCol, StringType, nullable = false),
        StructField("__dv_prev", BinaryType))))
    val merged = F.dvOr(col("__dv_add"), col("__dv_prev"))
    val dvFrame = newAgg.join(broadcast(prevDf), Seq(PosFileCol), "left")
      .select(col(PosFileCol), merged.as(DvBytesCol),
        F.dvCard(merged).as(DvCardCol), col(DvNewCol))
      .coalesce(1).sortWithinPartitions(PosFileCol)
    val entries = writeData(name, dvFrame, DvFileSchema, s"dv$next",
      Seq(PosFileCol), seq = next).filter(_.rows > 0)
    if (entries.isEmpty) return (Nil, 0L)
    // targets + counts off the written (tiny, one-row-per-file) vector file
    val meta = spark.read.schema(DvFileSchema)
      .parquet(entries.map(e => resolvePath(name, e.path)): _*)
      .select(PosFileCol, DvCardCol, DvNewCol).collect()
    val targets = meta.map(_.getString(0)).toSeq.sorted
    val total = meta.map(_.getLong(1)).sum
    val fresh = meta.map(_.getLong(2)).sum
    (entries.map(e => DeleteFile(e.path, total, next, targets, e.stats, kind = "dv")),
      fresh)
  }

  /** Latest DV bytes per target across the whole manifest (merge-on-write
    * input). */
  private def latestDvRows(name: String, man: Manifest): Seq[(String, Array[Byte])] = {
    val dvs = man.deletes.filter(_.kind == "dv")
    if (dvs.isEmpty) return Nil
    val acc = scala.collection.mutable.LinkedHashMap[String, Array[Byte]]()
    dvs.sortBy(_.seq).foreach { d =>
      spark.read.schema(DvFileSchema).parquet(resolvePath(name, d.path))
        .select(PosFileCol, DvBytesCol).collect()
        .foreach(r => acc(r.getString(0)) = r.getAs[Array[Byte]](1))
    }
    acc.toSeq
  }

  /** Drop manifest DV entries every one of whose targets is covered by this
    * commit's new vector (fully superseded — the sweep that keeps delete
    * metadata O(data files) across unbounded delete churn).
    */
  private[sink] def sweepSupersededDvs(deletes: Seq[DeleteFile],
                                 targets: Set[String]): Seq[DeleteFile] =
    deletes.filterNot(d => d.kind == "dv" && d.cols.toSet.subsetOf(targets))

  /** The exact string `_metadata.file_path` yields for a manifest-relative
    * data file: `file:` + the URI-ENCODED absolute path (hadoop `Path`
    * rendering — a space becomes `%20`). Positional-delete matching joins
    * on this form rather than doing string surgery on it, so the pairs
    * themselves stay in the DECODED manifest-path domain (comparable with
    * `DataFile.path` in [[statsDisjoint]], portable across [[rename]]).
    */
  private def metaPathOf(name: String, rel: String): String =
    "file:" + new org.apache.hadoop.fs.Path(
      tableDir(name).resolve(rel).toAbsolutePath.normalize.toString).toUri.toString

  /** Attach (relative data-file path, row ordinal) columns to a scan of
    * `files` — the positional-delete identity. The metadata column is
    * materialized on the file-source relation (it is hidden elsewhere),
    * then an exact broadcast join against the manifest's own path mapping
    * converts the encoded URI to the decoded relative path: no prefix
    * arithmetic, no encoding assumptions beyond [[metaPathOf]] (spec-pinned
    * on space/percent-bearing roots), no SQL-string injection surface.
    * Shared verbatim by the write ([[positionDelete]]) and read
    * ([[morFrame]]) sides — pairs only match if both derive identically.
    */
  private[sink] def withFilePositions(name: String, files: Seq[DataFile],
                                scan: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val mapping = spark.createDataFrame(
      files.map(f => Row(metaPathOf(name, f.path), f.path)).asJava,
      StructType(Seq(StructField("__pdel_meta", StringType, nullable = false),
        StructField(PosFileCol, StringType, nullable = false))))
    scan.withColumn("__pdel_meta", col("_metadata.file_path"))
      .withColumn(PosIdxCol, col("_metadata.row_index"))
      .join(broadcast(mapping), Seq("__pdel_meta"))
      .drop("__pdel_meta")
  }

  /** All committed (non-expired) snapshot versions of a table, oldest first. */
  def history(name: String): Seq[Long] = {
    // per-ref ledger: `m<v>.manifest` on main, `m<v>@<branch>.manifest`
    // on a branch — each ledger sees only its own files
    val pat = ("m(\\d+)" + java.util.regex.Pattern.quote(refSuffix(name)) +
      "\\.manifest").r
    io.list(tableDir(name)).map(_.getFileName.toString)
      .collect { case pat(v) => v.toLong }.sorted
  }

}
