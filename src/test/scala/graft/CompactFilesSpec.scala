package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sink.Warehouse

/** Small-file compaction contract: content byte-identical, large files
  * untouched by path, clustering (partition transforms and explicit keys)
  * re-established so pruning stays sharp, pending MOR deletes materialized
  * first, prior snapshots travelable, and expiry sweeps the compacted-away
  * files.
  */
class CompactFilesSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("v", StringType)))

  private def rows(day: String, ids: Range) =
    spark.createDataFrame(ids.map(i => Row(i.toLong, java.sql.Timestamp.from(
      java.time.Instant.parse(s"${day}T0${i % 10}:00:00Z")), s"v$i")).asJava, schema)

  test("compaction shrinks the file count, keeps content identical, skips big files") {
    val wh = new Warehouse(spark, tmpDir("cf-basic"))
    // one big batch + many single-row appends (the streaming-accretion shape)
    wh.replace("t", rows("2020-01-01", 0 until 50).repartition(1), Seq("id"))
    (50 until 60).foreach(i => wh.append("t", rows("2020-01-01", i until i + 1), Seq("id")))
    val before = wh.dataFiles("t")
    assert(before.size == 11)
    val bigPath = before.maxBy(_.rows).path
    val want = wh.load("t").orderBy("id").collect().toSeq

    val vPre = wh.currentVersion("t")
    wh.compactFiles("t", smallRows = 50L)
    val after = wh.dataFiles("t")
    assert(after.size < before.size, s"${after.size} !< ${before.size}")
    assert(after.exists(_.path == bigPath), "the big file must carry over by path")
    assert(wh.load("t").orderBy("id").collect().toSeq == want, "content must not change")
    // inherited stats survive the rewrite (merge pruning keeps working)
    assert(after.forall(_.stats.contains("id")))
    // the pre-compaction snapshot still travels; expiry sweeps old smalls
    assert(wh.loadVersion("t", vPre).count() == 60)
    wh.expireSnapshots("t", keepLast = 1, orphanGraceMs = 0L)
    assert(wh.load("t").count() == 60)
  }

  test("already-compact table (or a single small file) commits nothing") {
    val wh = new Warehouse(spark, tmpDir("cf-noop"))
    wh.replace("t", rows("2020-01-01", 0 until 30).repartition(1), Seq("id"))
    wh.append("t", rows("2020-01-01", 30 until 31), Seq("id"))
    val v = wh.currentVersion("t")
    assert(wh.compactFiles("t", smallRows = 10L) == v, "no file is small")
    assert(wh.compactFiles("t", smallRows = 20L) == v, "one small file alone")
    assert(wh.currentVersion("t") == v)
  }

  test("partitioned table: compacted files keep transform bounds tight") {
    val wh = new Warehouse(spark, tmpDir("cf-part"))
    wh.create("t", schema, Seq("days(ts)"))
    // tiny per-day appends: 2 files per day over 2 days
    for (d <- Seq("2020-01-01", "2020-01-02"); s <- 0 until 2)
      wh.append("t", rows(d, s * 3 until s * 3 + 3))
    assert(wh.dataFiles("t").size == 4)
    wh.compactFiles("t", smallRows = 100L)
    val after = wh.dataFiles("t")
    assert(after.size < 4)
    after.foreach { f =>
      val s = f.stats("days(ts)")
      assert(s.min == s.max, s"compacted file ${f.path} spans days [${s.min}, ${s.max}]")
    }
    assert(wh.load("t").count() == 12)
  }

  test("byte-grain compact() on a partitioned table keeps transform bounds tight too") {
    val wh = new Warehouse(spark, tmpDir("cf-bytes-part"))
    wh.create("t", schema, Seq("days(ts)"))
    for (d <- Seq("2020-01-01", "2020-01-02"); s <- 0 until 2)
      wh.append("t", rows(d, s * 3 until s * 3 + 3))
    assert(wh.dataFiles("t").size == 4)
    wh.compact("t", targetBytes = 1L << 20) // every file is "small"
    val after = wh.dataFiles("t")
    assert(after.size < 4)
    after.foreach { f =>
      val s = f.stats("days(ts)")
      assert(s.min == s.max, s"compacted file ${f.path} spans days [${s.min}, ${s.max}]")
    }
    assert(wh.load("t").count() == 12)
  }

  test("clusterBy re-establishes probe-key ranges on a compacted index table") {
    val wh = new Warehouse(spark, tmpDir("cf-cluster"))
    val postings = StructType(Seq(
      StructField("term", StringType), StructField("pk", LongType)))
    def batch(terms: Seq[String], base: Long) = spark.createDataFrame(
      terms.zipWithIndex.map { case (t, i) => Row(t, base + i) }.asJava, postings)
    // interleaved term ranges across appends: every file spans a..z
    wh.append("p", batch(Seq("apple", "mango", "zebra"), 0), Seq("term"), Seq("term"))
    wh.append("p", batch(Seq("avocado", "melon", "zucchini"), 10), Seq("term"), Seq("term"))
    wh.append("p", batch(Seq("apricot", "mint", "yam"), 20), Seq("term"), Seq("term"))
    wh.compactFiles("p", smallRows = 100L, clusterBy = Seq("term"))
    val after = wh.dataFiles("p")
    assert(wh.load("p").count() == 9)
    // term ranges of the compacted files must be DISJOINT (range clustering),
    // so a term probe can prune — the pre-compaction files never could
    val ranges = after.map(f => (f.stats("term").min, f.stats("term").max)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"overlapping term ranges after compaction: $ranges")
      case _ => ()
    }
  }

  test("index compaction: search unchanged, probe pruning restored") {
    // BM25 postings: 3 tiny ingests -> 3 overlapping term-range files; after
    // compact, the probe prunes again and search is bit-identical
    val whS = new Warehouse(spark, tmpDir("cf-sii"))
    val ing = new graft.sink.SearchIndexIngest(whS, "doc_id", "text")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def docs(rows: (Long, String)*) = spark.createDataFrame(
      rows.map(r => Row(r._1, r._2)).asJava, docSchema)
    ing.ingest("c", docs(1L -> "apple merge zebra", 2L -> "mango spark yam"))
    ing.ingest("c", docs(3L -> "avocado merge zoo", 4L -> "melon spark wasabi"))
    ing.ingest("c", docs(5L -> "apricot merge zinc", 6L -> "mint spark walnut"))
    val before = ing.search("c", Seq("merge", "spark"), k = 10).collect().toSeq
    val filesBefore = whS.dataFiles("c__postings").size
    ing.compact("c")
    assert(whS.dataFiles("c__postings").size < filesBefore)
    assert(ing.search("c", Seq("merge", "spark"), k = 10).collect().toSeq == before,
      "compaction must not change search results")
    // disjoint term ranges: a one-term probe opens fewer files than exist
    assert(filesScanned(whS.load("c__postings")).nonEmpty, "an unfiltered read sees the files")
    assert(filesScanned(ing.probePostings("c", Seq("merge"))).size <
      whS.dataFiles("c__postings").size.max(2))
  }

  test("pending MOR deletes materialize before compaction — no resurrection") {
    val wh = new Warehouse(spark, tmpDir("cf-mor"))
    (0 until 3).foreach(i => wh.append("t", rows("2020-01-01", i * 2 until i * 2 + 2), Seq("id")))
    wh.equalityDelete("t", spark.createDataFrame(Seq(Row(1L), Row(4L)).asJava,
      StructType(Seq(StructField("id", LongType)))))
    wh.compactFiles("t", smallRows = 100L)
    assert(wh.currentManifest("t").deletes.isEmpty, "compaction must materialize deletes")
    assert(wh.load("t").select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 2L, 3L, 5L))
  }
}
