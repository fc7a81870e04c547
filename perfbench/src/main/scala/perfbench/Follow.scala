package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sink.{NearDupIngest, SearchIndexIngest, Warehouse}

/** `follow`: one op = one maintenance tick. A seeded small change (merge
  * of ~1.5 % of rows, a few deletes, a few appends) commits to `docs`,
  * which a BM25 search index and a near-dup index follow; the tick ends
  * when both index followers and a `docs$changes` stream consumer are
  * current. Set-up builds the table, both indexes and the stream; one
  * untimed warm-up tick follows it.
  */
object Follow {
  private val SearchK = 20
  private val WarmupTicks = 1
  private val query = Seq("vector", "window", "dup")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val a = ctx.args
    val man = Json.read(a.data.resolve("manifest.json"))
    val ticks = man.get("ticks")
    def src(p: String) = spark.read.parquet(a.data.resolve(p).toString)
    val docs0 = src("documents.parquet").select("doc_id", "text")

    val root = ctx.dir("wh")
    val wh = new Warehouse(spark, root.toString)
    val search = new SearchIndexIngest(wh, "doc_id", "text")
    val nearDup = new NearDupIngest(wh, "doc_id", "text")
    val changes = new ConcurrentLinkedQueue[Row]()
    val stream = ctx.setup {
      search.ingest("docs", docs0)
      nearDup.followChanges("docs")
      ctx.registerCatalog("gf", root)
      val q = spark.readStream.option("stream-start-version", "latest")
        .table("gf.`docs$changes`")
        .writeStream
        .foreachBatch { (df: Dataset[Row], _: Long) =>
          df.select("doc_id", "text", "_change_type").collect().foreach(changes.add) }
        .option("checkpointLocation", ctx.dir("checkpoint").toString)
        .start()
      q.processAllAvailable()
      q
    }

    def metaFiles(): Set[Path] = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".parquet")).toSet
    val tickMs = Seq.newBuilder[Double]
    var storedAfterFirst = 0L
    var versionAfterFirst = 0L
    def tick(t: Int): Unit = {
      val td = s"tick$t"
      val deletes = Json.longs(ticks.get(t).get("docs_delete"))
      // warm-up ticks are never traced; then every other tick is
      val traced = a.trace && t >= WarmupTicks && (t - WarmupTicks) % 2 == 0
      val metaBefore = if (traced) metaFiles() else Set.empty[Path]
      def commit[A](body: => A): A = ctx.tracer.span("sink.commit")(body)
      ctx.op("tick", traced) {
        commit(wh.morMerge("docs", src(s"$td/docs_merge_rows.parquet"), Seq("doc_id")))
        commit(wh.deleteWhere("docs", col("doc_id").isin(deletes: _*)))
        commit(wh.append("docs", src(s"$td/docs_append_rows.parquet"), statsCols = Seq("doc_id")))
        val followed = Seq(
          ctx.tracer.span("sink.index.search_follow")(search.followChanges("docs")).corpusVersion,
          ctx.tracer.span("sink.index.neardup_follow")(nearDup.followChanges("docs")).corpusVersion)
        ctx.tracer.span("streaming.catchup")(stream.processAllAvailable())
        followed
      } { followed =>
        followed.forall(_ == wh.currentVersion("docs")) && stream.exception.isEmpty
      }
      if (traced) ctx.sample("sink.metadata_files_per_tick", (metaFiles() -- metaBefore).size.toDouble)
      if (t == 0) {
        storedAfterFirst = Bench.bytesUnder(root)
        versionAfterFirst = wh.currentVersion("docs")
      }
    }
    // the first tick runs cold (class loading, JIT, codegen of the commit
    // and follow paths): warm-up, untimed and left out of every figure but
    // the checks
    (0 until WarmupTicks).foreach(tick)
    var t = WarmupTicks
    ctx.startClock()
    while (t < ticks.size && ctx.timeLeft(tickMs.result())) {
      tick(t)
      tickMs += ctx.ops.last.ms
      t += 1
    }
    stream.stop()

    // ---- output check: both indexes against ones derived from scratch over
    // the final table in plain Spark (nothing stored): BM25 search results,
    // near-dup signature and band rows; and the stream's net change ----
    val finalDocs = wh.load("docs").localCheckpoint()
    def same(what: String, served: DataFrame, scratch: DataFrame): Boolean = {
      val ok = Oracles.sameRows(served, scratch)
      if (!ok) Bench.warn(s"follow: $what differs from a from-scratch index", null)
      ok
    }
    val searchOk = same("BM25 search", search.search("docs", query, SearchK),
      Oracles.bm25(finalDocs, "doc_id", "text", query, SearchK))
    val (sigs, bands) = Oracles.minHash(finalDocs, "doc_id", "text")
    val nearDupOk = same("near-dup signatures", wh.load("docs__sigs"), sigs) &&
      same("near-dup bands", wh.load("docs__bands"), bands)
    import spark.implicits._
    val delivered = changes.asScala.toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toDF("doc_id", "text", "_change_type")
    val streamOk = Oracles.sameRows(
      Oracles.signedNet(delivered, Seq("doc_id", "text")),
      Oracles.diffNet(docs0, finalDocs, Seq("doc_id", "text")))
    if (!streamOk) Bench.warn("follow: docs$changes net differs from final minus initial", null)

    // storage of the table and its indexes after the first tick (every run
    // has one, whatever the box speed), against the table's content at that
    // point written once as snappy parquet
    val firstTick = ctx.dir("first-tick").resolve("docs")
    wh.loadVersion("docs", versionAfterFirst).coalesce(1).write.parquet(firstTick.toString)
    val stored = storedAfterFirst.toDouble /
      Bench.bytesUnder(firstTick, _.getFileName.toString.endsWith(".parquet"))

    val ticksMs = tickMs.result()
    Outcome("tick", stored, Seq(
      ("fresh_p50_ms", if (ticksMs.isEmpty) 0.0 else Stats.median(ticksMs), "ms")),
      searchOk && nearDupOk && streamOk)
  }
}
