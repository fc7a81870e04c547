package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{IvfPq, ProductQuantization, VectorFns}
import graft.sink.{VectorIndexIngest, Warehouse}

/** Warehouse-resident vector index contract: index-served ADC search equals
  * the directly-built [[IvfPq]] index (and, at full probe width, plain
  * [[ProductQuantization.adcTopK]]) on the same data regardless of how
  * ingestion was batched; replay converges from any crash prefix without
  * accreting code rows; the cell probe prunes code files by manifest stats;
  * and the frozen model cannot drift under committed codes.
  */
class VectorIndexIngestSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val DIM = 8
  private val M = 2
  private val K = 4

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("emb", ArrayType(DoubleType))))

  /** 3-anchor synthetic corpus with DIRECTIONAL anchors (disjoint dimension
    * blocks) — cosine is scale-invariant, so anchors must differ in
    * direction, not magnitude, for cell assignment to separate. Vector i
    * clusters around anchor (i % 3) with deterministic per-position jitter.
    */
  private def block(p: Int) = math.min(p / 3, 2)

  private def vecs(ids: Range): DataFrame = {
    val rows = ids.map { i =>
      Row(i.toLong, (0 until DIM).map(p =>
        (if (block(p) == i % 3) 10.0 else 0.0) + 0.1 * ((i * 7 + p) % 5)).toArray)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private val cellCents = {
    val rows = (0 until 3).map(c =>
      Row(c.toLong, (0 until DIM).map(p => if (block(p) == c) 10.0 else 0.0).toArray))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("cell", LongType), StructField("cv", ArrayType(DoubleType)))))
  }

  private def emb(df: DataFrame) =
    df.select(col("id").as("vec_id"), col("emb").as("v"))

  private def probesOf(df: DataFrame, n: Int) =
    emb(df).filter(col("vec_id") < n)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))

  private def ingester(wh: Warehouse) =
    new VectorIndexIngest(wh, "id", "emb", DIM, M, K)

  /** Directly-built index over the full corpus — the independent arbiter:
    * same frozen model, same cosine-argmax cell assignment (ties cell ASC).
    */
  private def directIndex(df: DataFrame, model: ProductQuantization.PQModel): IvfPq.Index = {
    val w = Window.partitionBy("vec_id").orderBy(col("cscore").desc, col("cell").asc)
    val cellsOf = emb(df).crossJoin(broadcast(cellCents))
      .withColumn("cscore", VectorFns.cosine(col("v"), col("cv")))
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("vec_id"), col("cell"))
    IvfPq.Index(cellCents,
      ProductQuantization.encode(emb(df), model).join(cellsOf, "vec_id"), model)
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy("probe_id", "rank").collect().toSeq

  test("index-served search equals the directly-built index, however batched") {
    val all = vecs(0 until 24)
    val model = ProductQuantization.initCodebook(emb(all), DIM, M, K)
    val want = sorted(IvfPq.search(probesOf(all, 2), directIndex(all, model),
      nprobe = 2, topK = 5))

    // one batch
    val wh1 = new Warehouse(spark, tmpDir("vii-one"))
    val ing1 = ingester(wh1)
    ing1.freeze("v", cellCents, model)
    val rep = ing1.ingest("v", all)
    assert(rep.appended == 24 && rep.codes == 24, rep.toString)
    assert(sorted(ing1.search("v", probesOf(all, 2), nprobe = 2, topK = 5)
      .withColumnRenamed("id", "vec_id")) == want)

    // three batches: same serving state from a different batching
    val wh3 = new Warehouse(spark, tmpDir("vii-three"))
    val ing3 = ingester(wh3)
    ing3.freeze("v", cellCents, model)
    Seq(0 until 8, 8 until 16, 16 until 24).foreach(r => ing3.ingest("v", vecs(r)))
    assert(wh3.load("v__codes").count() == 24)
    assert(sorted(ing3.search("v", probesOf(all, 2), nprobe = 2, topK = 5)
      .withColumnRenamed("id", "vec_id")) == want)

    // full probe width == plain ADC over every code (search completeness);
    // a TRAINED frozen model serves identically to the init one in kind
    val adc = sorted(ProductQuantization.adcTopK(probesOf(all, 2),
      wh3.load("v__codes").select(col("id").as("vec_id"), col("codes")), model, topK = 5))
    assert(sorted(ing3.search("v", probesOf(all, 2), nprobe = 3, topK = 5)
      .withColumnRenamed("id", "vec_id")
      .select("probe_id", "rank", "vec_id", "adc_d2")) == adc)
  }

  // `ingest` is the one-transaction path; the case keeps the name it had
  // when a second, multi-commit path existed beside it
  test("ingestAtomic: one-transaction ingest serves identically, mixes with ingest(), replay-inert") {
    val all = vecs(0 until 24)
    val model = ProductQuantization.initCodebook(emb(all), DIM, M, K)
    val want = sorted(IvfPq.search(probesOf(all, 2), directIndex(all, model),
      nprobe = 2, topK = 5))
    val wh = new Warehouse(spark, tmpDir("vii-atomic"))
    val ing = ingester(wh)
    ing.freeze("v", cellCents, model)
    val rep = ing.ingest("v", vecs(0 until 12))
    assert(rep.appended == 12 && rep.codes == 12, rep.toString)
    ing.ingest("v", vecs(12 until 24)) // two transactions on ONE index
    assert(wh.load("v__codes").count() == 24 && wh.load("v").count() == 24)
    assert(sorted(ing.search("v", probesOf(all, 2), nprobe = 2, topK = 5)
      .withColumnRenamed("id", "vec_id")) == want)
    // replaying the first batch appends nothing anywhere
    val rep2 = ing.ingest("v", vecs(0 until 12))
    assert(rep2.appended == 0 && rep2.codes == 0, rep2.toString)
    assert(wh.load("v__codes").count() == 24 && wh.load("v").count() == 24)
  }

  test("followChanges: deletes retract codes, updated vectors MOVE cells; no code rewrites") {
    val all = vecs(0 until 24)
    val model = ProductQuantization.initCodebook(emb(all), DIM, M, K)
    val wh = new Warehouse(spark, tmpDir("vii-follow"))
    val ing = ingester(wh)
    ing.freeze("v", cellCents, model)
    ing.ingest("v", vecs(0 until 12))
    ing.ingest("v", vecs(12 until 24))
    val preMan = wh.currentManifest("v__codes")
    val preCell = wh.load("v__codes").filter(col("id") === 9L)
      .select("cell").head().getLong(0)
    // out-of-band mutation: vector 9 re-anchored to a DIFFERENT direction
    // (must move cells under the frozen model), vectors 7 and 14 deleted
    val moved = spark.createDataFrame(Seq(
      Row(9L, (0 until DIM).map(p =>
        (if (block(p) == (9 % 3 + 1) % 3) 10.0 else 0.0) + 0.01 * p).toArray)).asJava, schema)
    wh.morMerge("v", moved, Seq("id"))
    wh.deleteWhere("v", col("id").isin(7L, 14L))
    val rep = ing.followChanges("v")
    assert(rep.deletedVecs == 3 && rep.indexedVecs == 1, rep.toString)
    // the updated vector MOVED to its new direction's cell
    val postCell = wh.load("v__codes").filter(col("id") === 9L)
      .select("cell").head().getLong(0)
    assert(postCell == ((9 % 3 + 1) % 3).toLong && postCell != preCell,
      s"cell $preCell -> $postCell")
    // deleted vectors are gone from the served codes
    assert(wh.load("v__codes").filter(col("id").isin(7L, 14L)).count() == 0)
    assert(wh.load("v__codes").count() == 22)
    // served search equals the directly-built index over the FINAL corpus
    // (same frozen model — trained before the mutations, like the index's)
    val fin = all.filter(!col("id").isin(7L, 9L, 14L)).unionByName(moved)
    val want = sorted(IvfPq.search(probesOf(all, 2), directIndex(fin, model),
      nprobe = 3, topK = 5))
    assert(sorted(ing.search("v", probesOf(all, 2), nprobe = 3, topK = 5)
      .withColumnRenamed("id", "vec_id")) == want)
    // O(changes), spec-counted: pre-existing code files survive unrewritten;
    // the only fresh file is the moved vector's single code row
    val postMan = wh.currentManifest("v__codes")
    val prePaths = preMan.files.map(_.path).toSet
    assert(preMan.files.forall(f => postMan.files.exists(_.path == f.path)),
      "followChanges must not rewrite existing code files")
    assert(postMan.files.filterNot(f => prePaths(f.path)).map(_.rows).sum == 1)
    assert(postMan.deletes.nonEmpty, "retraction must land as delete entries")
    // idempotent
    val rep2 = ing.followChanges("v")
    assert(rep2.deletedVecs == 0 && rep2.indexedVecs == 0)
  }

  test("duplicate-pk batch: one survivor per pk, codes stay well-formed") {
    // un-deduped, a duplicate pk flows through encode's collect_list as a
    // 2M-length codes array that misaligns ADC sub_ids AND permanently
    // blocks a correct re-ingest via the left_anti pk guard
    val model = ProductQuantization.initCodebook(emb(vecs(0 until 12)), DIM, M, K)
    val clean = new Warehouse(spark, tmpDir("vii-dup-clean"))
    val ingClean = ingester(clean)
    ingClean.freeze("v", cellCents, model)
    ingClean.ingest("v", vecs(0 until 12))

    val wh = new Warehouse(spark, tmpDir("vii-dup"))
    val ing = ingester(wh)
    ing.freeze("v", cellCents, model)
    // every row duplicated (streaming-replay shape: same pk, same vector)
    val rep = ing.ingest("v", vecs(0 until 12).union(vecs(0 until 12)))
    assert(rep.appended == 12 && rep.codes == 12, rep.toString)
    // exactly one code row per pk, every codes array exactly M long
    val badLen = wh.load("v__codes")
      .filter(size(col("codes")) =!= M).count()
    assert(badLen == 0, s"$badLen malformed codes arrays")
    assert(wh.load("v__codes").select("id").distinct().count() == 12)
    // serving state identical to the never-duplicated twin
    val probes = probesOf(vecs(0 until 12), 2)
    assert(sorted(ing.search("v", probes, nprobe = 2, topK = 5)
      .withColumnRenamed("id", "vec_id")) ==
      sorted(ingClean.search("v", probes, nprobe = 2, topK = 5)
        .withColumnRenamed("id", "vec_id")))
  }

  test("replaying a completed batch appends nothing anywhere") {
    val wh = new Warehouse(spark, tmpDir("vii-replay"))
    val ing = ingester(wh)
    ing.freeze("v", cellCents,
      ProductQuantization.initCodebook(emb(vecs(0 until 12)), DIM, M, K))
    ing.ingest("v", vecs(0 until 12))
    val counts = Seq("v", "v__codes").map(t => wh.load(t).count())
    val rep = ing.ingest("v", vecs(0 until 12))
    assert(rep.appended == 0 && rep.codes == 0, rep.toString)
    assert(Seq("v", "v__codes").map(t => wh.load(t).count()) == counts)
  }

  test("crash atomicity: a failed ingest lands no index row; replay lands once") {
    val root = tmpDir("vii-crash-atomic")
    val wh = new Warehouse(spark, root)
    val ing = ingester(wh)
    ing.freeze("v", cellCents,
      ProductQuantization.initCodebook(emb(vecs(0 until 12)), DIM, M, K))
    // make the CORPUS commit fail deterministically: a plain file squats on
    // the corpus table dir, so Files.createDirectories throws
    val squatter = java.nio.file.Paths.get(root, "v")
    java.nio.file.Files.writeString(squatter, "x")
    def rows(t: String) = if (wh.exists(t)) wh.load(t).count() else 0L
    intercept[java.nio.file.FileAlreadyExistsException](ing.ingest("v", vecs(0 until 12)))
    // one transaction: no code row without its corpus row
    assert(rows("v__codes") == 0L, "a failed ingest must land no index row")
    java.nio.file.Files.delete(squatter)
    val rep = ing.ingest("v", vecs(0 until 12))
    assert(rep.appended == 12 && rep.codes == 12, rep.toString)
    // exactly once: a further replay appends nothing anywhere
    assert(ing.ingest("v", vecs(0 until 12)).appended == 0)
    assert(Seq("v", "v__codes").map(rows) == Seq(12L, 12L))
  }

  test("confirmed search hides a corpus delete the follower has not consumed") {
    val wh = new Warehouse(spark, tmpDir("vii-lag"))
    val ing = ingester(wh)
    ing.freeze("v", cellCents,
      ProductQuantization.initCodebook(emb(vecs(0 until 12)), DIM, M, K))
    ing.ingest("v", vecs(0 until 12))
    wh.deleteWhere("v", col("id") === 3L)
    def hits(confirmed: Boolean) =
      ing.search("v", probesOf(vecs(0 until 12), 1), nprobe = 3, topK = 12,
        confirmed = confirmed).select("id").collect().map(_.getLong(0)).toSet
    // before followChanges the index still ranks vector 3: only the
    // confirmed search shields it
    assert(hits(confirmed = false).contains(3L), "premise: the lagging index ranks vector 3")
    assert(!hits(confirmed = true).contains(3L), "confirmed search must hide the deleted vector")
    ing.followChanges("v")
    assert(!hits(confirmed = false).contains(3L))
  }

  test("crash healing: codes-only prefix converges on replay; orphans shieldable") {
    val model = ProductQuantization.initCodebook(emb(vecs(0 until 16)), DIM, M, K)
    val whFull = new Warehouse(spark, tmpDir("vii-crash-full"))
    val ingFull = ingester(whFull)
    ingFull.freeze("v", cellCents, model)
    ingFull.ingest("v", vecs(0 until 8))
    ingFull.ingest("v", vecs(8 until 16))

    // crashed twin: batch 2 died after ONLY the codes commit landed
    val wh = new Warehouse(spark, tmpDir("vii-crash"))
    val ing = ingester(wh)
    ing.freeze("v", cellCents, model)
    ing.ingest("v", vecs(0 until 8))
    wh.append("v__codes",
      whFull.load("v__codes").filter(col("id") >= 8),
      statsCols = Seq("cell", "id"), clusterBy = Seq("cell"))

    // orphan window: default search surfaces the uncommitted pks, confirmed
    // search shields them via corpus membership
    val probes = probesOf(vecs(0 until 16), 1)
    val open = ing.search("v", probes, nprobe = 3, topK = 16)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(open.exists(_ >= 8L), "codes-only rows should be visible unshielded")
    val shielded = ing.search("v", probes, nprobe = 3, topK = 16, confirmed = true)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(shielded.forall(_ < 8L), s"orphans must not pass confirmed search: $shielded")

    // replay converges both tables to the fully-committed twin's state
    val rep = ing.ingest("v", vecs(8 until 16))
    assert(rep.codes == 0, "surviving code rows must not be re-appended")
    assert(rep.appended == 8, "the corpus append must admit the lost rows")
    for (t <- Seq("v", "v__codes"))
      assert(wh.load(t).count() == whFull.load(t).count(), s"$t diverged")
    assert(sorted(ing.search("v", probes, nprobe = 2, topK = 5)
      .withColumnRenamed("id", "vec_id")) ==
      sorted(ingFull.search("v", probes, nprobe = 2, topK = 5)
        .withColumnRenamed("id", "vec_id")))
  }

  test("cell probe prunes code files via manifest stats") {
    val wh = new Warehouse(spark, tmpDir("vii-prune"))
    val ing = ingester(wh)
    ing.freeze("v", cellCents,
      ProductQuantization.initCodebook(emb(vecs(0 until 24)), DIM, M, K))
    // per-batch disjoint cells (ids stride 3 share an anchor): each code
    // file's [min,max] cell stats are then provably disjoint across batches
    Seq(0 until 24 by 3, 1 until 24 by 3, 2 until 24 by 3)
      .foreach(r => ing.ingest("v", vecs(r)))
    val all = wh.dataFiles("v__codes").size
    assert(filesScanned(wh.load("v__codes")).size == all, "an unfiltered read sees every file")
    val probe = ing.probeCodes("v", Seq(1L))
    assert(filesScanned(probe).size < all,
      s"probe read ${filesScanned(probe).size} of $all files — no pruning")
    // every kept row really is the probed cell's
    assert(probe.select("cell").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a cell outside every file's range reads nothing
    assert(filesScanned(ing.probeCodes("v", Seq(99L))).isEmpty)
  }

  test("codes compaction: search unchanged, fewer files") {
    val wh = new Warehouse(spark, tmpDir("vii-compact"))
    val ing = ingester(wh)
    ing.freeze("v", cellCents,
      ProductQuantization.initCodebook(emb(vecs(0 until 24)), DIM, M, K))
    // mixed-cell micro-batches: one codes file per ingest, all spanning cells
    Seq(0 until 8, 8 until 16, 16 until 24).foreach(r => ing.ingest("v", vecs(r)))
    val probes = probesOf(vecs(0 until 24), 2)
    val before = sorted(ing.search("v", probes, nprobe = 2, topK = 5)
      .withColumnRenamed("id", "vec_id"))
    val filesBefore = wh.dataFiles("v__codes").size
    ing.compact("v")
    assert(wh.dataFiles("v__codes").size < filesBefore)
    assert(sorted(ing.search("v", probes, nprobe = 2, topK = 5)
      .withColumnRenamed("id", "vec_id")) == before,
      "compaction must not change search results")
  }

  test("frozen means frozen: re-freeze under committed codes and shape drift refuse") {
    val wh = new Warehouse(spark, tmpDir("vii-freeze"))
    val ing = ingester(wh)
    val model = ProductQuantization.initCodebook(emb(vecs(0 until 8)), DIM, M, K)
    ing.freeze("v", cellCents, model)
    // re-freeze BEFORE any codes is allowed (idempotent bootstrap)
    ing.freeze("v", cellCents, model)
    ing.ingest("v", vecs(0 until 8))
    val err = intercept[IllegalArgumentException] { ing.freeze("v", cellCents, model) }
    assert(err.getMessage.contains("committed codes"))
    // model whose shape disagrees with the ingester fails loudly
    val wrong = ProductQuantization.initCodebook(emb(vecs(0 until 8)), DIM, 4, K)
    intercept[IllegalArgumentException] { ingester(wh).freeze("w", cellCents, wrong) }
  }

  test("model-format stamp: a foreign-shape ingester refuses the stored codebook") {
    // the round-17 gap: freeze's shape check only protects the FREEZING
    // instance — an ingester constructed later with different (m, k) would
    // reinterpret the stored codebook through its own shape and compute
    // ADC distances against a foreign codebook, silently wrong everywhere
    val root = tmpDir("vii-fmt")
    val wh = new Warehouse(spark, root)
    val ing = ingester(wh)
    val model = ProductQuantization.initCodebook(emb(vecs(0 until 8)), DIM, M, K)
    ing.freeze("v", cellCents, model)
    ing.ingest("v", vecs(0 until 8))
    // same-parameter instance keeps working (the stamp matches)
    assert(ingester(wh).search("v", probesOf(vecs(0 until 8), 2)).collect().nonEmpty)
    // an alien-shape instance refuses EVERY model-reading entry point
    val alien = new VectorIndexIngest(wh, "id", "emb", DIM, 4, K)
    val e1 = intercept[IllegalStateException](alien.ingest("v", vecs(8 until 10)))
    assert(e1.getMessage.contains("incompatible model format"), e1.getMessage)
    val e2 = intercept[IllegalStateException](
      alien.search("v", probesOf(vecs(0 until 8), 2)))
    assert(e2.getMessage.contains("incompatible"), e2.getMessage)
    val e3 = intercept[IllegalStateException](alien.followChanges("v"))
    assert(e3.getMessage.contains("incompatible"), e3.getMessage)
    // pre-stamp model (stamp ledger wiped): refuses until adopted
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "v__codebook", "_stream_vecformat"))
    val e4 = intercept[IllegalStateException](ing.search("v", probesOf(vecs(0 until 8), 2)))
    assert(e4.getMessage.contains("no model-format stamp") &&
      e4.getMessage.contains("adoptFormat"), e4.getMessage)
    ing.adoptFormat("v")
    assert(ing.search("v", probesOf(vecs(0 until 8), 2)).collect().nonEmpty)
  }
}
