package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{IvfPq, ProductQuantization, VectorFns}
import graft.functions.ProductQuantization.PQModel

/** Incremental warehouse-resident VECTOR index — the ANN member of the
  * index-beside-corpus family ([[NearDupIngest]] near-dup, [[SearchIndexIngest]]
  * BM25): IVF-PQ cells and codes maintained as warehouse tables so vector
  * search serves from the index at O(query) while ingestion costs O(batch),
  * never a corpus rescan or a retrain.
  *
  * The scale problem this solves: the batch ANN queries (q60/q65, IvfPq)
  * re-read the float corpus per search and re-train per build — fine for an
  * audit, wrong for a serving path at 100 TB. Here the float corpus is read
  * once per ingest batch and never at query time:
  *
  *   `<name>__cells` (cell, cv) — FROZEN IVF coarse centroids;
  *   `<name>__codebook` (sub_id, cell, cv) — FROZEN PQ codebooks (M*K rows);
  *   `<name>__codes` (pk, cell, codes: array<int>) — the per-vector index
  *     rows, range-CLUSTERED on `cell` with per-file cell/pk stats, so a
  *     search's manifest probe prunes to the files of its `nprobe` cells —
  *     the IVF posting-list analog of [[SearchIndexIngest]]'s term-range
  *     postings.
  *
  * Frozen-artifact discipline (the `BpeMerges` pattern): centroids and
  * codebooks are committed ONCE at [[freeze]] and never drift — every batch
  * is assigned and encoded against the same model, so codes from different
  * batches are mutually comparable and a search result is independent of
  * HOW the corpus was batched (spec-proven). Re-freezing is refused once
  * codes exist: a codebook change would silently invalidate every committed
  * code. Model refresh = a new index name, built beside, swapped by
  * [[swapFamily]] ([[Warehouse.renameAll]] — corpus/cells/codebook/codes
  * move under ONE durable intent, so a reader sees the old family or the
  * new one, never a mix) — the same blue/green trade FAISS shops make.
  *
  * Commit discipline and replay safety ([[SearchIndexIngest]]'s): an
  * [[ingest]] lands its codes (idempotent by pk — anti-join against stored
  * pks) and its pk-deduplicated corpus rows as ONE [[Warehouse.transact]]
  * unit, so a crashed ingest commits nothing and a replay lands the batch
  * exactly once.
  *
  * Search algebra is EXACTLY [[IvfPq.search]] (nprobe cells by centroid
  * cosine, broadcast ADC distance table, exact-decimal lookup sums,
  * (adc_d2 ASC, pk ASC) ranking) — the spec pins index-served equals
  * directly-built, and q133 oracle-gates the same algebra end to end.
  */
final class VectorIndexIngest(wh: Warehouse, pkCol: String, vecCol: String,
                              dim: Int, m: Int, k: Int) {
  require(dim % m == 0, s"dim $dim not divisible by m $m")
  private val subDim = dim / m

  final case class Report(version: Long, appended: Long, codes: Long)

  private def cellsTable(name: String) = s"${name}__cells"
  private def codebookTable(name: String) = s"${name}__codebook"
  private def codesTable(name: String) = s"${name}__codes"

  // ---- model-format stamp -----------------------------------------------
  // [[NearDupIngest]]'s stamp discipline on the frozen model: the shape
  // check at [[freeze]] only protects the freezing instance — an ingester
  // constructed later with different (dim, m, k) would reinterpret the
  // stored codebook through ITS shape (PQModel(load(codebook), m, k,
  // subDim)) and compute ADC distances against a foreign codebook, wrong
  // results with no error anywhere; a metric change (generation) has the
  // identical failure mode. The stamp rides the codebook table (see
  // [[IndexFamily]]), recorded BEFORE the model tables commit (no
  // stampless-but-frozen crash state: a stamp without tables is inert,
  // since frozen() requires the tables). Generation 1 = cosine coarse
  // metric + the current PQ encode algebra.
  private[sink] val formatStamp: Long =
    (1L << 48) | (dim.toLong << 32) | (m.toLong << 16) | k.toLong

  private def refusal(name: String, got: Long): String =
    if (got < 0)
      s"vector index for '$name' carries no model-format stamp — it was frozen " +
        "before format stamping. If its model provably matches this ingester " +
        s"(generation 1, dim=$dim, m=$m, k=$k), adopt it explicitly with " +
        "adoptFormat(name); otherwise build a new index under a new name and " +
        "swap by swapFamily."
    else {
      val g = got >> 48; val gd = (got >> 32) & 0xffff
      val gm = (got >> 16) & 0xffff; val gk = got & 0xffff
      s"vector index for '$name' was frozen with an incompatible model format " +
        s"(generation $g, dim=$gd, m=$gm, k=$gk; this ingester: generation 1, " +
        s"dim=$dim, m=$m, k=$k). Codes and ADC distances are only meaningful " +
        "against the codebook that produced them — construct VectorIndexIngest " +
        "with the index's parameters, or build a new index and swapFamily."
    }

  private val family = new IndexFamily(wh, pkCol,
    stampOn = "__codebook", stampSid = "vecformat", stampValue = formatStamp, refusal,
    ledgerOn = "__codes", retractOn = Seq("__codes"))

  /** Operator override for a pre-stamp index KNOWN to match this ingester's
    * model shape and metric: records the stamp so the guard passes.
    */
  def adoptFormat(name: String): Unit =
    family.adopt(name, s"no frozen model for index: $name")

  /** Commit the frozen model: IVF centroids (cell, cv) + PQ codebook
    * (sub_id, cell, cv). Refused once any codes are committed — codes are
    * only meaningful against the codebook that produced them.
    */
  def freeze(name: String, centroids: DataFrame, model: PQModel): Unit = {
    require(!wh.exists(codesTable(name)),
      s"$name already has committed codes; a model change would invalidate them — " +
        "build a new index under a new name and swap by rename")
    require(model.m == m && model.k == k && model.subDim == subDim,
      s"model shape (m=${model.m}, k=${model.k}, subDim=${model.subDim}) does not " +
        s"match this ingester (m=$m, k=$k, subDim=$subDim)")
    // (no guard here: the codes-exist require above already makes a
    // wholesale model replace safe — nothing encoded against the old model
    // survives it)
    // stamp FIRST: a stamp without tables is inert (frozen() requires the
    // tables), so no crash point leaves a frozen-but-stampless model
    family.stamp(name)
    // cell ids normalize to long: one comparison domain for the manifest
    // stat prune, the isin residual, and the driver-side probed-cell set
    wh.replace(cellsTable(name), centroids.select(col("cell").cast("long").as("cell"), col("cv")))
    wh.replace(codebookTable(name),
      model.codebook.select(col("sub_id"), col("cell"), col("cv")))
  }

  private def frozen(name: String): (DataFrame, PQModel) = {
    require(wh.exists(cellsTable(name)) && wh.exists(codebookTable(name)),
      s"no frozen model for index $name (freeze first)")
    family.guard(name) // the stored codebook must match THIS shape/metric
    (wh.load(cellsTable(name)),
      PQModel(wh.load(codebookTable(name)), m, k, subDim))
  }

  /** Coarse-assign a batch against the frozen centroids: argmax cosine,
    * ties on cell ASC — bit-identical to [[IvfPq.search]]'s probe-side
    * assignment, so a vector's own cell is always among its probe cells.
    *
    * Argmax as ONE aggregate instead of a row_number window (the
    * [[graft.functions.ProductQuantization]] reassign rationale):
    * `max(struct(cscore, -cell))` is exactly (cscore DESC, cell ASC) —
    * including NaN ordering, since NaN ranks greatest under both the
    * window's DESC sort and struct max — with map-side partial aggregation
    * collapsing the batch × cells fan-out before the exchange.
    */
  private def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .withColumn("cscore", VectorFns.cosine(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(max(struct(col("cscore"), (-col("cell")).as("negcell"))).as("__m"))
      .select(col("vec_id"), (-col("__m.negcell")).as("cell"))

  /** Assign + encode `batch` (one row per pk) against the frozen model:
    * its NEW pks' code rows, materialized — their `cell`-clustered write
    * sizes them exactly ([[Warehouse]]'s small-batch gate), and ingest
    * counts them after its commit.
    */
  private def encoded(name: String, batch: DataFrame,
                      cents: DataFrame, model: PQModel): DataFrame = {
    val emb = batch.select(col(pkCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    val codes = ProductQuantization.encode(emb, model)
      .join(assignCells(emb, cents), "vec_id")
      .select(col("vec_id").as(pkCol), col("cell"), col("codes"))
    family.newByPk(codesTable(name), codes).localCheckpoint()
  }

  /** Ingest one batch of (pk, vec) rows: one row per pk BEFORE encode (a
    * duplicate pk would flow through encode's groupBy(vec_id)/collect_list
    * as a 2M-length codes array whose posexplode positions misalign sub_ids
    * in the ADC join, and the corrupt row would then block a correct
    * re-ingest), assign + encode against the frozen model, then codes
    * (clustered by cell: each file's [min,max] cell stats are TIGHT, so a
    * search's manifest probe touches ~nprobe/cells of the files) and the
    * pk-deduplicated corpus rows as ONE transaction. All O(batch).
    */
  def ingest(name: String, df: DataFrame): Report = {
    val (cents, model) = frozen(name)
    // materialized once: encode + cell assignment are two join sides over
    // it, and the corpus anti-join reads it again
    val batch = family.keepers(df)
    val newCodes = encoded(name, batch, cents, model)
    val fresh = family.newByPk(name, batch).localCheckpoint()
    val preV = wh.currentVersion(name)
    wh.transact { tx =>
      tx.append(codesTable(name), newCodes,
        statsCols = Seq("cell", pkCol), clusterBy = Seq("cell"))
      tx.append(name, fresh, statsCols = Seq(pkCol))
    }
    family.advance(name, preV)
    Report(wh.currentVersion(name), fresh.count(), newCodes.count())
  }

  final case class FollowReport(corpusVersion: Long, deletedVecs: Long, indexedVecs: Long)

  /** INCREMENTAL INDEX MAINTENANCE from the corpus change feed — the vector
    * sibling of [[SearchIndexIngest.followChanges]], one
    * [[IndexFamily.follow]] tick: corpus deletes and update-retractions
    * become ONE equality-delete commit on the codes table keyed by pk
    * (O(changed pks) metadata, zero code-file rewrites), and
    * inserted/updated vectors re-encode against the SAME frozen model
    * through the idempotent-by-pk append — an updated embedding thereby
    * MOVES to the cell its new vector assigns to, with no blue/green
    * rebuild and no retrain. Ledger semantics and the pre-ledger bootstrap
    * caveat match the search follower.
    */
  def followChanges(name: String): FollowReport = {
    val (cents, model) = frozen(name)
    require(wh.exists(codesTable(name)),
      s"no vector index for table: $name (ingest first)")
    val (v, deleted, indexed) = family.follow(name) { ins =>
      val batch = family.keepers(ins)
      // one row per pk, so the (materialized) row count is the distinct-pk
      // count — no extra shuffle
      val n = batch.count()
      if (n > 0) wh.append(codesTable(name), encoded(name, batch, cents, model),
        statsCols = Seq("cell", pkCol), clusterBy = Seq("cell"))
      n
    }
    FollowReport(v, deleted, indexed)
  }

  /** Compact the codes table's ingest-granularity files clustered on `cell`
    * ([[IndexFamily.compact]]): restores the ~nprobe/cells probe cost;
    * search results are unchanged (spec-pinned).
    */
  def compact(name: String, smallRows: Long = 100000L): Unit =
    IndexFamily.compact(wh, name, smallRows)

  /** Blue/green swap: promote the complete family built under `from`
    * (corpus + frozen model + codes) to `to` in ONE atomic intent
    * ([[Warehouse.renameAll]]) — a searcher resolves the whole old family
    * or the whole new one, never a frankenindex; a crash mid-swap
    * converges on the next access. The retiring `to` family (when present)
    * moves aside to `<to>__retired_<n>` in the same intent.
    */
  def swapFamily(from: String, to: String): Unit = {
    val parts = Seq("", "__cells", "__codebook", "__codes")
    val retire =
      if (!wh.exists(to)) Nil
      else {
        var n = 0
        while (wh.exists(s"${to}__retired_$n")) n += 1
        parts.map(p => s"$to$p" -> s"${to}__retired_$n$p")
          .filter { case (f, _) => wh.exists(f) }
      }
    wh.renameAll(retire ++
      parts.map(p => s"$from$p" -> s"$to$p").filter { case (f, _) => wh.exists(f) })
  }

  /** Code rows of `cells` only: a filter on the codes snapshot
    * ([[Warehouse.load]]), so the catalog rules skip every file whose
    * `cell` bounds hold none of them and splice pending retractions.
    */
  private[graft] def probeCodes(name: String, cells: Seq[Long]): DataFrame =
    wh.load(codesTable(name)).filter(col("cell").isin(cells: _*))

  /** Top-`k` ADC search over the index: per-probe `nprobe` cells by frozen-
    * centroid cosine, codes read ONLY from the pruned cell files, scored by
    * [[IvfPq.search]]'s exact algebra — the float corpus is never read.
    * The probed cell set is collected driver-side to drive the manifest
    * prune: bounded by probes x nprobe (and by the cell count), metadata-
    * scale like every other manifest decision. `excludeSelf` drops each
    * probe's own corpus row (recall-audit shape).
    *
    * `confirmed = true` semi-joins codes against current corpus membership
    * (one pk-pruned column probe) — the follower-lag shield: between a
    * corpus deleteWhere/morMerge and the [[followChanges]] tick that
    * consumes it, the index still ranks the deleted (or pre-update) pk,
    * and only the confirmed search hides it.
    */
  def search(name: String, probes: DataFrame, nprobe: Int = 2, topK: Int = 10,
             confirmed: Boolean = false, excludeSelf: Boolean = false): DataFrame = {
    val (cents, model) = frozen(name)
    val centsB = broadcast(cents).persist() // consumers: cell pick here + IvfPq.search
    try {
      val w = Window.partitionBy("probe_id").orderBy(col("cscore").desc, col("cell").asc)
      val cells = probes.crossJoin(centsB)
        .withColumn("cscore", VectorFns.cosine(col("pv"), col("cv")))
        .withColumn("r", row_number().over(w)).filter(col("r") <= nprobe)
        .select("cell").distinct().collect().map(_.getLong(0)).toSeq.sorted
      val codes0 = probeCodes(name, cells)
        .withColumnRenamed(pkCol, "vec_id")
      val codes =
        if (!confirmed) codes0
        else codes0.join(wh.load(name).select(col(pkCol).as("vec_id")),
          Seq("vec_id"), "left_semi")
      IvfPq.search(probes, IvfPq.Index(centsB, codes, model), nprobe, topK, excludeSelf)
        .withColumnRenamed("vec_id", pkCol)
    } finally centsB.unpersist()
  }
}
