package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Incremental INVERTED-INDEX ingestion — the search-serving sibling of
  * [[NearDupIngest]] (q113's BM25 algebra served from index tables instead
  * of a corpus scan).
  *
  * The scale problem this solves: batch-mode search (q113) tokenizes the
  * whole corpus per query — fine for one audit, wrong for a serving path
  * that answers many queries against 100 TB of text. Here ingestion
  * maintains bounded index tables beside the corpus, so a SEARCH reads only
  * the postings of its query terms and two one-row/slim side tables — never
  * corpus text:
  *
  *   `<name>__postings` (term, pk, tf, dl) — the classic posting list with
  *     the doc length denormalized onto each posting (no per-doc join at
  *     query time). Appends are range-CLUSTERED on `term` with per-file
  *     min/max term stats, so a probe prunes to the manifest files whose
  *     term range intersects the query — the LSM-ish analog of a sorted
  *     term dictionary;
  *   `<name>__doclens` (pk, dl) — the append-only fact feeding the corpus
  *     stats rollup;
  *   `<name>__cstats` — ONE-ROW additive rollup (n_docs, total_dl)
  *     maintained by [[IncrementalRollup.maintainFromChangeFeed]] off the
  *     doclens change feed: O(batch) per ingest, ledger-idempotent across replays,
  *     and the BM25 normalizer never rescans doclens.
  *
  * Commit discipline and replay safety: an [[ingest]] stages its postings,
  * doclens and deduplicated corpus rows and lands all three as ONE
  * [[Warehouse.transact]] unit, every append IDEMPOTENT BY PK (anti-join
  * against the stored pks) — a crashed ingest commits nothing, and a replay
  * lands the batch exactly once. The cstats rollup stays FEED-driven
  * (folded after the transaction, ledger-idempotent): a derived normalizer
  * whose one-poll lag is benign.
  *
  * BM25 scoring matches q113 bit-for-bit: same rational-idf form (no
  * `log()`), per-term parts summed left-to-right in ONE fixed-order per-row
  * expression over term-pivoted tf columns — never a float SUM over posting
  * rows, whose accumulation order is partition-dependent.
  */
final class SearchIndexIngest(wh: Warehouse, pkCol: String, textCol: String) {

  final case class Report(version: Long, docs: Long, postings: Long)

  private def postingsTable(name: String) = s"${name}__postings"
  private def doclensTable(name: String) = s"${name}__doclens"
  private def cstatsTable(name: String) = s"${name}__cstats"

  private val statsSpec = IncrementalRollup.Spec(Nil, Seq(
    IncrementalRollup.CountStar("n_docs"),
    // dl is a bounded per-doc token count; the DECIMAL sum keeps the corpus
    // total exact (and association-free) at any corpus size
    IncrementalRollup.SumOf(col("dl").cast(
      org.apache.spark.sql.types.DataTypes.createDecimalType(28, 0)), "total_dl")))

  // ---- tokenizer-format stamp -------------------------------------------
  // [[NearDupIngest]]'s signature stamp, applied to the postings family: a
  // change to the tokenization algebra ([[TextFns.TokenizerGeneration]])
  // makes stored postings silently mismatch query-side tokens — searches
  // under-score pre-change documents and dedup-by-terms misses them, with
  // no error anywhere. The stamp rides the postings table (see
  // [[IndexFamily]]); every entry point refuses loudly on mismatch.
  private[sink] val formatStamp: Long = graft.functions.TextFns.TokenizerGeneration

  private def refusal(name: String, got: Long): String =
    if (got < 0)
      s"search index for '$name' carries no tokenizer-format stamp — it was " +
        "built before format stamping. If it was provably built with the " +
        "CURRENT tokenizer generation, adopt it explicitly with " +
        "adoptFormat(name); otherwise rebuild the index (drop the " +
        "__postings/__doclens/__cstats tables and re-ingest)."
    else
      s"search index for '$name' was built with tokenizer generation $got; this " +
        s"build tokenizes at generation $formatStamp. Stored postings would " +
        "silently mismatch query-side tokens (under-scored or missed documents), " +
        "so the index must be rebuilt (re-ingest), not mixed."

  private val family = new IndexFamily(wh, pkCol,
    stampOn = "__postings", stampSid = "idxformat", stampValue = formatStamp, refusal,
    ledgerOn = "__postings", retractOn = Seq("__postings", "__doclens"))

  /** Operator override for a pre-stamp index KNOWN to be tokenized at the
    * current generation: records the stamp so the guard passes. Misuse
    * reintroduces the silent cross-era mixing the guard prevents.
    */
  def adoptFormat(name: String): Unit =
    family.adopt(name, s"no search index for table: $name")

  /** (pk, tk, dl): one tokenization pass feeds postings AND doclens. */
  private def tokenized(df: DataFrame): DataFrame =
    df.select(col(pkCol), TextFns.tokens(col(textCol)).as("tk"))
      .select(col(pkCol), col("tk"), size(col("tk")).cast("long").as("dl"))
      .persist()

  /** The NEW pks' (postings, doclens) rows of `toks` — idempotent by pk.
    * Postings are materialized: their `term`-clustered write sizes them
    * exactly ([[Warehouse]]'s small-batch gate), and ingest counts them
    * after its commit.
    */
  private def derive(name: String, toks: DataFrame): (DataFrame, DataFrame) = {
    val posts = toks
      .select(col(pkCol), col("dl"), explode(col("tk")).as("term"))
      .groupBy(col("term"), col(pkCol), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col(pkCol), col("tf"), col("dl"))
    (family.newByPk(postingsTable(name), posts, manyPerPk = true).localCheckpoint(),
      family.newByPk(doclensTable(name), toks.select(col(pkCol), col("dl"))))
  }

  /** Fold the doclens change feed into cstats — change-feed-driven (not the
    * append-only file feed): doclens MUTATES once followChanges retracts
    * from it, and the signed fold subtracts deleted docs exactly.
    */
  private def foldStats(name: String): Unit =
    IncrementalRollup.maintainFromChangeFeed(wh, doclensTable(name),
      cstatsTable(name), statsSpec)

  /** Ingest one batch: postings, doclens and the pk-deduplicated corpus
    * rows land as ONE transaction (clusterBy term: postings land
    * range-sorted on the term, so each file's [min,max] term stats are
    * TIGHT and the search-time prune touches ~query-terms/term-range
    * files); then the cstats fold and the follower ledger advance. All
    * O(batch).
    */
  def ingest(name: String, df: DataFrame): Report = {
    family.guard(name)
    val toks = tokenized(df)
    try {
      val (posts, lens) = derive(name, toks)
      val fresh = family.newByPk(name, family.keepers(df)).localCheckpoint()
      family.ensureStamped(name, posts.schema)
      val preV = wh.currentVersion(name)
      wh.transact { tx =>
        tx.append(postingsTable(name), posts,
          statsCols = Seq("term", pkCol), clusterBy = Seq("term"))
        tx.append(doclensTable(name), lens, statsCols = Seq(pkCol))
        tx.append(name, fresh, statsCols = Seq(pkCol))
      }
      foldStats(name)
      family.advance(name, preV)
      Report(wh.currentVersion(name), fresh.count(), posts.count())
    } finally toks.unpersist()
  }

  /** [[IndexFamily.advance]] — the ledger rule, judged on the corpus head. */
  private[graft] def advanceFollowerLedger(name: String, preVersion: Long): Unit =
    family.advance(name, preVersion)

  final case class FollowReport(corpusVersion: Long, deletedDocs: Long, indexedDocs: Long)

  /** INCREMENTAL INDEX MAINTENANCE from the corpus change feed, one
    * [[IndexFamily.follow]] tick — closes the loop between a MUTATING
    * corpus and its warehouse-resident index without a blue/green rebuild:
    * deletes/update-retractions on the corpus (morMerge, deleteWhere,
    * equality deletes) become equality-delete commits on postings/doclens
    * keyed by pk (O(changed pks) metadata, zero posting rewrites), and
    * inserted/updated rows re-index through the idempotent-by-pk appends.
    * The consumed window rides the `idxfollow:<name>` ledger (advanced by
    * [[ingest]] too), so crashed/replayed calls converge; the cstats rollup
    * follows through its own signed change-feed fold.
    *
    * First call on an index built BEFORE this ledger existed treats the
    * whole current corpus as insertions — already-indexed pks no-op, but
    * postings of rows deleted before that first call are NOT retracted
    * (shield with `search(confirmed = true)`, or rebuild).
    */
  def followChanges(name: String): FollowReport = {
    require(wh.exists(postingsTable(name)),
      s"no search index for table: $name (ingest first)")
    family.guard(name)
    val (v, deleted, indexed) = family.follow(name) { ins =>
      val n = ins.select(col(pkCol)).distinct().count()
      if (n > 0) {
        val toks = tokenized(ins)
        try {
          val (posts, lens) = derive(name, toks)
          family.ensureStamped(name, posts.schema)
          wh.append(postingsTable(name), posts,
            statsCols = Seq("term", pkCol), clusterBy = Seq("term"))
          wh.append(doclensTable(name), lens, statsCols = Seq(pkCol))
        } finally toks.unpersist()
      }
      foldStats(name) // a pure-delete window still folds the retraction
      n
    }
    FollowReport(v, deleted, indexed)
  }

  /** Compact the postings and doclens tables' ingest-granularity files
    * ([[IndexFamily.compact]], the tables [[Warehouse.maintain]] compacts
    * too): postings re-cluster on `term`, restoring the O(query-terms)
    * probe, and doclens on the pk, so every ingest's idempotence anti-join
    * opens few files; search results are unchanged (spec-pinned). The doclens rewrite is
    * content-preserving, so the next [[followChanges]] reads its files on
    * both sides of the `__cstats` change-feed window once, and they cancel.
    */
  def compact(name: String, smallRows: Long = 100000L): Unit =
    IndexFamily.compact(wh, name, smallRows)

  /** Postings of `terms` only: a filter on the postings snapshot
    * ([[Warehouse.load]]), so the catalog rules skip every file whose
    * `term` bounds hold none of them and splice pending retractions.
    */
  private[graft] def probePostings(name: String, terms: Seq[String]): DataFrame =
    wh.load(postingsTable(name)).filter(col("term").isin(terms: _*))

  /** Top-`k` BM25 over the index: cost ∝ postings of the query terms (a
    * pruned probe), one broadcast one-row stats frame, one TakeOrdered —
    * the corpus text is never read.
    *
    * `confirmed = true` semi-joins hits against current corpus membership
    * (one pk-pruned column probe) — the follower-lag shield: between a
    * corpus deleteWhere/morMerge and the [[followChanges]] tick that
    * consumes it, the index still scores the deleted (or pre-update) pk,
    * and only the confirmed search hides it.
    */
  def search(name: String, terms: Seq[String], k: Int,
             k1: Double = 1.2, b: Double = 0.75,
             confirmed: Boolean = false): DataFrame = {
    require(terms.nonEmpty, "search needs at least one term")
    require(terms.distinct.size == terms.size, "query terms must be distinct")
    // one pivot column pair per term: right for the keyword-query shape this
    // serves; a wide "query" (document-sized term sets) belongs on the
    // corpus-scan path (q113's algebra), not a thousand-column pivot
    require(terms.size <= 64,
      s"search supports at most 64 terms (got ${terms.size}); use the corpus-scan BM25 for document-shaped queries")
    require(wh.exists(postingsTable(name)) && wh.exists(cstatsTable(name)),
      s"no search index for table: $name (ingest first)")
    family.guard(name) // query-side tokens must match the stored postings' era
    // persisted: consumers = per-term df aggregate + the scoring pivot
    val probe = probePostings(name, terms).persist()
    try {
      // one-row broadcast stats: corpus n/total_dl from the rollup, df per
      // term from the probe itself (a posting exists iff tf > 0, so the
      // probe's per-term row count IS the document frequency)
      val corpus = IncrementalRollup.read(wh, cstatsTable(name), statsSpec)
        .select(col("n_docs").as("n"), col("total_dl").cast("double").as("total_dl"))
      val dfCols = terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, 1L).otherwise(0L)).as(s"df$i") }
      val dfs = probe.agg(dfCols.head, dfCols.tail: _*)
      val stats = corpus.crossJoin(broadcast(dfs)) // one-row frames both sides

      // term-pivoted tf columns: the per-doc score is ONE fixed-order
      // expression (q113's exact shape), bit-stable under any partitioning
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"tf$i") }
      val pivoted = probe.groupBy(col(pkCol), col("dl"))
        .agg(tfCols.head, tfCols.tail: _*)
      def part(i: Int) =
        ((col(s"tf$i").cast("double") * (k1 + 1.0)
          / (col(s"tf$i").cast("double") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("dl").cast("double") * col("n").cast("double")
              / col("total_dl"))))
          * ((col("n") - col(s"df$i")).cast("double") + 0.5)
          / (col(s"df$i").cast("double") + 0.5))
      val scored = pivoted.crossJoin(broadcast(stats))
        .withColumn("n_hits",
          terms.indices.map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _))
        .withColumn("bm25", round(terms.indices.map(part).reduce(_ + _), 6))
        .select(col(pkCol), col("n_hits"), col("bm25"))
      val shielded =
        if (!confirmed) scored
        else scored.join(wh.load(name).select(col(pkCol)), Seq(pkCol), "left_semi")
      shielded.orderBy(col("bm25").desc, col(pkCol)).limit(k)
    } finally probe.unpersist()
  }
}
