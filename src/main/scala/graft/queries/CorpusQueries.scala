package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.TextFns.{normalize, shingles, tokens, wideShingles}
import Tables._

/** Corpus-statistics surface over `documents` — the cross-document analyses
  * a training-data curation pipeline runs between per-doc scoring (TextQueries)
  * and dedup (DedupQueries): boilerplate/rarity via gram document frequency,
  * per-doc lexical diversity, and the corpus length histogram that drives
  * packing / curriculum planning.
  *
  * Scale posture (100 TB): the gram DF table is the only shuffle-heavy piece
  * and it is a plain keyed aggregate (map-side partial, linear). The join
  * back to documents only ever ships the DF *head* (grams seen in >RARE_DF
  * docs — the heavy hitters, bounded by corpus diversity, not corpus size):
  * the long rare tail is inferred by difference (`n_rare = n_grams - matched`)
  * instead of being materialized, so the per-doc stats join is a broadcast.
  * Everything else is zero-shuffle per-row array math.
  */
object CorpusQueries {

  private val GRAM_W = 3 // word n-gram width (same universe as q56/q57)
  private val BOILER_DF = 5 // gram in >= 5 docs => boilerplate
  private val RARE_DF = 2 // gram in <= 2 docs => rare; head = df > RARE_DF
  private val BIN_W = 16 // token-count histogram bin width
  private val KEYWORDS_K = 3 // q78: distinctive tokens per doc
  private val STRATUM_K = 10 // q81: sample size per language stratum
  private val WINDOW_W = 20 // q82: shared-token-window width
  private val CHUNK_SIZE = 32 // q84: tokens per chunk
  private val CHUNK_OVERLAP = 8 // q84: tokens shared between adjacent chunks
  private val VOCAB_K = 20 // q85: vocabulary size
  private val COLLOC_K = 25 // q86: collocations reported
  // q113: fixed search query (one rare discriminative term + two common) + cut
  private val SEARCH_Q = Seq("spark", "merge", "dup")
  private val SEARCH_K = 15
  private val CONTAIN_T = 0.6 // q114: containment threshold

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LM-BASED QUALITY SCORING (the KenLM-filter shape of CCNet/LLaMA data
    // curation, self-trained): a word-bigram language model with add-one
    // smoothing is fit on the WHOLE corpus — unigram/bigram count tables,
    // the distributed "training" is two hash aggregates — and every doc is
    // scored by its mean per-bigram log2-likelihood under that model.
    // Low scores = improbable token sequences (noise, boilerplate soup,
    // wrong-language fragments); the heuristic q51 ratios can't see this.
    // Float discipline: each doc's log terms fold in SORTED order via a
    // deterministic HOF aggregate (DuckDB's list_reduce over list_sort —
    // 0.0-seeded fold is IEEE-identical to seedless), so the per-doc sum
    // never depends on partitioning; final round(4). Shuffle shape: words
    // and bigrams are keyed hash aggregates + two keyed joins back — no
    // broadcast of the unbounded vocab, no global sort; at 100 TB the
    // count tables are the bounded model artifact (the BpeMerges posture)
    // and scoring is one pass over the corpus' bigrams.
    "q175_bigram_lm_quality" -> { (s, dir) =>
      val words = spread(read(s, dir, "documents"))
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "w")))
        .persist(StorageLevel.MEMORY_AND_DISK) // consumers: vocab, unigrams, 2 bigram sides
      val bigrams = words.select(col("doc_id"), col("i"), col("w").as("w1"))
        .join(words.select(col("doc_id"), (col("i") - 1).as("i"), col("w").as("w2")),
          Seq("doc_id", "i"))
        .select(col("doc_id"), col("w1"), col("w2"))
        .persist(StorageLevel.MEMORY_AND_DISK) // consumers: model counts + scoring
      val vocabV = words.agg(countDistinct(col("w"))).head().getLong(0) // bounded scalar
      val uni = words.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
      val big = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      bigrams.join(big, Seq("w1", "w2")).join(uni, Seq("w1"))
        .withColumn("lp", log2((col("c12") + 1).cast("double")
          / (col("c1") + lit(vocabV)).cast("double")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), collect_list(col("lp")).as("lps"))
        .withColumn("lm_score", round(
          aggregate(sort_array(col("lps")), lit(0.0d), (acc, x) => acc + x)
            / col("n_bigrams").cast("double"), 4))
        .select(col("doc_id"), col("n_bigrams"), col("lm_score"))
        .orderBy("doc_id")
    },

    // Cross-doc gram document-frequency stats: per-doc boilerplate coverage
    // (grams shared with >= BOILER_DF docs — the CCNet-style repeated-content
    // signal) and rare-gram coverage (grams in <= RARE_DF docs — the noise /
    // uniqueness signal). The gram frame is persisted (two consumers: the DF
    // aggregate and the join back — the q72 posture, MEMORY_AND_DISK so
    // corpus-scale eviction spills instead of re-running the shingle HOFs).
    // Only the DF HEAD (df > RARE_DF) is broadcast back; a gram that misses
    // the head is by construction rare, so the unbounded tail never moves.
    "q76_gram_df_stats" -> { (s, dir) =>
      val grams = spread(read(s, dir, "documents"))
        .select(col("doc_id"),
          explode(array_distinct(shingles(tokens(col("text")), GRAM_W))).as("g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val df = grams.groupBy("g").agg(count(lit(1)).as("df"))
      val head = df.filter(col("df") > RARE_DF)
      grams.join(broadcast(head), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= BOILER_DF, 1L).otherwise(0L)).as("n_boiler"),
          sum(when(col("df").isNull, 1L).otherwise(0L)).as("n_rare"))
        .withColumn("boiler_ratio",
          round(col("n_boiler").cast("double") / col("n_grams"), 6))
        .withColumn("rare_ratio",
          round(col("n_rare").cast("double") / col("n_grams"), 6))
        .orderBy("doc_id")
    },

    // Per-doc lexical diversity: type-token ratio and top-token share (the
    // within-doc repetition signals complementing q70's window repetition).
    // Pure per-row array math — the top-token count folds over the distinct
    // tokens of the row (O(|vocab_doc| x |doc|) per row, bounded by doc
    // length, zero shuffle at any corpus size).
    "q77_token_diversity" -> { (s, dir) =>
      spread(read(s, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(col("tk")).as("n_tokens"),
          size(array_distinct(col("tk"))).as("n_distinct"),
          array_max(transform(array_distinct(col("tk")),
            t => size(filter(col("tk"), x => x === t)))).as("top_n"))
        .withColumn("ttr", round(col("n_distinct").cast("double") / col("n_tokens"), 6))
        .withColumn("top_share", round(col("top_n").cast("double") / col("n_tokens"), 6))
        .orderBy("doc_id")
    },

    // Distinctive-keyword extraction (tf-idf's deterministic core): per doc,
    // the top-KEYWORDS_K tokens by term frequency, with corpus document
    // frequency as the distinctiveness tiebreak (tf DESC, df ASC, token ASC
    // — rarer wins at equal tf; no log() so the ordering is exact integer
    // comparison, bit-identical cross-engine). The tf frame is persisted
    // (two consumers: the df rollup and the join back); the df table is
    // vocabulary-sized — bounded by language, not corpus — so it broadcasts.
    "q78_idf_keywords" -> { (s, dir) =>
      val tf = spread(read(s, dir, "documents"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
      tf.join(broadcast(df), "tok")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= KEYWORDS_K)
        .select(col("doc_id"), col("rank"), col("tok"), col("tf"), col("df"))
        .orderBy("doc_id", "rank")
    },

    // Fixed-size-per-stratum deterministic sample (the reservoir-sample
    // analog of q66's rate sample): the STRATUM_K docs with the smallest
    // salted-md5 keys per language. Stable under re-runs and corpus growth
    // only re-ranks (no RNG state to carry). WindowGroupLimit pushes the
    // top-k below the stratum shuffle, so each partition contributes at
    // most K candidate rows — the stratum is never materialized or sorted
    // whole even when one language is most of the corpus.
    "q81_stratum_sample" -> { (s, dir) =>
      val w = Window.partitionBy("lang").orderBy("sample_key", "doc_id")
      spread(read(s, dir, "documents"))
        .select(col("doc_id"), col("lang"),
          substring(md5(concat(lit("strat:"), col("doc_id").cast("string"))), 1, 8)
            .as("sample_key"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= STRATUM_K)
        .orderBy("lang", "rank")
    },

    // BM25 top keyword per doc — q78's ranked-retrieval upgrade. Uses the
    // rational-idf BM25 variant (N−df+0.5)/(df+0.5) with k1=1.2, b=0.75:
    // no log() anywhere (libm rounding differs across engines), and every
    // double op sits in one fixed-order per-row expression over integer
    // inputs, so both engines produce bit-identical scores. The df table is
    // vocabulary-sized (broadcast); the corpus N/total_dl stats are a
    // one-row broadcast cross (constant fan-out, same class as q85/q86).
    "q97_bm25_keywords" -> { (s, dir) =>
      val base = spread(read(s, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .persist(StorageLevel.MEMORY_AND_DISK) // 3 consumers: tf, df-via-tf, corpus stats
      val tf = base
        .select(col("doc_id"), explode(col("toks")).as("term"), size(col("toks")).as("dl"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val corpus = base.agg(count(lit(1)).as("n"), sum(size(col("toks"))).as("total_dl"))
      val w = Window.partitionBy("doc_id").orderBy(col("bm25").desc, col("term").asc)
      tf.join(broadcast(df), "term").crossJoin(broadcast(corpus))
        .withColumn("bm25", round(
          (col("tf").cast("double") * 2.2
            / (col("tf").cast("double") + lit(1.2) * (lit(0.25)
              + lit(0.75) * col("dl").cast("double") * col("n").cast("double")
                / col("total_dl").cast("double"))))
            * ((col("n") - col("df")).cast("double") + 0.5)
            / (col("df").cast("double") + 0.5), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("term"), col("bm25"))
        .orderBy("doc_id")
    },

    // BM25 ranked retrieval for a FIXED query — q97 turned around: instead
    // of the best term per doc, the best docs for a term set (the curation
    // search that pulls topical slices out of a corpus). Per-query-term tf
    // is a zero-shuffle per-row array filter (|Q| columns, no explode/agg of
    // the full token stream), so the only reduction is the ONE-ROW corpus
    // stats agg (n, total_dl, per-term df) broadcast back — at 100 TB this
    // is a linear scan + a TakeOrdered top-k, no vocabulary-sized state
    // anywhere. Scores stay in q97's rational-idf form (no log()); the
    // per-term parts are summed left-to-right in one fixed-order per-row
    // expression, so both engines produce bit-identical doubles. The top-k
    // cut orders by the ROUNDED score (6 dp) with doc_id tiebreak, making
    // the boundary deterministic cross-engine.
    "q113_bm25_search" -> { (s, dir) =>
      // Persisted: 2 consumers (corpus stats + scoring) — without the cache
      // the stats branch re-tokenizes the corpus from scratch AND the
      // n_hits>0 filter gets pushed below the spread() exchange onto the
      // single scan partition (the q72 HOF-below-spread regression class;
      // the cache is also what keeps PlanLintSpec's sweep green here).
      val base = spread(read(s, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id") +: size(col("tk")).cast("long").as("dl") +:
          SEARCH_Q.zipWithIndex.map { case (t, i) =>
            size(filter(col("tk"), x => x === t)).cast("long").as(s"tf$i") }: _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val stats = base.agg(
        count(lit(1)).as("n"),
        sum("dl").as("total_dl") +:
          SEARCH_Q.indices.map(i =>
            sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
      def part(i: Int): Column =
        ((col(s"tf$i").cast("double") * 2.2
          / (col(s"tf$i").cast("double") + lit(1.2) * (lit(0.25)
            + lit(0.75) * col("dl").cast("double") * col("n").cast("double")
              / col("total_dl").cast("double"))))
          * ((col("n") - col(s"df$i")).cast("double") + 0.5)
          / (col(s"df$i").cast("double") + 0.5))
      base.crossJoin(broadcast(stats))
        .withColumn("n_hits",
          SEARCH_Q.indices.map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _))
        .filter(col("n_hits") > 0)
        .withColumn("bm25", round(SEARCH_Q.indices.map(part).reduce(_ + _), 6))
        .select(col("doc_id"), col("n_hits"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(SEARCH_K)
    },

    // Inverted-index BM25 search: q113's EXACT result served from postings
    // algebra — the same relational core [[graft.sink.SearchIndexIngest]]
    // maintains incrementally (there the postings are index TABLES kept
    // across commits, probed with manifest-stat term pruning; here the gate
    // re-derives them inline so DuckDB can adjudicate both paths against one
    // oracle). The serving-path cost model this algebra proves out: score
    // from (term, doc, tf, dl) postings of the QUERY TERMS only + one
    // broadcast one-row stats frame — corpus text is never touched at query
    // time. df falls out of the probe itself (a posting exists iff tf > 0),
    // and the per-doc score pivots terms to columns so the float adds run in
    // ONE fixed-order expression (identical literals to q113 ⇒ bit-equal
    // doubles), never a partition-order-dependent SUM over posting rows.
    "q132_index_bm25" -> { (s, dir) =>
      // Persisted: 2 consumers (corpus stats + the postings probe) — the
      // q113 posture; the probe itself is persisted for its own 2 consumers
      // (per-term df aggregate + the scoring pivot).
      val toks = spread(read(s, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("dl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val corpus = toks.agg(count(lit(1)).as("n"), sum("dl").as("total_dl"))
      val probe = toks
        .select(col("doc_id"), col("dl"), explode(col("tk")).as("term"))
        .filter(col("term").isin(SEARCH_Q: _*))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val dfCols = SEARCH_Q.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, 1L).otherwise(0L)).as(s"df$i") }
      val stats = corpus.crossJoin(probe.agg(dfCols.head, dfCols.tail: _*))
      val tfCols = SEARCH_Q.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"tf$i") }
      val pivoted = probe.groupBy(col("doc_id"), col("dl"))
        .agg(tfCols.head, tfCols.tail: _*)
      def part(i: Int): Column =
        ((col(s"tf$i").cast("double") * 2.2
          / (col(s"tf$i").cast("double") + lit(1.2) * (lit(0.25)
            + lit(0.75) * col("dl").cast("double") * col("n").cast("double")
              / col("total_dl").cast("double"))))
          * ((col("n") - col(s"df$i")).cast("double") + 0.5)
          / (col(s"df$i").cast("double") + 0.5))
      pivoted.crossJoin(broadcast(stats))
        .withColumn("n_hits",
          SEARCH_Q.indices.map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _))
        .withColumn("bm25", round(SEARCH_Q.indices.map(part).reduce(_ + _), 6))
        .select(col("doc_id"), col("n_hits"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(SEARCH_K)
    },

    // INDEX FOLLOWS THE MUTATING CORPUS: the warehouse-resident BM25 index
    // ([[graft.sink.SearchIndexIngest]]) maintained from the corpus CHANGE
    // FEED — no blue/green rebuild. Two ingest batches build index +
    // corpus; then the corpus mutates OUT OF BAND (morMerge re-texts %5
    // docs, deleteWhere drops %7); followChanges turns the window's net
    // -D rows into ONE equality-delete commit per index table (O(changed
    // pks) metadata, zero posting rewrites) and re-indexes the +I rows
    // through the same idempotent path, while the corpus-stats rollup
    // folds the retraction SIGNED. The served search must then equal
    // DuckDB's BM25 over the FINAL corpus state — a stale posting (the
    // deleted doc still scoring), a missed re-index (the updated doc
    // scoring with its old dl), or an unfolded cstats row all shift
    // scores and miss the hash. The 100 TB shape: index freshness at
    // O(changes) per maintenance tick on a corpus that upserts.
    "q165_index_follow_bm25" -> { (s, dir) =>
      import graft.sink.{SearchIndexIngest, Warehouse}
      val docs = read(s, dir, "documents").select(col("doc_id"), col("text"))
      val whDir = java.nio.file.Files.createTempDirectory("graft-q165")
      val wh = new Warehouse(s, whDir.toString)
      try {
        val ing = new SearchIndexIngest(wh, "doc_id", "text")
        ing.ingest("docs", docs.filter(col("doc_id") % 2 === 0))
        ing.ingest("docs", docs.filter(col("doc_id") % 2 === 1))
        wh.morMerge("docs", docs.filter(col("doc_id") % 5 === 0)
          .withColumn("text", concat(col("text"), lit(" zebra zebra zebra"))),
          Seq("doc_id"))
        wh.deleteWhere("docs", col("doc_id") % 7 === 0)
        ing.followChanges("docs")
        ing.search("docs", SEARCH_Q, SEARCH_K)
          .orderBy(col("bm25").desc, col("doc_id"))
          .localCheckpoint()
      } finally {
        graft.sink.MetaIO.local.deleteTree(whDir)
      }
    },

    // Shingle containment near-dup pairs — Broder's CONTAINMENT measure
    // beside q56's resemblance (Jaccard): |A∩B| / min(|A|,|B|) over the
    // distinct 3-gram sets. Catches near-SUPERSET pairs (one doc wrapping
    // another) that Jaccard misses when lengths diverge — at Jaccard 0.5 a
    // doc fully contained in a 3x-longer doc scores ~0.33 and slips
    // through; containment scores it 1.0. Same prefix-block candidate
    // generation as q56 (fan-out bounded by real dups, never all-pairs);
    // exact integer set sizes under one per-row double division.
    "q114_containment_dedup" -> { (s, dir) =>
      val base = spread(read(s, dir, "documents"))
        .withColumn("tk", tokens(col("text")))
        .select(col("doc_id"),
          md5(substring(normalize(col("text")), 1, 40)).as("blk"),
          array_distinct(shingles(col("tk"), GRAM_W)).as("sh"))
      val a = base.select(col("doc_id").as("d1"), col("blk"), col("sh").as("s1"))
      val b = base.select(col("doc_id").as("d2"), col("blk"), col("sh").as("s2"))
      a.join(b, Seq("blk")).filter(col("d1") < col("d2"))
        .select(col("d1"), col("d2"),
          size(array_intersect(col("s1"), col("s2"))).cast("long").as("inter"),
          size(col("s1")).cast("long").as("n1"),
          size(col("s2")).cast("long").as("n2"))
        .withColumn("containment",
          col("inter").cast("double") / least(col("n1"), col("n2")))
        .filter(col("containment") >= CONTAIN_T)
        .withColumn("containment", round(col("containment"), 6))
        .orderBy("d1", "d2")
    },

    // Shared-long-window near-dup pairs — the window-granular form of
    // exact-substring dedup (Lee et al.'s suffix-array criterion at
    // WINDOW_W-token resolution): doc pairs sharing at least one verbatim
    // 20-token window, with the shared-window count as evidence. The
    // self-join is keyed on the window hash, so fan-out is bounded by how
    // many docs actually share a window (real dups), never all-pairs.
    "q82_window_dup" -> { (s, dir) =>
      // wideShingles (slice-based, ~20x less lambda work than the element-at
      // form at this width) + persist: BOTH self-join sides read the gram
      // frame, so without the cache the whole shingle pipeline runs twice
      // (measured 6.8 s -> sub-second at sf0.1).
      val grams = spread(read(s, dir, "documents"))
        .select(col("doc_id"),
          explode(array_distinct(wideShingles(tokens(col("text")), WINDOW_W))).as("g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val a = grams.select(col("doc_id").as("d1"), col("g"))
      val b = grams.select(col("doc_id").as("d2"), col("g"))
      a.join(b, Seq("g")).filter(col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared"))
        .orderBy("d1", "d2")
    },

    // Overlapping token-window chunking — the document→chunk explosion an
    // embedding/RAG pipeline runs before vectorization (chunk size 32,
    // overlap 8 ⇒ stride 24; every token lands in ≥1 chunk, boundaries
    // covered by the overlap). Emits per-chunk token span + content
    // fingerprint. Pure per-row array math (sequence/slice) — zero shuffle,
    // output fans out ~n_tokens/stride rows per doc at any corpus size.
    "q84_chunking" -> { (s, dir) =>
      val stride = CHUNK_SIZE - CHUNK_OVERLAP
      spread(read(s, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), col("tk"), size(col("tk")).as("n_tokens"),
          posexplode(sequence(lit(1), greatest(size(col("tk")) - CHUNK_OVERLAP, lit(1)),
            lit(stride))).as(Seq("chunk_id", "start")))
        .withColumn("chunk_len",
          least(lit(CHUNK_SIZE), col("n_tokens") - col("start") + 1))
        .withColumn("chunk_fp",
          md5(array_join(slice(col("tk"), col("start"), lit(CHUNK_SIZE)), " ")))
        .select(col("doc_id"), col("chunk_id"), col("start"), col("chunk_len"), col("chunk_fp"))
        .orderBy("doc_id", "chunk_id")
    },

    // Vocabulary construction with a coverage curve — the tokenizer-training
    // precursor (BPE init / vocab truncation): top-VOCAB_K tokens by corpus
    // frequency with the cumulative share of all token occurrences each
    // vocabulary prefix covers (the curve that picks the vocab size). The
    // rank window is over the VOCABULARY (bounded by language, not corpus),
    // after a map-side-combining count agg over the token stream.
    "q85_vocab_coverage" -> { (s, dir) =>
      val t = spread(read(s, dir, "documents"))
        .select(explode(tokens(col("text"))).as("tok"))
      val total = t.agg(count(lit(1)).as("total"))
      val wRank = Window.orderBy(col("cnt").desc, col("tok").asc)
      val wCum = Window.orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= VOCAB_K)
        .crossJoin(broadcast(total))
        .withColumn("coverage",
          round(sum("cnt").over(wCum).cast("double") / col("total"), 6))
        .select(col("rank"), col("tok"), col("cnt"), col("coverage"))
        .orderBy("rank")
    },

    // Collocation extraction — PMI's deterministic core without the log:
    // bigram lift = P(ab) / (P(a)P(b)) = c(ab) * N / (c(a) * c(b)), exact
    // integer products under one double division (bit-identical cross-
    // engine; log-based PMI would be at the mercy of libm). Top-COLLOC_K by
    // (lift DESC, a, b). Unigram and bigram counts are map-side-combining
    // aggs; the unigram table is vocabulary-sized, so both lookups broadcast.
    "q86_collocations" -> { (s, dir) =>
      val tk = spread(read(s, dir, "documents"))
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // localCheckpoint: the unigram counts broadcast onto BOTH bigram
      // sides — one vocab-sized frame, one compute instead of two
      val uni = tk.select(explode(col("tk")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val total = tk.select(explode(col("tk")).as("tok")).agg(count(lit(1)).as("n"))
      val bi = tk.select(explode(transform(
          sequence(lit(1), greatest(size(col("tk")) - 1, lit(1))),
          i => struct(try_element_at(col("tk"), i).as("a"),
            try_element_at(col("tk"), i + 1).as("b")))).as("g"))
        .filter(col("g.b").isNotNull)
        .groupBy(col("g.a").as("a"), col("g.b").as("b")).agg(count(lit(1)).as("cab"))
      bi.join(broadcast(uni.select(col("tok").as("a"), col("c").as("ca"))), Seq("a"))
        .join(broadcast(uni.select(col("tok").as("b"), col("c").as("cb"))), Seq("b"))
        .crossJoin(broadcast(total))
        .withColumn("lift",
          round(col("cab").cast("double") * col("n") / (col("ca") * col("cb")), 4))
        .select(col("a"), col("b"), col("cab"), col("lift"))
        .orderBy(col("lift").desc, col("a"), col("b"))
        .limit(COLLOC_K)
    },

    // Token-length histogram with cumulative corpus share — the planning
    // query behind q68's packing (bin docs by token count, see how much of
    // the corpus sits under each cutoff). One tiny keyed aggregate (<=
    // max_len/BIN_W rows) then an unpartitioned window over that tiny frame
    // (single partition is correct here: the frame is bins, not rows).
    "q79_length_histogram" -> { (s, dir) =>
      val binned = spread(read(s, dir, "documents"))
        .select(size(tokens(col("text"))).as("n"))
        .select((floor(col("n") / BIN_W) * BIN_W).cast("long").as("bin"), col("n"))
      val wCum = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      binned.groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("sum_tokens"))
        .withColumn("cum_doc_share",
          round(sum("n_docs").over(wCum).cast("double") / sum("n_docs").over(wAll), 6))
        .withColumn("cum_token_share",
          round(sum("sum_tokens").over(wCum).cast("double") / sum("sum_tokens").over(wAll), 6))
        .orderBy("bin")
    },

    // Corpus-scale BPE encode: apply the FROZEN production merge table
    // (BpeMerges — a build artifact, trained once by BpeTrainer, never
    // retrained inside the query) to every word of every document, and
    // report the per-source subword economy at full token identity (every
    // (source, subword) pair with its count — result size is bounded by
    // sources × vocabulary, never by corpus size). The encode itself is one
    // native-expression scan, zero shuffle; only this bounded aggregate
    // shuffles. This is the real-token replacement for the whitespace
    // proxies q121/q124 budget with.
    "q129_bpe_tokens" -> { (s, dir) =>
      graft.functions.expressions.BpeFns.register(s)
      val words = regexp_extract_all(normalize(col("text")), lit("[a-z0-9]+"), lit(0))
      spread(read(s, dir, "documents"))
        .select(col("source"),
          graft.functions.expressions.BpeFns
            .bpeEncodeNative(words, graft.functions.BpeMerges.frozen).as("toks"))
        .select(col("source"), explode(col("toks")).as("subword"))
        .groupBy("source", "subword").agg(count(lit(1)).as("cnt"))
        .orderBy("source", "subword")
    },

    // Byte-level vs code-point BPE under ONE oracle (q129's leftover made a
    // gate): the corpus words are decorated deterministically into a
    // punctuation/non-ASCII-bearing universe — 'a'→'ä', 'o'→'ö' (both
    // 2-byte UTF-8), plus '!'/'.' by length parity — and encoded with the
    // SAME frozen merge table in BOTH seeding modes. The modes provably
    // diverge on exactly the multi-byte characters: code-point mode seeds
    // 'ä' as one symbol, byte-level mode as its two remapped UTF-8 bytes
    // ('Ã','¤' — GPT-2 bytes_to_unicode keeps printable Latin-1), so the
    // (mode, subword) rows differ and BOTH are DuckDB-gated at full token
    // identity. Same scan shape as q129: native-expression encode inside
    // codegen, zero shuffle before the bounded (mode, source-free) agg.
    "q136_bpe_byte_level" -> { (s, dir) =>
      graft.functions.expressions.BpeFns.register(s)
      val words = regexp_extract_all(normalize(col("text")), lit("[a-z0-9]+"), lit(0))
      val deco = transform(words, w => concat(
        regexp_replace(regexp_replace(w, "a", "ä"), "o", "ö"),
        when(length(w) % 2 === 0, "!").otherwise(".")))
      def side(byteLevel: Boolean, mode: String) =
        spread(read(s, dir, "documents"))
          .select(explode(graft.functions.expressions.BpeFns
            .bpeEncodeNative(deco, graft.functions.BpeMerges.frozen, byteLevel))
            .as("subword"))
          .groupBy("subword").agg(count(lit(1)).as("cnt"))
          .select(lit(mode).as("mode"), col("subword"), col("cnt"))
      side(byteLevel = true, "byte").unionByName(side(byteLevel = false, "cp"))
        .orderBy("mode", "subword")
    }
  )

  // --- DuckDB mirrors -----------------------------------------------------

  private val normSql = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
  private val toksSql = s"string_split($normSql, ' ')"

  /** q129's oracle mirror of the BPE encode: the word as a chr(31)-delimited
    * symbol string (each symbol wrapped ␟sym␟, so adjacent pair sites never
    * share a delimiter), then ONE `replace()` per merge in learned order —
    * SQL replace is greedy left-to-right non-overlapping, exactly the
    * sequential-apply semantics of BpeEncode/BpeTrainer.applyMerge.
    */
  private def bpeEncodeSql(wordExpr: String): String =
    mergeFoldSql(cpSeedSql(wordExpr))

  /** Code-point seed: each character wrapped ␟c␟. */
  private def cpSeedSql(wordExpr: String): String = {
    val sep = "chr(31)"
    s"$sep || array_to_string(string_split($wordExpr, ''), $sep || $sep) || $sep"
  }

  private def mergeFoldSql(seedExpr: String): String = {
    val sep = "chr(31)"
    graft.functions.BpeMerges.frozen.foldLeft(seedExpr) { case (acc, (a, b)) =>
      s"replace($acc, $sep||'$a'||$sep||$sep||'$b'||$sep, $sep||'${a + b}'||$sep)"
    }
  }

  /** q136's byte-level seed, exact for its CONSTRUCTED universe: the only
    * multi-byte characters are the injected 'ä' (0xC3 0xA4) and 'ö'
    * (0xC3 0xB6), and all four bytes sit in bytes_to_unicode's keep range
    * (printable Latin-1 maps to itself — `BpeCodec.ByteToChar`), so the
    * byte seed is the code-point seed with each multi-byte symbol split
    * into its two byte characters. ASCII symbols are their own bytes.
    */
  private def bpeEncodeByteSql(wordExpr: String): String = {
    val sep = "chr(31)"
    val byteSeed = s"replace(replace(${cpSeedSql(wordExpr)}, " +
      s"$sep||'ä'||$sep, $sep||'Ã'||$sep||$sep||'¤'||$sep), " +
      s"$sep||'ö'||$sep, $sep||'Ã'||$sep||$sep||'¶'||$sep)"
    mergeFoldSql(byteSeed)
  }
  /** Same gram universe as DedupQueries' oracles: md5 of the space-joined
    * window; concat_ws skips the NULL tail slots exactly like the Spark
    * shingles helper's try_element_at.
    */
  private val gramsCte =
    s"""tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, greatest(len(toks) - ${GRAM_W - 1}, 1)),
       |    i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2]))))) AS g
       |  FROM tk)""".stripMargin

  /** q113's per-term BM25 part, mirroring q97's proven-green expression
    * shape (same parenthesization ⇒ same IEEE op order in both engines).
    */
  private def bm25PartSql(i: Int): String =
    s"""(CAST(tf$i AS DOUBLE) * 2.2
       |      / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25
       |        + 0.75 * CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)
       |          / CAST(total_dl AS DOUBLE))))
       |      * (CAST(n - df$i AS DOUBLE) + 0.5)
       |      / (CAST(df$i AS DOUBLE) + 0.5)""".stripMargin

  /** Shared by q113 (corpus-scan path), q132 (postings-index path) and q165
    * (index-follower path over a MUTATED corpus): one oracle body, the
    * corpus source parameterized — `src` must yield (doc_id, text).
    */
  private def bm25OracleOver(src: String) =
    s"""WITH b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |    ${SEARCH_Q.zipWithIndex.map { case (t, i) =>
             s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf$i" }
             .mkString(",\n    ")}
       |  FROM (SELECT doc_id, $toksSql AS toks FROM ($src))),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(dl) AS BIGINT) AS total_dl,
       |    ${SEARCH_Q.indices.map(i =>
             s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
             .mkString(",\n    ")}
       |  FROM b)
       |SELECT doc_id, n_hits, bm25 FROM (
       |  SELECT doc_id,
       |    CAST(${SEARCH_Q.indices.map(i =>
             s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT)
       |      AS n_hits,
       |    round(${SEARCH_Q.indices.map(bm25PartSql).mkString("\n    + ")}, 6) AS bm25
       |  FROM b CROSS JOIN st)
       |WHERE n_hits > 0 ORDER BY bm25 DESC, doc_id LIMIT $SEARCH_K""".stripMargin

  /** `private[queries]`: q174's hybrid-RRF oracle reuses the lexical arm. */
  private[queries] lazy val bm25Oracle = bm25OracleOver("SELECT doc_id, text FROM documents")

  /** q165's corpus FINAL STATE: %5 docs updated (appended marker tokens),
    * %7 docs deleted — what the index must serve after followChanges.
    */
  private lazy val q165Src =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 0 THEN text || ' zebra zebra zebra' ELSE text END AS text
      |FROM documents WHERE doc_id % 7 <> 0""".stripMargin

  val oracles: Map[String, String] = Map(
    "q129_bpe_tokens" ->
      s"""WITH w AS (
         |  SELECT source, unnest(regexp_extract_all($normSql, '[a-z0-9]+')) AS word
         |  FROM documents),
         |enc AS (SELECT source, ${bpeEncodeSql("word")} AS e FROM w),
         |tok AS (SELECT source,
         |  unnest(string_split(trim(e, chr(31)), chr(31) || chr(31))) AS subword
         |FROM enc)
         |SELECT source, subword, CAST(count(*) AS BIGINT) AS cnt
         |FROM tok GROUP BY source, subword ORDER BY source, subword""".stripMargin,

    "q136_bpe_byte_level" ->
      s"""WITH w AS (
         |  SELECT unnest(regexp_extract_all($normSql, '[a-z0-9]+')) AS word
         |  FROM documents),
         |d AS (SELECT replace(replace(word, 'a', 'ä'), 'o', 'ö') ||
         |    CASE WHEN length(word) % 2 = 0 THEN '!' ELSE '.' END AS dword
         |  FROM w),
         |tok AS (
         |  SELECT 'byte' AS mode,
         |    unnest(string_split(trim(e, chr(31)), chr(31) || chr(31))) AS subword
         |  FROM (SELECT ${bpeEncodeByteSql("dword")} AS e FROM d)
         |  UNION ALL
         |  SELECT 'cp' AS mode,
         |    unnest(string_split(trim(e, chr(31)), chr(31) || chr(31))) AS subword
         |  FROM (SELECT ${bpeEncodeSql("dword")} AS e FROM d))
         |SELECT mode, subword, CAST(count(*) AS BIGINT) AS cnt
         |FROM tok GROUP BY mode, subword ORDER BY mode, subword""".stripMargin,

    // q175: the bigram LM refit declaratively; the per-doc fold mirrors the
    // Spark side exactly (sorted fold — list_reduce over list_sort is
    // IEEE-identical to Spark's 0.0-seeded aggregate over sort_array).
    "q175_bigram_lm_quality" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |w AS (SELECT doc_id, i, toks[i] AS w FROM tk,
         |  LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g),
         |bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
         |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         |v AS (SELECT count(DISTINCT w) AS vocab FROM w),
         |uni AS (SELECT w AS w1, count(*) AS c1 FROM w GROUP BY w),
         |big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(list_reduce(list_sort(list(lp)), (x, y) -> x + y)
         |    / count(*), 4) AS lm_score
         |FROM (
         |  SELECT bg.doc_id,
         |    log2(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + vocab AS DOUBLE)) AS lp
         |  FROM bg JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q113_bm25_search" -> bm25Oracle,

    // ONE oracle adjudicates both BM25 paths: q113 scores from a corpus
    // scan, q132 from postings algebra — if both hash-match this SQL, the
    // index path provably serves the scan path's exact results.
    "q132_index_bm25" -> bm25Oracle,

    // q165: the SAME oracle body over the corpus's FINAL (mutated) state —
    // the change-feed-maintained index must serve it exactly.
    "q165_index_follow_bm25" -> bm25OracleOver(q165Src),

    "q114_containment_dedup" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks,
         |    md5(substring($normSql, 1, 40)) AS blk FROM documents),
         |sh AS (SELECT doc_id, blk, list_distinct(list_transform(
         |    generate_series(1, greatest(len(toks) - ${GRAM_W - 1}, 1)),
         |    i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS s
         |  FROM tk)
         |SELECT d1, d2, inter, n1, n2, round(containment, 6) AS containment FROM (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
         |    CAST(len(a.s) AS BIGINT) AS n1, CAST(len(b.s) AS BIGINT) AS n2,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / least(len(a.s), len(b.s)) AS containment
         |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id)
         |WHERE containment >= $CONTAIN_T ORDER BY d1, d2""".stripMargin,

    "q76_gram_df_stats" ->
      s"""WITH $gramsCte,
         |df AS (SELECT g, count(*) AS df FROM grams GROUP BY g),
         |head AS (SELECT g, df FROM df WHERE df > $RARE_DF)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN h.df >= $BOILER_DF THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  CAST(sum(CASE WHEN h.df IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
         |  round(CAST(sum(CASE WHEN h.df >= $BOILER_DF THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS boiler_ratio,
         |  round(CAST(sum(CASE WHEN h.df IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS rare_ratio
         |FROM grams LEFT JOIN head h USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q77_token_diversity" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id, len(toks) AS n_tokens,
         |  len(list_distinct(toks)) AS n_distinct,
         |  list_max(list_transform(list_distinct(toks),
         |    t -> len(list_filter(toks, x -> x = t)))) AS top_n,
         |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
         |  round(CAST(list_max(list_transform(list_distinct(toks),
         |    t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) / len(toks), 6)
         |    AS top_share
         |FROM tk ORDER BY doc_id""".stripMargin,

    "q78_idf_keywords" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |ranked AS (
         |  SELECT doc_id, tok, tf, df, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tf DESC, df ASC, tok ASC) AS rank
         |  FROM tf JOIN df USING (tok))
         |SELECT doc_id, rank, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
         |FROM ranked WHERE rank <= $KEYWORDS_K ORDER BY doc_id, rank""".stripMargin,

    "q97_bm25_keywords" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term,
         |    len($toksSql) AS dl FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
         |    max(dl) AS dl FROM t GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(len($toksSql)) AS BIGINT) AS total_dl FROM documents),
         |scored AS (
         |  SELECT t.doc_id, t.term,
         |    round((CAST(t.tf AS DOUBLE) * 2.2
         |      / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25
         |        + 0.75 * CAST(t.dl AS DOUBLE) * CAST(n.n AS DOUBLE)
         |          / CAST(n.total_dl AS DOUBLE))))
         |      * (CAST(n.n - d.df AS DOUBLE) + 0.5)
         |      / (CAST(d.df AS DOUBLE) + 0.5), 6) AS bm25
         |  FROM tf t JOIN df d USING (term) CROSS JOIN n)
         |SELECT doc_id, term, bm25 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY bm25 DESC, term ASC) AS rk FROM scored)
         |WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "q81_stratum_sample" ->
      s"""SELECT doc_id, lang, sample_key, rank FROM (
         |  SELECT doc_id, lang, sample_key, row_number() OVER (
         |    PARTITION BY lang ORDER BY sample_key, doc_id) AS rank
         |  FROM (SELECT doc_id, lang,
         |    substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8) AS sample_key
         |    FROM documents))
         |WHERE rank <= $STRATUM_K ORDER BY lang, rank""".stripMargin,

    "q82_window_dup" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, greatest(len(toks) - ${WINDOW_W - 1}, 1)),
         |    i -> md5(array_to_string(toks[i:i+${WINDOW_W - 1}], ' '))))) AS g
         |  FROM tk)
         |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
         |FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin,

    "q85_vocab_coverage" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
         |ranked AS (SELECT tok, cnt,
         |  row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rank FROM c)
         |SELECT rank, tok, CAST(cnt AS BIGINT) AS cnt,
         |  round(CAST(sum(cnt) OVER (ORDER BY rank
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / (SELECT count(*) FROM t), 6) AS coverage
         |FROM ranked WHERE rank <= $VOCAB_K ORDER BY rank""".stripMargin,

    "q86_collocations" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |uni AS (SELECT unnest(toks) AS tok FROM tk),
         |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
         |total AS (SELECT count(*) AS n FROM uni),
         |bi AS (SELECT unnest(list_transform(
         |    generate_series(1, greatest(len(toks) - 1, 1)),
         |    i -> struct_pack(a := toks[i], b := toks[i+1]))) AS g FROM tk),
         |bc AS (SELECT g.a AS a, g.b AS b, count(*) AS cab
         |  FROM bi WHERE g.b IS NOT NULL GROUP BY g.a, g.b)
         |SELECT a, b, CAST(cab AS BIGINT) AS cab,
         |  round(CAST(cab AS DOUBLE) * (SELECT n FROM total) / (ca.c * cb.c), 4) AS lift
         |FROM bc JOIN uc ca ON bc.a = ca.tok JOIN uc cb ON bc.b = cb.tok
         |ORDER BY lift DESC, a, b LIMIT $COLLOC_K""".stripMargin,

    // chunk_id is derived arithmetically ((start-1)/stride) on both sides,
    // so no WITH ORDINALITY is needed to mirror posexplode's index.
    "q84_chunking" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |ch AS (
         |  SELECT doc_id, toks, len(toks) AS n_tokens,
         |    unnest(generate_series(1,
         |      greatest(len(toks) - $CHUNK_OVERLAP, 1), ${CHUNK_SIZE - CHUNK_OVERLAP})) AS s
         |  FROM tk)
         |SELECT doc_id,
         |  CAST((s - 1) // ${CHUNK_SIZE - CHUNK_OVERLAP} AS INT) AS chunk_id,
         |  CAST(s AS INT) AS start,
         |  CAST(least($CHUNK_SIZE, n_tokens - s + 1) AS INT) AS chunk_len,
         |  md5(array_to_string(toks[s : s + ${CHUNK_SIZE - 1}], ' ')) AS chunk_fp
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "q79_length_histogram" ->
      s"""WITH d AS (SELECT len($toksSql) AS n FROM documents),
         |b AS (
         |  SELECT CAST(floor(n / $BIN_W.0) * $BIN_W AS BIGINT) AS bin,
         |    count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens
         |  FROM d GROUP BY 1)
         |SELECT bin, n_docs, sum_tokens,
         |  round(CAST(sum(n_docs) OVER w AS DOUBLE) / (sum(n_docs) OVER ()), 6)
         |    AS cum_doc_share,
         |  round(CAST(sum(sum_tokens) OVER w AS DOUBLE) / (sum(sum_tokens) OVER ()), 6)
         |    AS cum_token_share
         |FROM b
         |WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY bin""".stripMargin
  )
}
