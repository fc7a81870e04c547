package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFns._
import graft.functions.expressions.{CosineFns, TextVectorFns}
import graft.functions.TextFns.{normalize, tokens}
import Tables._

/** Similarity-search surface over `embeddings` (builder contract): exact
  * brute-force cosine top-k as the correctness baseline, and an LSH-bucketed
  * approximate variant as the scale path (bucket first, score only within the
  * probe's bucket). Plus SimHash near-dup detection over `documents`.
  *
  * Scale: brute force is O(probes x corpus) — correct but linear per probe;
  * the LSH variant shuffles on the signature key so each probe scores only
  * its bucket (~corpus / 2^planes). At 100 TB the bucketed join is the only
  * viable shape, and the probe side is always broadcast.
  */
object SimilarityQueries {

  private val DIM = 64
  private val TOPK = 10
  private val OUTLIER_K = 5 // q125: suspects per label
  private val PLANES = 8
  private val N_PROBES = 5
  private val NEARDUP_TAU = 0.35
  private val NPROBE_CELLS = 2 // IVF multi-probe fan-out (q65; recall in q69)
  private val PQ_M = 8 // PQ subspaces (q83/q133; DIM/PQ_M dims each)
  private val PQ_K = 16 // PQ centroids per subspace (q83/q133)
  private val RERANK = 50 // q80: Hamming candidates reranked by exact cosine

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Mislabeled-embedding detection: each label's OUTLIER_K least-cohesive
    // members, by cosine to the label's exact-decimal centroid — the
    // label-quality audit a classifier/contrastive training set runs before
    // training (a vector far from its own class center is a labeling error
    // or an outlier either way worth review). Same bit-reproducible
    // centroid arithmetic as q62/q73 (component sums in DECIMAL(28,12),
    // one final cast); centroid table broadcast (labels x dim — bounded at
    // any corpus size); one linear scoring scan + a per-label bottom-k
    // window with WindowGroupLimit pushdown.
    "q125_centroid_outliers" -> { (s, dir) =>
      CosineFns.register(s)
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      val comp = emb.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("c"))
      val cents = comp.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          e => e.getField("c")).as("cv"))
      val w = Window.partitionBy("label").orderBy(col("cos").asc, col("vec_id").asc)
      emb.join(broadcast(cents), "label")
        .withColumn("cos", CosineFns.cosineNative(col("v"), col("cv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= OUTLIER_K)
        .select(col("label"), col("rank"), col("vec_id"),
          round(col("cos"), 4).as("cos_to_centroid"))
        .orderBy("label", "rank")
    },

    // Degenerate-embedding audit: the ingestion gate an embedding table
    // passes before any ANN/centroid work — wrong dimensionality, null
    // components, and zero vectors (cosine undefined) each break the
    // operators downstream in their own way. Pure per-row column math,
    // zero shuffle; the fold norm is the same left-to-right accumulation
    // the oracle's list_reduce does, so values are bit-comparable.
    "q126_embedding_audit" -> { (s, dir) =>
      spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
        .select(col("vec_id"), col("label"),
          size(col("v")).as("dim"),
          sqrt(norm2(col("v"))).as("norm_raw"),
          exists(col("v"), x => x.isNull).as("has_null"))
        .select(col("vec_id"), col("label"), col("dim"),
          round(col("norm_raw"), 6).as("norm"), col("has_null"),
          // flags judge the RAW norm (the oracle does too) — a norm that
          // rounds to 0.000000 but isn't 0 must not flip the verdict
          (col("dim") === DIM && !col("has_null") && col("norm_raw") > 0.0).as("ok"))
        .orderBy("vec_id")
    },

    // Embedding-cosine near-dup detection (the dedup family's vector-space
    // member): candidate pairs are BLOCKED by the coarse-quantizer cell
    // (label) before any scoring — the same candidates-before-join shape as
    // MinHash/SimHash, with the IVF cell as the bucket. At 100 TB the pair
    // fan-out is bounded per cell (never all-pairs), and the per-pair score
    // is the fused native cosine.
    "q59_embedding_neardup" -> { (s, dir) =>
      CosineFns.register(s)
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      val a = emb.select(col("label"), col("vec_id").as("a"), col("v").as("va"))
      val b = emb.select(col("label"), col("vec_id").as("b"), col("v").as("vb"))
      a.join(b, Seq("label")).filter(col("a") < col("b"))
        .withColumn("score", CosineFns.cosineNative(col("va"), col("vb")))
        .filter(col("score") >= NEARDUP_TAU) // threshold on the exact score
        .select(col("label"), col("a"), col("b"), round(col("score"), 4).as("score"))
        .orderBy("label", "a", "b")
    },

    // SemDeDup (Abbas et al., arXiv:2303.09540, public): semantic dedup
    // scoped to coarse-quantizer cells. Every vector is assigned to its
    // NEAREST centroid (not its own label — the k-means cell, computed with
    // the q62/q125 exact-decimal mean so assignment is bit-reproducible),
    // then pairs are scored ONLY within a cell and a vector is dropped when
    // a KEPT-PREFERRED cell-mate sits within cosine >= tau. Keep-preference
    // follows the paper: LOWER cosine-to-centroid wins (keep the diverse
    // example, shed the prototypical near-copy), vec_id tiebreak. The
    // within-cell all-pairs is the algorithm's designed shape — at 100 TB
    // the cell COUNT grows with the corpus while cell SIZE stays bounded,
    // so the pair fan-out is corpus-linear, never corpus-quadratic; the
    // centroid table (cells x dim) stays broadcast-small, and the one
    // self-join shuffles on the cell key.
    "q131_semdedup" -> { (s, dir) =>
      CosineFns.register(s)
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      val comp = emb.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("c"))
      val cents = comp.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          e => e.getField("c")).as("cv"))
        .select(col("label").as("cell"), col("cv"))
      // Persisted: three consumers (both sides of the pair join + the final
      // verdict frame) — re-deriving the assignment re-runs the centroid
      // cross per consumer. Argmax as ONE aggregate (guide §2.3; the
      // ProductQuantization.reassign rationale): max(struct(cs, -cell,
      // payload)) IS (cs DESC, cell ASC) — cell is unique per vec, so the
      // payload never enters the comparison — and the map-side partial max
      // collapses the vec × cells fan-out before the exchange, no sort.
      val assigned = emb.crossJoin(broadcast(cents))
        .withColumn("cs", CosineFns.cosineNative(col("v"), col("cv")))
        .groupBy("vec_id")
        .agg(max(struct(col("cs"), (-col("cell")).as("negcell"),
          col("label"), col("v"))).as("__m"))
        .select(col("vec_id"), col("__m.label").as("label"),
          (-col("__m.negcell")).as("cell"), col("__m.v").as("v"),
          col("__m.cs").as("cs"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val keepSide = assigned.select(col("cell"), col("vec_id").as("kid"),
        col("v").as("kv"), col("cs").as("kcs"))
      val dropSide = assigned.select(col("cell"), col("vec_id").as("did"),
        col("v").as("dv"), col("cs").as("dcs"))
      // raw-double keep-order compare is safe cross-engine: cs comes off the
      // same left-to-right fold both engines run (see the oracle-mirror note)
      val dropped = keepSide.join(dropSide, Seq("cell"))
        .filter(col("kcs") < col("dcs") ||
          (col("kcs") === col("dcs") && col("kid") < col("did")))
        .filter(CosineFns.cosineNative(col("kv"), col("dv")) >= NEARDUP_TAU)
        .select(col("did")).distinct().withColumn("hit", lit(1))
      assigned.join(dropped.withColumnRenamed("did", "vec_id"), Seq("vec_id"), "left")
        .select(col("cell"), col("vec_id"),
          (col("label") =!= col("cell")).as("moved"),
          round(col("cs"), 4).as("cos_to_centroid"),
          col("hit").isNotNull.as("dropped"))
        .orderBy("cell", "vec_id")
    },

    // Brute-force exact cosine top-k: N_PROBES probe vectors against the
    // whole corpus; broadcast the probes, rank per probe.
    "q60_cosine_topk" -> { (s, dir) =>
      CosineFns.register(s)
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val probes = emb.filter(col("vec_id") < N_PROBES)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("score").desc, col("vec_id").asc)
      broadcast(probes).join(emb, col("vec_id") =!= col("probe_id"))
        .withColumn("score", CosineFns.cosineNative(col("pv"), col("v")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TOPK)
        .select(col("probe_id"), col("rank"), col("vec_id"),
          round(col("score"), 4).as("score"))
        .orderBy("probe_id", "rank")
    },

    // HYBRID SEARCH — reciprocal-rank fusion of the two retrieval
    // modalities a training-data/RAG pipeline actually runs side by side:
    // the LEXICAL arm is q132's postings-algebra BM25 top-k (exact, the
    // q113-shared oracle) and the SEMANTIC arm is probe 0's exact cosine
    // top-k over the aligned embeddings (doc_id == vec_id, q60's algebra,
    // self excluded). RRF (k=60, the standard constant) needs only each
    // list's RANKS — float-stable across engines because 1/(60+r) on small
    // integer ranks is deterministic IEEE both sides and the two
    // contributions add in one fixed order. Both arms are top-k'd with
    // TakeOrdered BEFORE the rank window, so no global sort ever runs over
    // the corpus — at 100 TB each arm is its own pruned index probe and
    // the fusion is O(k). A doc present in only one list scores that
    // list's contribution alone (full-outer fusion).
    "q174_hybrid_rrf" -> { (s, dir) =>
      CosineFns.register(s)
      // lexical arm: ranked by the arm's own total order (bm25 DESC, doc_id)
      val lexTop = graft.queries.CorpusQueries.queries("q132_index_bm25")(s, dir)
        .select(col("doc_id"), col("bm25")).localCheckpoint() // 15 rows
      val wLex = Window.orderBy(col("bm25").desc, col("doc_id").asc)
      val lex = lexTop.withColumn("r_lex", row_number().over(wLex).cast("long"))
        .select(col("doc_id"), col("r_lex"))
      // semantic arm: TakeOrdered top-15, then rank the bounded list
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val probe = emb.filter(col("vec_id") === 0L).select(col("v").as("pv"))
      val semTop = emb.filter(col("vec_id") =!= 0L).crossJoin(broadcast(probe))
        .withColumn("score", CosineFns.cosineNative(col("pv"), col("v")))
        .select(col("vec_id"), col("score"))
        .orderBy(col("score").desc, col("vec_id").asc).limit(15)
        .localCheckpoint()
      val wSem = Window.orderBy(col("score").desc, col("vec_id").asc)
      val sem = semTop.withColumn("r_sem", row_number().over(wSem).cast("long"))
        .select(col("vec_id").as("doc_id"), col("r_sem"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60.0) + col("r_lex").cast("double")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("r_sem").cast("double")), lit(0.0)), 6))
        .select(col("doc_id"), col("r_lex"), col("r_sem"), col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },

    // LSH-bucketed ANN: deterministic random-hyperplane signature (LCG
    // weights, no driver RNG) buckets the corpus; each probe scores only its
    // own bucket. Approximate — documented recall tradeoff vs q60.
    "q61_ann_lsh" -> { (s, dir) =>
      CosineFns.register(s)
      TextVectorFns.register(s)
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("sig", TextVectorFns.lshSignatureNative(col("v"), PLANES, DIM))
      val probes = emb.filter(col("vec_id") < N_PROBES)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("sig"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("score").desc, col("vec_id").asc)
      broadcast(probes).join(emb, Seq("sig"))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("score", CosineFns.cosineNative(col("pv"), col("v")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TOPK)
        .select(col("probe_id"), col("rank"), col("vec_id"),
          round(col("score"), 4).as("score"))
        .orderBy("probe_id", "rank")
    },

    // Full IVF search: per-cell centroids (exact decimal component sums —
    // a distributed double-sum is accumulation-order-dependent, a decimal
    // sum is not, so centroids are bit-reproducible), probes assigned to
    // their NPROBE_CELLS best cells by centroid cosine (multi-probe: the
    // standard recall mitigation, measured by q69), then scored ONLY within
    // those cells. At 100 TB: the centroid table is tiny (cells x dim) and
    // broadcast; each probe reads ~nprobe x corpus/cells — the classic IVF
    // recall/latency trade backing q60's exact baseline.
    "q65_ivf_search" -> { (s, dir) =>
      CosineFns.register(s)
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      val comp = emb.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("c"))
      val cents = comp.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          e => e.getField("c")).as("cv"))
      val probes = emb.filter(col("vec_id") < N_PROBES)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      val wAssign = Window.partitionBy("probe_id")
        .orderBy(col("cscore").desc, col("label").asc)
      val assigned = probes.crossJoin(broadcast(cents))
        .withColumn("cscore", CosineFns.cosineNative(col("pv"), col("cv")))
        .withColumn("r", row_number().over(wAssign)).filter(col("r") <= NPROBE_CELLS)
        .select(col("probe_id"), col("pv"), col("label"))
      val wRank = Window.partitionBy("probe_id")
        .orderBy(col("score").desc, col("vec_id").asc)
      broadcast(assigned).join(emb, Seq("label"))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("score", CosineFns.cosineNative(col("pv"), col("v")))
        .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= TOPK)
        .select(col("probe_id"), col("label").as("cell"), col("rank"), col("vec_id"),
          round(col("score"), 4).as("score"))
        .orderBy("probe_id", "rank")
    },

    // ANN quality metric: recall@k of the IVF index against the exact
    // brute-force baseline — the monitoring query a production approximate
    // index ships with (recall is what the IVF/LSH latency trade buys down,
    // and at 100 TB you can only afford to measure it on probe samples,
    // which is exactly what this does).
    "q69_ann_recall" -> { (s, dir) =>
      val exact = queries("q60_cosine_topk")(s, dir).select(col("probe_id"), col("vec_id"))
      val approx = queries("q65_ivf_search")(s, dir)
        .select(col("probe_id"), col("vec_id"), lit(1).as("hit"))
      exact.join(approx, Seq("probe_id", "vec_id"), "left")
        .groupBy("probe_id")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / TOPK).as("recall_at_10"))
        .orderBy("probe_id")
    },

    // IVF-PQ index serving, oracle-gated end to end (the q132 pattern
    // applied to vectors): the full serving algebra of the warehouse-
    // resident vector index ([[graft.sink.VectorIndexIngest]]) re-derived
    // inline so DuckDB can adjudicate it — frozen coarse centroids (exact-
    // decimal label means), a SQL-expressible zero-iteration PQ codebook
    // (ProductQuantization.initCodebook — centroids of the deterministic
    // (vec_id + sub_id) % k init, q83's audited shape), argmin encoding,
    // then IvfPq.search's exact ADC: nprobe cells by centroid cosine, a
    // broadcast probe x M x K distance table, per-vector exact-decimal
    // lookup sums, (adc_d2 ASC, vec_id ASC) ranking. Output is the index's
    // quality contract: per-probe recall@k against the exact brute-force
    // baseline (q69's metric) plus the top-1 hit and its ADC distance —
    // gating both the ranking and the distance arithmetic bit for bit.
    // At 100 TB the served path scans only code rows (M small ints + a
    // cell id per vector) of ~nprobe/cells of the corpus; VectorIndexIngest
    // additionally prunes code FILES by manifest cell stats — its spec pins
    // index-served equal to this algebra under any ingest batching.
    "q133_ivfpq_recall" -> { (s, dir) =>
      import graft.functions.{IvfPq, ProductQuantization}
      val Dec = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)
      // persisted: 5 consumers (centroid agg, codebook training, cell
      // assignment, PQ encode, probes) plus q60's exact baseline — without
      // it the embedding scan + float cast re-runs per stage
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val comp = emb.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg((sum(col("x").cast(Dec)).cast("double") / count(lit(1))).as("c"))
      val cents = comp.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          e => e.getField("c")).as("cv"))
        .select(col("label").cast("long").as("cell"), col("cv"))
      val model = ProductQuantization.initCodebook(
        emb.select(col("vec_id"), col("v")), DIM, PQ_M, PQ_K)
      // corpus cell assignment: argmax cosine, ties cell ASC — the same
      // frozen-centroid assignment VectorIndexIngest.ingest applies, as
      // one aggregate (max(struct(cscore, -cell)) ≡ (cscore DESC, cell
      // ASC), incl. NaN ranking greatest both ways — guide §2.3)
      val cellsOf = emb.crossJoin(broadcast(cents))
        .withColumn("cscore", cosine(col("v"), col("cv")))
        .groupBy("vec_id")
        .agg(max(struct(col("cscore"), (-col("cell")).as("negcell"))).as("__m"))
        .select(col("vec_id"), (-col("__m.negcell")).as("cell"))
      val codes = ProductQuantization.encode(emb.select(col("vec_id"), col("v")), model)
        .join(cellsOf, "vec_id")
      val probes = emb.filter(col("vec_id") < N_PROBES)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      // localCheckpoint: TWO consumers (the recall join and the top-1
      // projection) — without it the whole IVF-PQ search pipeline
      // (encode + assignment windows + ADC join + rank) runs twice
      val approx = IvfPq.search(probes, IvfPq.Index(cents, codes, model),
        NPROBE_CELLS, TOPK, excludeSelf = true).localCheckpoint()
      val exact = queries("q60_cosine_topk")(s, dir).select(col("probe_id"), col("vec_id"))
      val recall = exact
        .join(approx.select(col("probe_id"), col("vec_id"), lit(1).as("hit")),
          Seq("probe_id", "vec_id"), "left")
        .groupBy("probe_id")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / TOPK).as("recall_at_10"))
      val top1 = approx.filter(col("rank") === 1)
        .select(col("probe_id"), col("vec_id").as("top1_vec_id"),
          round(col("adc_d2"), 6).as("top1_adc"))
      recall.join(top1, "probe_id").orderBy("probe_id")
    },

    // The warehouse-SERVED vector index under the DuckDB oracle: q133 gates
    // the IVF-PQ serving ALGEBRA inline; this gates the actual
    // [[graft.sink.VectorIndexIngest]] path — freeze the same frozen model
    // into warehouse tables, ingest the corpus in TWO batches (the
    // incremental path, not a batch build), then answer the probes from the
    // index: manifest cell-pruned code files, broadcast ADC distance table,
    // exact-decimal sums. The output must match DuckDB's independent
    // computation at full (rank, id, distance) identity — proving the
    // index-resident serving state (codes round-tripped through parquet,
    // batching-invariant by the frozen-model discipline) bit-equal to the
    // declarative algebra. At 100 TB this is the difference that matters:
    // the served path reads M-int code rows of ~nprobe/cells of the corpus
    // and never the float vectors.
    "q134_vector_index_served" -> { (s, dir) =>
      import graft.functions.ProductQuantization
      import graft.sink.{VectorIndexIngest, Warehouse}
      val Dec = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val comp = emb.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg((sum(col("x").cast(Dec)).cast("double") / count(lit(1))).as("c"))
      val cents = comp.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          e => e.getField("c")).as("cv"))
        .select(col("label").cast("long").as("cell"), col("cv"))
      val model = ProductQuantization.initCodebook(
        emb.select(col("vec_id"), col("v")), DIM, PQ_M, PQ_K)
      val whDir = java.nio.file.Files.createTempDirectory("graft-q134")
      val wh = new Warehouse(s, whDir.toString)
      try {
        val ing = new VectorIndexIngest(wh, "vec_id", "v", DIM, PQ_M, PQ_K)
        ing.freeze("e", cents, model)
        val src = emb.select(col("vec_id"), col("v"))
        ing.ingest("e", src.filter(col("vec_id") % 2 === 0))
        ing.ingest("e", src.filter(col("vec_id") % 2 === 1))
        val probes = emb.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))
        // localCheckpoint (eager) detaches the result from the index files
        // so the temp warehouse can be reclaimed — repeated correctness/bench
        // runs must not accumulate orphan index data in the temp dir
        ing.search("e", probes, NPROBE_CELLS, TOPK, excludeSelf = true)
          .select(col("probe_id"), col("rank"), col("vec_id"),
            round(col("adc_d2"), 6).as("adc_d2"))
          .orderBy("probe_id", "rank")
          .localCheckpoint()
      } finally {
        graft.sink.MetaIO.local.deleteTree(whDir)
      }
    },

    // VECTOR INDEX FOLLOWS THE MUTATING CORPUS: q134's warehouse-served
    // IVF-PQ index maintained from the corpus CHANGE FEED
    // ([[graft.sink.VectorIndexIngest.followChanges]]) — deletes become one
    // equality-delete commit on the codes table (O(changed pks), zero code
    // rewrites), and UPDATED embeddings re-encode against the SAME frozen
    // model, MOVING to the cell their new vector assigns to — no blue/green
    // rebuild, no retrain. Served search must equal DuckDB's independent
    // computation over the FINAL corpus at full (rank, id, distance)
    // identity: a stale code row (deleted vector still ranked), an unmoved
    // update (old cell still serving the old code), or a double-indexed pk
    // all break the ranking and miss the hash.
    "q166_vector_index_follow" -> { (s, dir) =>
      import graft.functions.ProductQuantization
      import graft.sink.{VectorIndexIngest, Warehouse}
      val Dec = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val comp = emb.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg((sum(col("x").cast(Dec)).cast("double") / count(lit(1))).as("c"))
      val cents = comp.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          e => e.getField("c")).as("cv"))
        .select(col("label").cast("long").as("cell"), col("cv"))
      val model = ProductQuantization.initCodebook(
        emb.select(col("vec_id"), col("v")), DIM, PQ_M, PQ_K)
      val whDir = java.nio.file.Files.createTempDirectory("graft-q166")
      val wh = new Warehouse(s, whDir.toString)
      try {
        val ing = new VectorIndexIngest(wh, "vec_id", "v", DIM, PQ_M, PQ_K)
        ing.freeze("e", cents, model)
        val src = emb.select(col("vec_id"), col("v"))
        ing.ingest("e", src.filter(col("vec_id") % 2 === 0))
        ing.ingest("e", src.filter(col("vec_id") % 2 === 1))
        // out-of-band corpus mutation: update (reversed vectors move cells
        // under the frozen model), then delete
        wh.morMerge("e", src.filter(col("vec_id") % 11 === 0)
          .withColumn("v", reverse(col("v"))), Seq("vec_id"))
        wh.deleteWhere("e", col("vec_id") % 7 === 0)
        ing.followChanges("e")
        val probes = emb.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("v").as("pv"))
        ing.search("e", probes, NPROBE_CELLS, TOPK, excludeSelf = true)
          .select(col("probe_id"), col("rank"), col("vec_id"),
            round(col("adc_d2"), 6).as("adc_d2"))
          .orderBy("probe_id", "rank")
          .localCheckpoint()
      } finally {
        graft.sink.MetaIO.local.deleteTree(whDir)
      }
    },

    // One Lloyd (k-means) refinement iteration over the IVF coarse
    // quantizer — the index-BUILD operator the search queries assume:
    // reassign every vector to its nearest current centroid, then report
    // per-cell membership, churn, and cohesion. Centroid components and
    // the cohesion sum accumulate in exact DECIMAL (bit-reproducible on
    // any cluster/partitioning); assignment ties break on cell id. At
    // 100 TB: centroids are cells x dim doubles (broadcast), the reassign
    // pass is one linear scan with a per-vector row_number over cells —
    // the same shape FAISS-style IVF training shards.
    "q73_ivf_refine" -> { (s, dir) =>
      CosineFns.register(s)
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      val comp = emb.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("c"))
      val cents = comp.groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          e => e.getField("c")).as("cv"))
        .withColumnRenamed("label", "cent")
      // argmax as one aggregate — max(struct(cscore, -cent, label)) ≡
      // (cscore DESC, cent ASC), label never compared (cent unique per
      // vec); map-side partial max, no per-vec sort (guide §2.3)
      val reassigned = emb.crossJoin(broadcast(cents))
        .withColumn("cscore", CosineFns.cosineNative(col("v"), col("cv")))
        .groupBy("vec_id")
        .agg(max(struct(col("cscore"), (-col("cent")).as("negcent"),
          col("label"))).as("__m"))
        .select(col("vec_id"), col("__m.label").as("label"),
          (-col("__m.negcent")).as("cent"), col("__m.cscore").as("cscore"))
        .withColumn("csd", col("cscore")
          .cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)))
      reassigned.groupBy(col("cent").as("cell"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("label") =!= col("cent"), 1L).otherwise(0L)).as("n_moved_in"),
          round(sum("csd").cast("double") / count(lit(1)), 4).as("avg_cohesion"))
        .orderBy("cell")
    },

    // TWO chained Lloyd iterations as one declarative plan (the multi-step
    // companion to q73's single step, oracle-checked end to end): centroids
    // from the initial labels -> reassign -> centroids from that assignment
    // -> reassign again; report the per-cell state after iteration 2,
    // including how many members moved between the two iterations. A fixed
    // iteration count keeps it DuckDB-mirrorable (the open-ended loop with
    // convergence stop is lloydTrain below, spec-tested); everything exact-
    // decimal/tie-broken exactly like q73, so it stays bit-reproducible.
    "q74_ivf_train2" -> { (s, dir) =>
      CosineFns.register(s)
      // 4 uses of the base frame (2 centroid passes + 2 reassign joins):
      // persist is the q57/q72 posture — MEMORY_AND_DISK so corpus-scale
      // eviction spills instead of quietly re-scanning parquet 4x.
      val emb0 = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), col("label").as("cell"), asDouble(col("embedding")).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // localCheckpoint: a1 feeds iteration 2's centroid pass AND its
      // reassign join — without it the whole iteration-1 crossJoin+window
      // pipeline runs twice
      val a1 = reassign(emb0, centroidsFor(emb0)).localCheckpoint()
      val a2 = reassign(a1.select(col("vec_id"), col("cell"), col("v")),
        centroidsFor(a1.select(col("vec_id"), col("cell"), col("v"))))
      a2.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("prev_cell") =!= col("cell"), 1L).otherwise(0L)).as("n_changed"),
          round(sum(col("cscore").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)))
            .cast("double") / count(lit(1)), 4).as("avg_cohesion"))
        .orderBy("cell")
    },

    // Scalar int8 quantization of the embedding column — the vector
    // COMPRESSION step a corpus-scale ANN index needs (4x smaller than
    // float32, 8x smaller than the double working form; SQ8 in FAISS
    // terms): per-vector symmetric scale = max|v| / 127, q_i = round(v_i /
    // scale). Emitted as per-vector audit metrics (scale, max reconstruction
    // error, saturation count) rather than the int8 array itself so the
    // oracle compare stays scalar-typed; max_abs_err <= scale/2 by
    // construction, which the oracle cross-checks numerically. Pure per-row
    // array math: zero shuffle at any scale, same posture as q70.
    "q75_quantize_int8" -> { (s, dir) =>
      val v = asDouble(col("embedding"))
      val absmax = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x)))
      spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), v.as("v"), absmax.as("absmax"))
        // zero vector => scale 1.0: quantizes to all-zero with zero error
        // instead of 0/0 NaNs
        .withColumn("scale",
          when(col("absmax") === 0.0, lit(1.0)).otherwise(col("absmax") / 127.0))
        // Metrics are computed against the UNROUNDED scale in projections
        // BEFORE the 6-digit display rounding re-aliases the same name:
        // inside one select, Spark's implicit lateral-column-alias resolution
        // would bind the fold lambdas' col("scale") to the just-defined
        // ROUNDED alias and silently quantize against the wrong scale
        // (round-6 correctness failure; sessions now also run with
        // spark.sql.lateralColumnAlias.enableImplicitResolution=false so the
        // class surfaces as an analysis error instead of a wrong answer).
        .withColumn("max_abs_err",
          round(aggregate(col("v"), lit(0.0), (acc, x) =>
            greatest(acc, abs(round(x / col("scale"), 0) * col("scale") - x))), 6))
        .withColumn("n_saturated",
          aggregate(col("v"), lit(0L), (acc, x) =>
            acc + when(abs(round(x / col("scale"), 0)) >= 127.0, 1L).otherwise(0L)))
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          col("max_abs_err"), col("n_saturated"))
        .orderBy("vec_id")
    },

    // Binary (sign-bit) quantization ANN — the 1-bit companion to q75's
    // int8: each vector compresses to a 64-bit sign signature (two 32-bit
    // BIGINT halves so neither engine's signed arithmetic can overflow),
    // candidates come from the TOP-RERANK smallest Hamming distances (two
    // XOR+popcount integer ops per comparison — the whole point: the scan
    // side never touches the float vectors), and only those candidates get
    // the exact cosine rerank. At 100 TB the signature table is 64x smaller
    // than the float corpus and the rerank reads RERANK vectors per probe —
    // the modern vector-DB binary-quantization shape (probes broadcast, like
    // q60's exact baseline it accelerates; recall measured the q69 way).
    "q80_hamming_ann" -> { (s, dir) =>
      CosineFns.register(s)
      graft.functions.expressions.SignBitsFns.register(s)
      val emb = spread(read(s, dir, "embeddings"))
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      // Half-signature: acc*2 + signbit over 32 dims, MSB first — the
      // codegen'd native form (one fused primitive loop; the HOF fold it
      // replaces is bit-identical but interpreted, TextVectorExprSpec pins
      // the equivalence). Fold order matches the oracle's list_reduce
      // (seed 0 is value-identical to DuckDB's seedless first-element start).
      def sigHalf(msb: Int) =
        graft.functions.expressions.SignBitsFns.signBitsNative(col("v"), lit(msb))
      val sig = emb.withColumn("hi", sigHalf(63)).withColumn("lo", sigHalf(31))
      val probes = sig.filter(col("vec_id") < N_PROBES)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("hi").as("phi"), col("lo").as("plo"))
      val wCand = Window.partitionBy("probe_id")
        .orderBy(col("hamming").asc, col("vec_id").asc)
      val wRank = Window.partitionBy("probe_id")
        .orderBy(col("score").desc, col("vec_id").asc)
      broadcast(probes).join(sig, col("vec_id") =!= col("probe_id"))
        .withColumn("hamming",
          bit_count(col("hi").bitwiseXOR(col("phi"))) +
            bit_count(col("lo").bitwiseXOR(col("plo"))))
        .withColumn("cr", row_number().over(wCand)).filter(col("cr") <= RERANK)
        .withColumn("score", CosineFns.cosineNative(col("pv"), col("v")))
        .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= TOPK)
        .select(col("probe_id"), col("rank"), col("vec_id"), col("hamming"),
          round(col("score"), 4).as("score"))
        .orderBy("probe_id", "rank")
    },

    // One product-quantization training step, audited per (subspace, cell)
    // — the oracle-checked witness for ProductQuantization.train's step
    // algebra (the q73 pattern at PQ granularity): deterministic
    // (vec_id + sub_id) % 16 init, exact-decimal centroids, squared-L2
    // reassign with (d2 ASC, cell ASC) tie-break. 8 subspaces x 16 cells.
    "q83_pq_train1" -> { (s, dir) =>
      graft.functions.ProductQuantization.trainStepAudit(
        spread(read(s, dir, "embeddings"))
          .select(col("vec_id"), asDouble(col("embedding")).as("v")),
        dim = DIM, m = 8, k = 16)
    },

    // Label-partitioned (IVF-style) centroid stats: per-label mean vector
    // norm + cohesion proxy — the coarse-quantizer half of an IVF index.
    "q62_ivf_centroids" -> { (s, dir) =>
      read(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
        .withColumn("n2", norm2(col("v")))
        // Exact decimal accumulation: a double SUM's value is accumulation-
        // order-dependent; per-row n2 is deterministic, so quantize it and
        // sum exactly (same pattern as the money aggregates).
        .withColumn("n2d", col("n2").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vectors"),
          round(sum("n2d").cast("double"), 4).as("sum_sq_norm"),
          round(sum("n2d").cast("double") / count(lit(1)), 4).as("avg_sq_norm"))
        .orderBy("label")
    }
  )

  /** Exact-decimal per-cell centroids of an assignment frame
    * `(vec_id, cell, v)` -> `(cent, cv)`. Same arithmetic as q73: component
    * sums in DECIMAL(28,12), one final cast to double, so centroids are
    * bit-reproducible under any partitioning. Tiny output (cells x dim).
    */
  private def centroidsFor(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg((sum(col("x").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)))
        .cast("double") / count(lit(1))).as("c"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e.getField("c")).as("cv"))
      .select(col("cell").as("cent"), col("cv"))

  /** One Lloyd reassignment pass: every vector to its best-cosine centroid,
    * ties on cell id — `(vec_id, cell, v)` x `(cent, cv)` ->
    * `(vec_id, prev_cell, cell, v, cscore)`. The centroid table is broadcast
    * (cells x dim doubles — bounded at any corpus size); the scan side is
    * one linear pass with the argmax as ONE aggregate —
    * max(struct(cscore, -cent, payload)) ≡ (cscore DESC, cent ASC), the
    * payload never compared (cent unique per vec) — so the vec × cells
    * fan-out partial-aggregates map-side with no per-vec sort (guide §2.3).
    */
  private def reassign(assigned: DataFrame, cents: DataFrame): DataFrame =
    assigned.crossJoin(broadcast(cents))
      .withColumn("cscore", CosineFns.cosineNative(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(max(struct(col("cscore"), (-col("cent")).as("negcent"),
        col("cell").as("prev_cell"), col("v"))).as("__m"))
      .select(col("vec_id"), col("__m.prev_cell").as("prev_cell"),
        (-col("__m.negcent")).as("cell"), col("__m.v").as("v"),
        col("__m.cscore").as("cscore"))

  /** Per-iteration training telemetry: vectors that changed cell, max
    * centroid L2 movement vs the previous iteration, mean cosine cohesion.
    */
  final case class LloydIter(iter: Int, churn: Long, movement: Double, avgCohesion: Double)

  /** Multi-iteration Lloyd training of the IVF coarse quantizer — the
    * open-ended form of q73/q74: iterate reassign -> re-centroid until the
    * max centroid movement drops below `minMove` (or churn hits zero, or
    * `maxIter`). Each round `localCheckpoint`s the new assignment (the
    * functions/Graph idiom: truncate lineage so N iterations cost N linear
    * passes, not an exponentially re-derived plan). Driver-side loop state
    * is bounded metadata — per-round (churn, movement, cohesion) scalars
    * and the cells x dim centroid frame — never row data; every pass is a
    * distributed linear scan, so the loop scales exactly like q73 does.
    *
    * @return final assignment `(vec_id, prev_cell, cell, v, cscore)` plus
    *         the per-iteration history (monotone-decreasing churn is the
    *         spec-checked convergence witness).
    */
  def lloydTrain(s: SparkSession, dir: String, maxIter: Int = 10,
      minMove: Double = 1e-9): (DataFrame, Seq[LloydIter]) = {
    CosineFns.register(s)
    var cur = spread(read(s, dir, "embeddings"))
      .select(col("vec_id"), col("label").as("cell"), asDouble(col("embedding")).as("v"))
      .localCheckpoint()
    var cents = centroidsFor(cur).localCheckpoint()
    val history = scala.collection.mutable.ArrayBuffer.empty[LloydIter]
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      val next = reassign(cur.select(col("vec_id"), col("cell"), col("v")), cents)
        .localCheckpoint()
      val stats = next.agg(
        sum(when(col("prev_cell") =!= col("cell"), 1L).otherwise(0L)).as("churn"),
        (sum(col("cscore").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(28, 12)))
          .cast("double") / count(lit(1))).as("coh")).head()
      val churn = stats.getLong(0)
      val newCents = centroidsFor(next.select(col("vec_id"), col("cell"), col("v")))
        .localCheckpoint()
      // max L2 movement over the (tiny) centroid tables; cells that lost all
      // members between rounds count as unbounded movement only if cosine
      // could reassign INTO them later — they can't (no centroid), so an
      // inner join is the honest comparison.
      val movement = cents.select(col("cent"), col("cv").as("cv0"))
        .join(newCents, "cent")
        .select(sqrt(aggregate(zip_with(col("cv0"), col("cv"),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)).as("d"))
        .agg(max("d")).head().getDouble(0)
      history += LloydIter(iter, churn, movement, stats.getDouble(1))
      converged = churn == 0L || movement < minMove
      cur = next
      cents = newCents
    }
    (cur, history.toSeq)
  }

  /** Int8 scalar quantization as a DATA transform — the artifact a corpus-
    * scale ANN pipeline actually ships (q75 is the audit-metric view of the
    * same math): per-vector symmetric scale = max|v| / 127 (1.0 for the zero
    * vector, which quantizes to all zeros with zero error), q_i =
    * round(v_i / scale) as `array<tinyint>` — 4x smaller than float32, 8x
    * smaller than the double working form. |q_i| <= 127 by construction
    * (|v_i| <= absmax => |v_i / scale| <= 127; round half-away-from-zero
    * keeps the boundary at 127), so the tinyint cast can't wrap.
    *
    * Input: any frame with an `array<double>` column `v`; all other columns
    * pass through. Pure per-row array math — zero shuffle at any scale.
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb
      .withColumn("absmax",
        aggregate(col("v"), lit(0.0), (acc, x) => greatest(acc, abs(x))))
      .withColumn("scale",
        when(col("absmax") === 0.0, lit(1.0)).otherwise(col("absmax") / 127.0))
      .withColumn("qv",
        transform(col("v"), x => round(x / col("scale"), 0).cast("tinyint")))
      .drop("absmax")

  /** Inverse of [[quantizeInt8]]: rv_i = q_i * scale. Element-wise
    * |rv_i - v_i| <= scale/2 by construction (spec-checked, with a cosine
    * fidelity bound vs the original).
    */
  def reconstructInt8(quantized: DataFrame): DataFrame =
    quantized.withColumn("rv",
      transform(col("qv"), q => q.cast("double") * col("scale")))

  // --- DuckDB mirrors -----------------------------------------------------
  // list_reduce folds left from the first element; Spark's aggregate folds
  // left from seed 0.0 (0.0 + x1 == x1 exactly), so the double-add sequences
  // are identical and scores match bit-for-bit before rounding.

  private def dotSql(a: String, b: String) =
    s"list_reduce(list_transform(generate_series(1, $DIM), i -> $a[i] * $b[i]), (x, y) -> x + y)"
  private def norm2Sql(a: String) =
    s"list_reduce(list_transform($a, x -> x * x), (x, y) -> x + y)"
  private def cosineSql(a: String, b: String) =
    s"${dotSql(a, b)} / sqrt(${norm2Sql(a)} * ${norm2Sql(b)})"

  /** LCG hyperplane weight — mirrors VectorFns.lcgWeight exactly. */
  private def wSql(flat: String) =
    s"(CAST((1103515245 * ($flat) + 12345) % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5)"
  private def sigSql(v: String) =
    s"""array_to_string(list_transform(generate_series(0, ${PLANES - 1}), j ->
       |  CASE WHEN list_reduce(list_transform(generate_series(0, ${DIM - 1}),
       |    d -> $v[d + 1] * ${wSql(s"j * $DIM + d")}), (x, y) -> x + y) >= 0
       |  THEN '1' ELSE '0' END), '')""".stripMargin

  private lazy val q60Oracle =
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |probes AS (SELECT vec_id AS probe_id, v AS pv FROM emb WHERE vec_id < $N_PROBES),
       |scored AS (
       |  SELECT probe_id, vec_id, ${cosineSql("pv", "v")} AS score
       |  FROM probes, emb WHERE vec_id <> probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, score, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY score DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT probe_id, rank, vec_id, round(score, 4) AS score
       |FROM ranked WHERE rank <= $TOPK ORDER BY probe_id, rank""".stripMargin

  /** q174: BM25 arm (the q113/q132-shared oracle as a subquery) fused with
    * probe 0's exact cosine arm by reciprocal rank; COALESCE order and the
    * two-term add mirror the Spark expression exactly.
    */
  private lazy val q174Oracle =
    s"""WITH lex AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
       |  FROM (${CorpusQueries.bm25Oracle})),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |probe AS (SELECT v AS pv FROM emb WHERE vec_id = 0),
       |sem0 AS (
       |  SELECT vec_id, ${cosineSql("pv", "v")} AS score
       |  FROM emb, probe WHERE vec_id <> 0),
       |sem AS (
       |  SELECT vec_id AS doc_id, r_sem FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS r_sem
       |    FROM sem0) WHERE r_sem <= 15)
       |SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
       |  round(COALESCE(1.0/(60.0 + r_lex), 0) + COALESCE(1.0/(60.0 + r_sem), 0), 6)
       |    AS rrf
       |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  private lazy val q65Oracle =
    s"""WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |comp AS (
       |  SELECT label, g.i AS pos,
       |    CAST(sum(CAST(v[g.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
       |  FROM emb, generate_series(1, $DIM) AS g(i)
       |  GROUP BY label, g.i),
       |cent AS (SELECT label, list(c ORDER BY pos) AS cv FROM comp GROUP BY label),
       |probes AS (SELECT vec_id AS probe_id, v AS pv FROM emb WHERE vec_id < $N_PROBES),
       |assign AS (
       |  SELECT probe_id, pv, label FROM (
       |    SELECT p.probe_id, p.pv, c.label,
       |      row_number() OVER (PARTITION BY p.probe_id
       |        ORDER BY ${cosineSql("p.pv", "c.cv")} DESC, c.label ASC) AS r
       |    FROM probes p, cent c) WHERE r <= $NPROBE_CELLS),
       |scored AS (
       |  SELECT a.probe_id, a.label AS cell, e.vec_id,
       |    ${cosineSql("a.pv", "e.v")} AS score
       |  FROM assign a JOIN emb e ON a.label = e.label AND e.vec_id <> a.probe_id),
       |ranked AS (
       |  SELECT probe_id, cell, vec_id, score, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY score DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT probe_id, cell, rank, vec_id, round(score, 4) AS score
       |FROM ranked WHERE rank <= $TOPK ORDER BY probe_id, rank""".stripMargin

  private lazy val q73Oracle =
    s"""WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |comp AS (
       |  SELECT label, g.i AS pos,
       |    CAST(sum(CAST(v[g.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
       |  FROM emb, generate_series(1, $DIM) AS g(i)
       |  GROUP BY label, g.i),
       |cent AS (SELECT label AS cent, list(c ORDER BY pos) AS cv FROM comp GROUP BY label),
       |assign AS (
       |  SELECT vec_id, label, cent, cscore FROM (
       |    SELECT e.vec_id, e.label, c.cent,
       |      ${cosineSql("e.v", "c.cv")} AS cscore,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e.v", "c.cv")} DESC, c.cent ASC) AS r
       |    FROM emb e, cent c) WHERE r = 1)
       |SELECT cent AS cell, CAST(count(*) AS BIGINT) AS n_vectors,
       |  CAST(sum(CASE WHEN label <> cent THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in,
       |  round(CAST(sum(CAST(cscore AS DECIMAL(28,12))) AS DOUBLE) / count(*), 4) AS avg_cohesion
       |FROM assign GROUP BY cent ORDER BY cell""".stripMargin

  /** Two chained Lloyd iterations, mirroring q74 CTE-for-stage: centroids
    * from labels -> assignment 1 -> centroids from assignment 1 ->
    * assignment 2 -> per-cell rollup. Same decimal accumulation and
    * (score DESC, cell ASC) tie-break at every stage as the Spark side.
    */
  private lazy val q74Oracle =
    s"""WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |c1comp AS (
       |  SELECT label, g.i AS pos,
       |    CAST(sum(CAST(v[g.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
       |  FROM emb, generate_series(1, $DIM) AS g(i)
       |  GROUP BY label, g.i),
       |c1 AS (SELECT label AS cent, list(c ORDER BY pos) AS cv FROM c1comp GROUP BY label),
       |a1 AS (
       |  SELECT vec_id, cent AS cell, v, cscore FROM (
       |    SELECT e.vec_id, c.cent, e.v, ${cosineSql("e.v", "c.cv")} AS cscore,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e.v", "c.cv")} DESC, c.cent ASC) AS r
       |    FROM emb e, c1 c) WHERE r = 1),
       |c2comp AS (
       |  SELECT cell, g.i AS pos,
       |    CAST(sum(CAST(v[g.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
       |  FROM a1, generate_series(1, $DIM) AS g(i)
       |  GROUP BY cell, g.i),
       |c2 AS (SELECT cell AS cent, list(c ORDER BY pos) AS cv FROM c2comp GROUP BY cell),
       |a2 AS (
       |  SELECT vec_id, prev_cell, cell, cscore FROM (
       |    SELECT a.vec_id, a.cell AS prev_cell, c.cent AS cell,
       |      ${cosineSql("a.v", "c.cv")} AS cscore,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${cosineSql("a.v", "c.cv")} DESC, c.cent ASC) AS r
       |    FROM a1 a, c2 c) WHERE r = 1)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors,
       |  CAST(sum(CASE WHEN prev_cell <> cell THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |  round(CAST(sum(CAST(cscore AS DECIMAL(28,12))) AS DOUBLE) / count(*), 4) AS avg_cohesion
       |FROM a2 GROUP BY cell ORDER BY cell""".stripMargin

  /** Half-signature mirror of q80's sigHalf: same MSB-first fold, BIGINT
    * elements so DuckDB's checked arithmetic can't overflow (max 2^32 - 1).
    * `msb1` is the 1-based index of the most significant dim (64 or 32).
    */
  private def sigHalfSql(msb1: Int) =
    s"""list_reduce(list_transform(generate_series(0, 31),
       |    i -> (CASE WHEN v[$msb1 - i] >= 0 THEN 1 ELSE 0 END)::BIGINT),
       |    (a, b) -> a * 2 + b)""".stripMargin

  private lazy val q80Oracle =
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS (
       |  SELECT vec_id, v, ${sigHalfSql(64)} AS hi, ${sigHalfSql(32)} AS lo
       |  FROM emb),
       |probes AS (SELECT vec_id AS probe_id, v AS pv, hi AS phi, lo AS plo
       |  FROM sig WHERE vec_id < $N_PROBES),
       |ham AS (
       |  SELECT probe_id, pv, s.vec_id, s.v,
       |    CAST(bit_count(xor(s.hi, phi)) + bit_count(xor(s.lo, plo)) AS INT) AS hamming
       |  FROM probes p, sig s WHERE s.vec_id <> p.probe_id),
       |cand AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY hamming ASC, vec_id ASC) AS cr FROM ham) WHERE cr <= $RERANK),
       |ranked AS (
       |  SELECT probe_id, vec_id, hamming, score, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY score DESC, vec_id ASC) AS rank
       |  FROM (SELECT probe_id, vec_id, hamming, ${cosineSql("pv", "v")} AS score
       |    FROM cand))
       |SELECT probe_id, rank, vec_id, hamming, round(score, 4) AS score
       |FROM ranked WHERE rank <= $TOPK ORDER BY probe_id, rank""".stripMargin

  /** Mirror of trainStepAudit: subvector slices are 1-based inclusive
    * ranges; the d2 fold (squared diffs, left fold) is order-identical to
    * the Spark side, so ranking ties resolve identically.
    */
  private lazy val q83Oracle =
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |subs AS (
       |  SELECT vec_id, s.i AS sub_id, v[s.i*8 + 1 : s.i*8 + 8] AS sv,
       |    (vec_id + s.i) % 16 AS cell
       |  FROM emb, generate_series(0, 7) AS s(i)),
       |comp AS (
       |  SELECT sub_id, cell, g.i AS pos,
       |    CAST(sum(CAST(sv[g.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
       |  FROM subs, generate_series(1, 8) AS g(i)
       |  GROUP BY sub_id, cell, g.i),
       |cent AS (SELECT sub_id, cell AS c_cell, list(c ORDER BY pos) AS cv
       |  FROM comp GROUP BY sub_id, cell),
       |d AS (
       |  SELECT vec_id, sub_id, cell AS prev_cell, c_cell,
       |    list_reduce(list_transform(generate_series(1, 8),
       |      i -> (sv[i] - cv[i]) * (sv[i] - cv[i])), (x, y) -> x + y) AS d2
       |  FROM subs JOIN cent USING (sub_id)),
       |a AS (SELECT vec_id, sub_id, prev_cell, c_cell AS cell, d2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id
       |    ORDER BY d2 ASC, c_cell ASC) AS r FROM d) WHERE r = 1)
       |SELECT sub_id, cell, count(*) AS n_subvectors,
       |  CAST(sum(CASE WHEN prev_cell <> cell THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in,
       |  round(CAST(sum(CAST(d2 AS DECIMAL(28,12))) AS DOUBLE) / count(*), 4) AS avg_sq_dist
       |FROM a GROUP BY sub_id, cell ORDER BY sub_id, cell""".stripMargin

  /** The frozen-model IVF-PQ serving chain in pure SQL — shared by q133
    * (recall metric) and q134 (the warehouse-SERVED path gated against the
    * same independent computation). Subvector slices, the d2 folds, the
    * decimal centroid/codebook means, and the decimal ADC sums are each the
    * proven q83/q65 mirrors; ranking runs on the raw doubles with
    * (adc ASC, vec_id ASC) ties, identical across engines.
    */
  private def ivfPqApproxSqlOver(servedSql: String) = {
    val sub = DIM / PQ_M
    def subD2(a: String, b: String) =
      s"""list_reduce(list_transform(generate_series(1, $sub),
         |      i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)""".stripMargin
    s"""WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |  femb AS ($servedSql),
       |  comp AS (
       |    SELECT label, g.i AS pos,
       |      CAST(sum(CAST(v[g.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
       |    FROM emb, generate_series(1, $DIM) AS g(i)
       |    GROUP BY label, g.i),
       |  cent AS (SELECT CAST(label AS BIGINT) AS cell, list(c ORDER BY pos) AS cv
       |    FROM comp GROUP BY label),
       |  acell AS (
       |    SELECT vec_id, cell FROM (
       |      SELECT e.vec_id, c.cell, row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosineSql("e.v", "c.cv")} DESC, c.cell ASC) AS r
       |      FROM femb e, cent c) WHERE r = 1),
       |  subs AS (
       |    SELECT vec_id, s.i AS sub_id, v[s.i*$sub + 1 : s.i*$sub + $sub] AS sv,
       |      (vec_id + s.i) % $PQ_K AS icell
       |    FROM emb, generate_series(0, ${PQ_M - 1}) AS s(i)),
       |  cbcomp AS (
       |    SELECT sub_id, icell, g.i AS pos,
       |      CAST(sum(CAST(sv[g.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
       |    FROM subs, generate_series(1, $sub) AS g(i)
       |    GROUP BY sub_id, icell, g.i),
       |  cbook AS (SELECT sub_id, icell AS ccell, list(c ORDER BY pos) AS cv
       |    FROM cbcomp GROUP BY sub_id, icell),
       |  fsubs AS (
       |    SELECT vec_id, s.i AS sub_id, v[s.i*$sub + 1 : s.i*$sub + $sub] AS sv
       |    FROM femb, generate_series(0, ${PQ_M - 1}) AS s(i)),
       |  enc AS (SELECT vec_id, sub_id, ccell AS code FROM (
       |    SELECT s.vec_id, s.sub_id, b.ccell, row_number() OVER (
       |      PARTITION BY s.vec_id, s.sub_id
       |      ORDER BY ${subD2("s.sv", "b.cv")} ASC, b.ccell ASC) AS r
       |    FROM fsubs s JOIN cbook b USING (sub_id)) WHERE r = 1),
       |  probes AS (SELECT vec_id AS probe_id, v AS pv FROM emb WHERE vec_id < $N_PROBES),
       |  passign AS (
       |    SELECT probe_id, cell FROM (
       |      SELECT p.probe_id, c.cell, row_number() OVER (PARTITION BY p.probe_id
       |        ORDER BY ${cosineSql("p.pv", "c.cv")} DESC, c.cell ASC) AS r
       |      FROM probes p, cent c) WHERE r <= $NPROBE_CELLS),
       |  psubs AS (
       |    SELECT probe_id, s.i AS sub_id, pv[s.i*$sub + 1 : s.i*$sub + $sub] AS psv
       |    FROM probes, generate_series(0, ${PQ_M - 1}) AS s(i)),
       |  ptab AS (
       |    SELECT probe_id, sub_id, ccell, ${subD2("p.psv", "b.cv")} AS d2
       |    FROM psubs p JOIN cbook b USING (sub_id)),
       |  scored AS (
       |    SELECT pa.probe_id, a.vec_id,
       |      CAST(sum(CAST(pt.d2 AS DECIMAL(28,12))) AS DOUBLE) AS adc_d2
       |    FROM acell a JOIN passign pa ON a.cell = pa.cell
       |      JOIN enc e ON e.vec_id = a.vec_id
       |      JOIN ptab pt ON pt.probe_id = pa.probe_id
       |        AND pt.sub_id = e.sub_id AND pt.ccell = e.code
       |    WHERE a.vec_id <> pa.probe_id
       |    GROUP BY pa.probe_id, a.vec_id),
       |  ranked AS (
       |    SELECT probe_id, vec_id, adc_d2, row_number() OVER (
       |      PARTITION BY probe_id ORDER BY adc_d2 ASC, vec_id ASC) AS rank
       |    FROM scored)
       |  SELECT probe_id, rank, vec_id, adc_d2 FROM ranked WHERE rank <= $TOPK""".stripMargin
  }

  private lazy val ivfPqApproxSql =
    ivfPqApproxSqlOver("SELECT vec_id, v FROM emb")

  /** q166's corpus FINAL STATE: %11 vectors updated (reversed — they move
    * cells under the frozen model), %7 deleted.
    */
  private lazy val q166Src =
    """SELECT vec_id,
      |  CASE WHEN vec_id % 11 = 0 THEN list_reverse(v) ELSE v END AS v
      |FROM emb WHERE vec_id % 7 <> 0""".stripMargin

  /** Mirror of q133's full IVF-PQ serving chain. Subvector slices, the d2
    * folds, the decimal centroid/codebook means, and the decimal ADC sums
    * are each the proven q83/q65 mirrors; ranking runs on the raw doubles
    * with (adc ASC, vec_id ASC) ties, identical across engines.
    */
  private lazy val q133Oracle =
    s"""WITH exact AS ($q60Oracle),
       |approx AS (
       |  $ivfPqApproxSql),
       |rec AS (
       |  SELECT e.probe_id,
       |    CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |      / $TOPK AS recall_at_10
       |  FROM exact e LEFT JOIN approx a
       |    ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id
       |  GROUP BY e.probe_id),
       |t1 AS (SELECT probe_id, vec_id AS top1_vec_id, round(adc_d2, 6) AS top1_adc
       |  FROM approx WHERE rank = 1)
       |SELECT r.probe_id, r.recall_at_10, t.top1_vec_id, t.top1_adc
       |FROM rec r JOIN t1 t USING (probe_id) ORDER BY probe_id""".stripMargin

  /** q134's oracle: the SAME serving-chain SQL, emitted row-for-row — the
    * warehouse-resident index path must reproduce DuckDB's independent
    * computation at full (rank, id, distance) identity.
    */
  private lazy val q134Oracle =
    s"""WITH approx AS (
       |  $ivfPqApproxSql)
       |SELECT probe_id, rank, vec_id, round(adc_d2, 6) AS adc_d2
       |FROM approx ORDER BY probe_id, rank""".stripMargin

  /** q166's oracle: the same serving chain with the model CTEs still over
    * the ORIGINAL corpus (frozen before the mutations) and the served
    * assignment/encoding over the FINAL one.
    */
  private lazy val q166Oracle =
    s"""WITH approx AS (
       |  ${ivfPqApproxSqlOver(q166Src)})
       |SELECT probe_id, rank, vec_id, round(adc_d2, 6) AS adc_d2
       |FROM approx ORDER BY probe_id, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    "q133_ivfpq_recall" -> q133Oracle,
    "q134_vector_index_served" -> q134Oracle,
    "q166_vector_index_follow" -> q166Oracle,
    "q126_embedding_audit" ->
      s"""SELECT vec_id, label,
         |  CAST(len(v) AS INT) AS dim,
         |  round(sqrt(${norm2Sql("v")}), 6) AS norm,
         |  len(list_filter(v, x -> x IS NULL)) > 0 AS has_null,
         |  (len(v) = $DIM AND NOT len(list_filter(v, x -> x IS NULL)) > 0
         |    AND sqrt(${norm2Sql("v")}) > 0.0) AS ok
         |FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
         |ORDER BY vec_id""".stripMargin,

    "q125_centroid_outliers" ->
      s"""WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |comp AS (
         |  SELECT label, g.i AS pos,
         |    CAST(sum(CAST(v[g.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
         |  FROM emb, generate_series(1, $DIM) AS g(i)
         |  GROUP BY label, g.i),
         |cent AS (SELECT label, list(c ORDER BY pos) AS cv FROM comp GROUP BY label),
         |scored AS (
         |  SELECT e.label, e.vec_id, ${cosineSql("e.v", "c.cv")} AS cos
         |  FROM emb e JOIN cent c ON e.label = c.label),
         |ranked AS (
         |  SELECT label, vec_id, cos, row_number() OVER (
         |    PARTITION BY label ORDER BY cos ASC, vec_id ASC) AS rank
         |  FROM scored)
         |SELECT label, rank, vec_id, round(cos, 4) AS cos_to_centroid
         |FROM ranked WHERE rank <= $OUTLIER_K ORDER BY label, rank""".stripMargin,

    "q73_ivf_refine" -> q73Oracle,
    "q74_ivf_train2" -> q74Oracle,
    "q80_hamming_ann" -> q80Oracle,
    "q83_pq_train1" -> q83Oracle,

    // Mirrors q75's folds exactly: max-folds start from 0.0 == Spark's seed
    // (all folded values are >= 0, so the missing explicit seed is
    // value-identical); round(x, 0) is half-away-from-zero in both engines.
    "q75_quantize_int8" ->
      s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (
         |  SELECT vec_id, v,
         |    list_reduce(list_transform(v, x -> abs(x)), (a, b) -> greatest(a, b)) AS absmax
         |  FROM emb),
         |s2 AS (SELECT vec_id, v,
         |  CASE WHEN absmax = 0 THEN 1.0 ELSE absmax / 127.0 END AS scale FROM sc)
         |SELECT vec_id, round(scale, 6) AS scale,
         |  round(list_reduce(list_transform(v,
         |    x -> abs(round(x / scale, 0) * scale - x)), (a, b) -> greatest(a, b)), 6)
         |    AS max_abs_err,
         |  CAST(list_reduce(list_transform(v,
         |    x -> CASE WHEN abs(round(x / scale, 0)) >= 127 THEN 1 ELSE 0 END),
         |    (a, b) -> a + b) AS BIGINT) AS n_saturated
         |FROM s2 ORDER BY vec_id""".stripMargin,
    "q59_embedding_neardup" ->
      s"""WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
         |  FROM embeddings)
         |SELECT label, a, b, round(score, 4) AS score FROM (
         |  SELECT x.label, x.vec_id AS a, y.vec_id AS b,
         |    ${cosineSql("x.v", "y.v")} AS score
         |  FROM emb x JOIN emb y ON x.label = y.label AND x.vec_id < y.vec_id)
         |WHERE score >= $NEARDUP_TAU
         |ORDER BY label, a, b""".stripMargin,

    "q60_cosine_topk" -> q60Oracle,

    "q174_hybrid_rrf" -> q174Oracle,

    // Same exact-decimal centroid + argmax assignment as q65/q125's proven
    // mirrors; the keep-order tuple compare runs on the raw fold doubles,
    // bit-identical across engines before any rounding.
    "q131_semdedup" ->
      s"""WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |comp AS (
         |  SELECT label, g.i AS pos,
         |    CAST(sum(CAST(v[g.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
         |  FROM emb, generate_series(1, $DIM) AS g(i)
         |  GROUP BY label, g.i),
         |cent AS (SELECT label AS cell, list(c ORDER BY pos) AS cv
         |  FROM comp GROUP BY label),
         |dots AS (
         |  SELECT vec_id, label, cell, v, ${cosineSql("v", "cv")} AS cs
         |  FROM emb CROSS JOIN cent),
         |a AS (SELECT vec_id, label, cell, v, cs FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cs DESC, cell ASC) AS r FROM dots) WHERE r = 1),
         |dropped AS (
         |  SELECT DISTINCT y.vec_id FROM a x JOIN a y ON x.cell = y.cell
         |  WHERE (x.cs < y.cs OR (x.cs = y.cs AND x.vec_id < y.vec_id))
         |    AND ${cosineSql("x.v", "y.v")} >= $NEARDUP_TAU)
         |SELECT a.cell, a.vec_id, a.label <> a.cell AS moved,
         |  round(a.cs, 4) AS cos_to_centroid,
         |  d.vec_id IS NOT NULL AS dropped
         |FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
         |ORDER BY a.cell, a.vec_id""".stripMargin,

    // Nested-CTE composition of the two pipelines under comparison.
    "q69_ann_recall" ->
      s"""WITH exact AS ($q60Oracle),
         |approx AS ($q65Oracle)
         |SELECT e.probe_id,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / $TOPK AS recall_at_10
         |FROM exact e LEFT JOIN approx a
         |  ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id
         |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin,

    "q61_ann_lsh" ->
      s"""WITH emb AS (
         |  SELECT vec_id, v, ${sigSql("v")} AS sig
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
         |probes AS (SELECT vec_id AS probe_id, v AS pv, sig FROM emb WHERE vec_id < $N_PROBES),
         |scored AS (
         |  SELECT probe_id, e.vec_id, ${cosineSql("pv", "e.v")} AS score
         |  FROM probes p JOIN emb e ON p.sig = e.sig AND e.vec_id <> p.probe_id),
         |ranked AS (
         |  SELECT probe_id, vec_id, score, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY score DESC, vec_id ASC) AS rank
         |  FROM scored)
         |SELECT probe_id, rank, vec_id, round(score, 4) AS score
         |FROM ranked WHERE rank <= $TOPK ORDER BY probe_id, rank""".stripMargin,

    "q65_ivf_search" -> q65Oracle,

    "q62_ivf_centroids" ->
      s"""SELECT label, count(*) AS n_vectors,
         |  round(CAST(sum(CAST(n2 AS DECIMAL(28,12))) AS DOUBLE), 4) AS sum_sq_norm,
         |  round(CAST(sum(CAST(n2 AS DECIMAL(28,12))) AS DOUBLE) / count(*), 4) AS avg_sq_norm
         |FROM (SELECT label, ${norm2Sql("embedding::DOUBLE[]")} AS n2 FROM embeddings)
         |GROUP BY label ORDER BY label""".stripMargin
  )
}
