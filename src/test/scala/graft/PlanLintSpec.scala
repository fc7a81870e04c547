package graft

import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning

/** Plan lint: every declared query's PHYSICAL plan is swept for scale
  * red flags, so a regression that silently degrades a join into a
  * cartesian product (or drops whole-stage codegen entirely) fails CI
  * instead of surfacing as a 100 TB incident.
  *
  * Known exception: q65/q69 cross-join probes against the CELL CENTROID
  * table — cells x dim doubles, broadcast, bounded — which is a deliberate
  * tiny-cross, not a fact-fact blowup.
  */
class PlanLintSpec extends SparkSpec {

  // q60 is the DELIBERATE brute-force baseline (probes broadcast against the
  // whole corpus, non-equi); q65/q69 cross-join probes against the broadcast
  // cell-centroid table (cells x dim, bounded).
  // q73/q74 reassign every vector against the broadcast centroid table
  // (cells x dim — the Lloyd step's inherent shape), same bounded cross as
  // q65; q74 is two such steps chained.
  // q80 broadcasts the probe signatures against the full signature table
  // (non-equi, like q60) — but the scan side is two BIGINTs per vector, the
  // 64x-compressed form that IS the binary-quantization design.
  // q85/q86/q97/q113/q120/q132 cross-join a ONE-ROW broadcast scalar (the
  // corpus token total / N+total_dl(+per-term df) stats / graph node count)
  // onto bounded frames — a constant fan-out of 1, not a fact-fact blowup.
  private val allowedCartesian =
    Set("q60_cosine_topk", "q65_ivf_search", "q69_ann_recall", "q73_ivf_refine",
      "q74_ivf_train2", "q80_hamming_ann", "q85_vocab_coverage", "q86_collocations",
      "q97_bm25_keywords", "q99_balanced_sample", "q108_session_baskets",
      "q113_bm25_search", "q120_pagerank2", "q127_idle_capital",
      "q128_dedup_recall", "q132_index_bm25",
      // q131 assigns every vector against the broadcast cell-centroid table
      // (cells x dim, bounded) — the same deliberate tiny-cross as q65/q73.
      "q131_semdedup",
      // q174's semantic arm crosses the corpus with ONE broadcast probe row
      // (q60's shape) and its lexical arm embeds q132's whitelisted plan.
      "q174_hybrid_rrf",
      // q133 composes three bounded broadcast crosses: corpus/probe cell
      // assignment against the centroid table (q65/q73's shape) and the ADC
      // probe x M x K distance table onto the code scan (IvfPq.search);
      // q134 serves the same algebra from the warehouse-resident index
      // (same bounded crosses, code scan manifest-pruned).
      "q133_ivfpq_recall", "q134_vector_index_served")

  // q146 is the metadata-only aggregate: StatsAggRule collapses the whole
  // query to a one-row LocalTableScan — no scan, no join, and therefore no
  // codegen span. The absence IS the feature (StatsAggSpec pins it).
  private val allowedNoCodegen = Set("q146_metadata_aggregates")

  /** Plan statically (AQE off): AQE wraps plans before stage codegen is
    * decided, hiding both the `*(n)` markers and the pre-reoptimization
    * exchange layout the lints inspect.
    */
  private def staticPlan(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): SparkPlan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try fn(spark, sf).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** Every declared query's static plan, built ONCE in name order and
    * shared by every lint and pin below — building 165 query plans is most
    * of this spec's cost, and each sweep used to build them all again.
    */
  private lazy val staticPlans: Seq[(String, SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) => name -> staticPlan(fn) }
  private def planOf(name: String): SparkPlan =
    staticPlans.collectFirst { case (`name`, p) => p }.get

  test("no unintended cartesian products; codegen present") {
    val offenders = staticPlans.flatMap { case (name, p) =>
      val plan = p.toString
      val cartesian = (plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")) && !allowedCartesian(name)
      val noCodegen = !plan.contains("*(") && !allowedNoCodegen(name)
      if (cartesian) Some(s"$name: cartesian/nested-loop join")
      else if (noCodegen) Some(s"$name: no whole-stage-codegen span")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** The q72 regression class (round 3, 28.3 s at sf0.1): optimizer rules
    * (InferFiltersFromGenerate + predicate pushdown) can clone an expensive
    * higher-order-function tree into a Filter and sink it BELOW the
    * `spread()` round-robin exchange — onto the raw single-partition scan —
    * so the whole corpus runs the interpreted lambda on one core, twice,
    * before the repartition that was supposed to parallelize it. The lint
    * sweeps every query (descending into cached-relation subtrees) for a
    * HOF-bearing Filter anywhere under a round-robin exchange.
    */
  // collect() does not descend into InMemoryTableScanExec's cached plan,
  // where q57/q72's spread() lives after the persist — recurse explicitly.
  private def subtrees(p: SparkPlan): Seq[SparkPlan] =
    Seq(p) ++ p.children.flatMap(subtrees) ++ (p match {
      case im: InMemoryTableScanExec => subtrees(im.relation.cachedPlan)
      case _ => Nil
    })

  // spread()'s exchange is a content-hash repartition (HashPartitioning
  // over an XxHash64 key) — round-robin remains matched for the no-hashable-
  // column fallback and any bare repartition(n) elsewhere.
  private def isSpreadExchange(e: ShuffleExchangeExec): Boolean =
    e.outputPartitioning match {
      case _: RoundRobinPartitioning => true
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        h.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.XxHash64]))
      case _ => false
    }

  private def hofFiltersBelowSpread(p: SparkPlan): Seq[String] = {
    for {
      ex <- subtrees(p).collect {
        case e: ShuffleExchangeExec if isSpreadExchange(e) => e
      }
      below <- subtrees(ex.child)
      f <- Some(below).collect { case f: FilterExec => f }
      hof <- f.condition.collectFirst { case h: HigherOrderFunction => h }
    } yield s"Filter[${hof.prettyName}] below spread exchange: ${f.condition.sql.take(120)}"
  }

  test("no HOF-bearing Filter below a spread() round-robin exchange") {
    val offenders = staticPlans.flatMap { case (name, plan) =>
      hofFiltersBelowSpread(plan).map(msg => s"$name: $msg")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("lint catches the q72 regression shape (seed: un-persisted gram frame)") {
    // Rebuild q72's degenerate form — shingle HOF aliased into both split
    // branches with NO persist, the exact plan the round-3 regression
    // produced — and require the lint to flag it. Guards the lint itself
    // against silently going blind to the class it was written for.
    // w = 7, NOT q72's 8: with the same width the logical subtree is
    // identical to the one q72 persisted, and the CacheManager substitutes
    // the cached relation into this plan — which (correctly) erases the
    // degenerate shape and would make the seed vacuous.
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns.{shingles, tokens}
    import graft.queries.Tables.{read, spread}
    val degenerate = { () =>
      val docs = spread(read(spark, sf, "documents"))
        .withColumn("tk", tokens(col("text")))
        .select(col("doc_id"), array_distinct(shingles(col("tk"), 7)).as("sh"))
      val isEval = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
      val ev = docs.filter(isEval).select(col("doc_id").as("eval_id"), explode(col("sh")).as("g"))
      val tr = docs.filter(!isEval).select(col("doc_id"), explode(col("sh")).as("g"))
      tr.join(ev, "g").groupBy("doc_id").agg(countDistinct("g").as("n_overlap"))
    }
    val hits = hofFiltersBelowSpread(staticPlan((_, _) => degenerate()))
    assert(hits.nonEmpty,
      "lint did not flag the un-persisted q72 shape — either the optimizer no " +
        "longer sinks the inferred HOF filter (re-verify and retire the lint) " +
        "or the lint regressed")
  }

  /** q72 and decontaminateStream hinge on the eval gram side being
    * BROADCAST (the production posture: a fixed benchmark suite vs a 100 TB
    * corpus). The `broadcast()` hint is in the query source, but a future
    * optimizer change could silently drop it and shuffle the full train-side
    * gram frame instead — assert the join strategy in the plan.
    */
  test("q72 eval gram join is a broadcast hash join on the gram key") {
    // A plan-string contains("BroadcastHashJoin") would stay green if the
    // gram join fell back to SMJ while some OTHER join kept the string
    // present — assert a BroadcastHashJoinExec node whose join key is the
    // gram column `g` itself.
    val plan = planOf("q72_decontamination")
    val gramJoins = subtrees(plan).collect {
      case j: BroadcastHashJoinExec
          if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "g")) => j
    }
    assert(gramJoins.nonEmpty,
      s"q72 has no broadcast hash join keyed on the gram column:\n${plan.toString.take(2000)}")
  }

  /** q76's scale story is the same: only the DF *head* broadcasts back onto
    * the gram frame (the rare tail is inferred by difference and never
    * moves). If the hint is lost the join degrades to shuffling the full
    * corpus-sized gram frame — pin the strategy like q72's.
    */
  test("q76 DF-head join is a broadcast hash join on the gram key") {
    val plan = planOf("q76_gram_df_stats")
    val gramJoins = subtrees(plan).collect {
      case j: BroadcastHashJoinExec
          if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "g")) => j
    }
    assert(gramJoins.nonEmpty,
      s"q76 has no broadcast hash join keyed on the gram column:\n${plan.toString.take(2000)}")
  }

  /** Round-7 operator pins: each new query's load-bearing physical shape,
    * asserted so a Spark upgrade or refactor that silently degrades it
    * (e.g. set-ops falling back to joins) fails here, not in a 100 TB run.
    */
  test("round-7 plan pins: native sessions, set-op replay, unpivot, outlier broadcast") {
    val p110 = planOf("q110_native_sessions").toString
    assert(p110.contains("MergingSessions"),
      "q110 lost Spark's native session-window operator")
    val p102 = planOf("q102_setops_all").toString
    assert(p102.contains("replicaterows") && !p102.contains("Join"),
      "q102 must stay counted-aggregate + Generate multiplicity replay — no join")
    val p101 = planOf("q101_unpivot").toString
    assert(p101.contains("Expand") && !p101.contains("Join"),
      "q101's unpivot must be a zero-join Expand projection")
    val p94 = planOf("q94_outlier_docs").toString
    assert(p94.contains("BroadcastHashJoin"),
      "q94's per-source stats must broadcast back onto the scan")
  }
}
