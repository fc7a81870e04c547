package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, MergeIntoTable, Project, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sink.Warehouse

/** Snapshot reads of tables with PENDING merge-on-read deletes
  * ([[Warehouse.equalityDelete]]) — SQL scans and the programmatic
  * [[Warehouse.load]] / `loadVersion` / `loadTag` frames alike, which plan
  * the same [[GraftTable]] relation: a graft relation whose snapshot manifest
  * carries equality-delete files cannot be served by the plain file scan —
  * the deletes live beside the data, not in it. This rule replaces such a
  * relation with the engine's MOR frame ([[Warehouse.morFrame]]): the
  * seq-aware grouped scan anti-joined against the delete-key files,
  * projected back onto the relation's own attribute ids so the surrounding
  * plan never notices the substitution.
  *
  * TIMING — an OPTIMIZER rule in the operator-optimization fixed point
  * (was: analysis-time until round 17), which is what makes the swap
  * SEGMENT-PRUNED on the steady-MOR workload (continuous upserts between
  * compactions):
  *
  *   - [[ManifestPruneRule]] runs EARLIER IN THE SAME rule list, so by the
  *     time this rule sees `Filter(cond, relation)` the relation's manifest
  *     is already the delete-aware segment-pruned one
  *     ([[graft.sink.Manifest.readPruned]]: a delete-carrying segment
  *     skips only when the query refutes its data bounds AND its
  *     delete-key bounds) — a point query over a million-file pending-MOR
  *     table plans its overlay from O(relevant segments), not the full
  *     manifest. This was the last O(table-files) planning path.
  *   - Predicate pushdown is NOT lost by deferring: the fixed point
  *     re-iterates after the splice, so `PushDownPredicates` pushes the
  *     query's filters through the re-key Project into the overlay's
  *     anti-joins, and the v1 parquet leaves receive them at physical
  *     planning (`PushedFilters` on every overlay scan — spec-pinned).
  *     The hazard named by earlier rounds was deferring PAST the operator
  *     batch (pre-CBO and later never re-run pushdown); inside it, the
  *     fixed point does the re-push for free.
  *   - Per-file delete pruning rides the same conjuncts: an equality-delete
  *     file whose recorded key bounds refute the filter can only remove
  *     rows the filter rejects anyway, so it is dropped from the overlay
  *     (fewer anti-join key scans); deletion vectors address positions,
  *     not values, and always stay.
  *
  * Write plans are left alone on the TARGET side: only the query side of a
  * `V2WriteCommand` (and the source side of `MERGE INTO`) is rewritten —
  * the write target must stay a relation for the write builders, and the
  * warehouse write path materializes pending deletes itself before any file
  * rewrite. Once [[Warehouse.compactDeletes]] (or any rewrite op) clears
  * the delete list, relations resolve to the plain pruned scan again.
  * While deletes are pending, parquet row-group pruning still applies
  * inside the MOR frame's scans.
  *
  * The overlay subplan is spliced as an OPTIMIZED plan (its own
  * QueryExecution): an analyzed splice would carry nodes the once-batches
  * already ran (SubqueryAlias elimination et al.) and mid-optimization is
  * too late for them to re-run.
  */
object MorReadRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case w: V2WriteCommand => w.withNewQuery(rewrite(w.query))
    case m: MergeIntoTable => m.copy(sourceTable = rewrite(m.sourceTable))
    // DELETE FROM / UPDATE: the target must stay a relation for their
    // planning paths (the warehouse ops materialize pending MOR deletes
    // themselves)
    case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable => d
    case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable => u
    case other => rewrite(other)
  }

  private def pendingMor(r: DataSourceV2Relation): Boolean = r.table match {
    // hasPendingDeletes answers from the root HEADER (O(2 lines)) for
    // un-pruned relations — this gate runs on every graft relation and
    // must not force a manifest replay just to learn there is nothing to
    // overlay. Pruned relations answer from their in-memory manifest.
    case t: GraftTable =>
      if (t.prunedManifest.isDefined) t.manifest.deletes.nonEmpty
      else t.hasPendingDeletes
    case _ => false
  }

  /** Equality-delete files dropped from an overlay because the query's own
    * filter refutes their recorded key bounds (observability for specs —
    * the per-file pass is an optimization, so correctness tests can't see
    * it; this counter can).
    */
  val eqDeletesPruned = new java.util.concurrent.atomic.AtomicLong(0L)

  // transformDOWN, not Up: with transformUp the bare-relation case rewrites
  // the child before its parent Filter is visited, so the per-file
  // equality-delete pruning case could never fire. Descending into the
  // spliced replacement is safe — the overlay subplan contains only v1
  // parquet relations, which match neither case.
  private def rewrite(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    // filtered read: ManifestPruneRule (earlier in this rule list) already
    // segment-pruned the manifest delete-aware; here the surviving
    // EQUALITY-delete files get the per-file pass on the same conjuncts
    case f @ Filter(cond, r: DataSourceV2Relation) if pendingMor(r) =>
      val gt = r.table.asInstanceOf[GraftTable]
      val man = gt.manifest
      val dels = man.deletes.filter(d => d.kind != "eq" ||
        ManifestPruneRule.mayMatch(graft.sink.DataFile("", d.rows, d.stats), cond))
      eqDeletesPruned.addAndGet((man.deletes.size - dels.size).toLong)
      f.copy(child = morPlan(gt, man.copy(deletes = dels), r))
    case r: DataSourceV2Relation if pendingMor(r) =>
      val gt = r.table.asInstanceOf[GraftTable]
      morPlan(gt, gt.manifest, r)
  }

  private def morPlan(gt: GraftTable, man: graft.sink.Manifest,
                      r: DataSourceV2Relation): LogicalPlan = {
    val wh = new Warehouse(SparkSession.active, gt.root)
    val mor = wh.morFrame(gt.table, man).queryExecution.optimizedPlan
    // re-key the MOR plan's output onto the relation's attribute ids so
    // references above the substitution keep resolving — by NAME: a USING
    // anti-join moves its key columns first, so the overlay's column order
    // differs from the relation's whenever a delete key is not column one
    val byName = mor.output.map(a => a.name -> a).toMap
    Project(r.output.map(o =>
      Alias(byName(o.name), o.name)(exprId = o.exprId, qualifier = o.qualifier)), mor)
  }
}
