package graft.sink

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance for ADDITIVE rollups — the
  * exact-aggregate sibling of [[graft.functions.Sketches]]'s HLL columns.
  *
  * The scale problem: a 100 TB fact table's dashboard rollup (revenue per
  * day × type, say) cannot be recomputed by rescanning the fact on every
  * ingest. Additive aggregates (count / sum / min / max) decompose over
  * unions, so the rollup is maintainable from batches alone:
  *
  *   - [[partial]] aggregates ONE ingest batch to (keys → partial state) —
  *     output is bounded by the batch's key diversity, never its row count;
  *   - the partial rows are APPENDED to a rollup table (O(batch) commit,
  *     same append-only protocol as every other write — no read-modify-write
  *     race with concurrent maintainers, the manifest CAS serializes them);
  *   - [[read]] folds whatever partial rows exist with each measure's MERGE
  *     function (sum-of-counts, sum-of-sums, min-of-mins, max-of-maxs);
  *   - [[compact]] replaces accumulated partials with their fold, bounding
  *     the table at O(distinct keys) rows between ingests.
  *
  * Correctness invariant (spec-checked): for any split of the fact into
  * batches, and compactions at any points, `read(rollup)` equals the direct
  * aggregate over the whole fact — exactly, because sums run in DECIMAL and
  * the fold tree of exact values is association-free.
  *
  * Not expressible this way: non-decomposable measures (exact distinct,
  * exact median). Those need state columns that grow with the data — HLL
  * sketch columns ([[graft.functions.Sketches]]) are the bounded-error
  * version of distinct; medians need the raw distribution.
  */
object IncrementalRollup {

  /** One rollup measure: how a batch aggregates it ([[partial]]) and how
    * partial rows fold at read/compact time ([[merge]]). Both sides alias
    * to the same `name`, so partial and merged frames share a schema.
    *
    * `signedPartial` is the DELETE-INVERTIBLE form over a row-level change
    * feed (a frame carrying `_change_type`): `-D` rows fold with inverted
    * sign, so an update/delete on the fact subtracts exactly what its
    * insert added. Defined only for count/sum — min/max are not invertible
    * under deletes (None ⇒ the change-feed paths maintain them by the tie
    * gate and a recompute from the fact, see [[affectedGroups]]).
    */
  sealed trait Measure {
    def name: String
    def partial: Column
    def merge: Column
    def signedPartial: Option[Column] = None
  }

  private def isDelete: Column = col("_change_type") === "-D"

  /** count(*) — merges by summing. */
  final case class CountStar(name: String) extends Measure {
    def partial: Column = count(lit(1)).as(name)
    def merge: Column = sum(col(name)).as(name)
    override def signedPartial: Option[Column] =
      Some(sum(when(isDelete, -1L).otherwise(1L)).as(name))
  }

  /** Exact decimal sum of `expr` (pass a DECIMAL-cast column for double
    * inputs — see `Tables.dec` — so the fold is association-free).
    */
  final case class SumOf(expr: Column, name: String) extends Measure {
    def partial: Column = sum(expr).as(name)
    def merge: Column = sum(col(name)).as(name)
    // negate (unary minus) keeps the operand's exact type — a `* -1` would
    // widen DECIMAL precision and drift the partial schema
    override def signedPartial: Option[Column] =
      Some(sum(when(isDelete, negate(expr)).otherwise(expr)).as(name))
  }

  final case class MinOf(expr: Column, name: String) extends Measure {
    def partial: Column = min(expr).as(name)
    def merge: Column = min(col(name)).as(name)
  }

  final case class MaxOf(expr: Column, name: String) extends Measure {
    def partial: Column = max(expr).as(name)
    def merge: Column = max(col(name)).as(name)
  }

  /** A rollup definition: grouping keys + additive measures. */
  final case class Spec(keys: Seq[String], measures: Seq[Measure]) {
    require(measures.nonEmpty, "rollup needs at least one measure")
    require(measures.map(_.name).distinct.size == measures.size,
      "measure output names must be unique")
  }

  // ---- durable Spec serialization ----------------------------------------
  // A stream-maintained rollup's spec must survive the maintainer process:
  // policy-driven maintenance ([[Warehouse.maintain]]) repairs the pending-
  // extremes side table from the recorded spec, so a SQL-only operator can
  // drain a rollup they did not build. Measure expressions round-trip via
  // their generated SQL (`Column.expr.sql` → `functions.expr`), every
  // variable field base64-wrapped so arbitrary column names and expression
  // text can never corrupt the line format.

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  // Column.toString renders the column node as parseable SQL text in
  // Spark 4 ("CAST(v AS DECIMAL(20,4))"); the classic ExpressionUtils
  // route yields a lazy ColumnNodeExpression whose .sql does not re-parse
  private def sqlOf(c: Column): String = c.toString

  /** One-line-per-field durable encoding of `spec` (see [[specFromString]]). */
  def specToString(spec: Spec): String = {
    val keys = s"keys:${spec.keys.map(b64).mkString(",")}"
    val ms = spec.measures.map {
      case CountStar(n)  => s"m:count:${b64(n)}"
      case SumOf(e, n)   => s"m:sum:${b64(n)}:${b64(sqlOf(e))}"
      case MinOf(e, n)   => s"m:min:${b64(n)}:${b64(sqlOf(e))}"
      case MaxOf(e, n)   => s"m:max:${b64(n)}:${b64(sqlOf(e))}"
    }
    ("v1" +: keys +: ms).mkString("\n")
  }

  /** Inverse of [[specToString]]; throws on an unrecognized encoding. */
  def specFromString(s: String): Spec = {
    val lines = s.linesIterator.toSeq
    require(lines.headOption.contains("v1"), s"unknown rollup-spec encoding: $s")
    val keys = lines.find(_.startsWith("keys:")).map(_.stripPrefix("keys:"))
      .map(ks => if (ks.isEmpty) Nil else ks.split(',').toSeq.map(unb64))
      .getOrElse(Nil)
    val measures = lines.filter(_.startsWith("m:")).map { l =>
      l.split(':').toSeq match {
        case Seq("m", "count", n)   => CountStar(unb64(n))
        case Seq("m", "sum", n, e)  => SumOf(expr(unb64(e)), unb64(n))
        case Seq("m", "min", n, e)  => MinOf(expr(unb64(e)), unb64(n))
        case Seq("m", "max", n, e)  => MaxOf(expr(unb64(e)), unb64(n))
        case other => throw new IllegalArgumentException(
          s"unknown rollup-spec measure line: $l")
      }
    }
    Spec(keys, measures)
  }

  /** Aggregate one ingest batch to its partial rollup rows. */
  def partial(batch: DataFrame, spec: Spec): DataFrame =
    batch.groupBy(spec.keys.map(col): _*)
      .agg(spec.measures.head.partial, spec.measures.tail.map(_.partial): _*)

  /** Fold partial rows into the current rollup values. */
  def merge(partials: DataFrame, spec: Spec): DataFrame =
    partials.groupBy(spec.keys.map(col): _*)
      .agg(spec.measures.head.merge, spec.measures.tail.map(_.merge): _*)

  /** Maintain `table` with one ingest batch: aggregate and append the
    * partial rows (with `marks`). O(batch) work + an O(manifest) commit; the
    * fact table is never read. Returns the committed rollup version.
    *
    * The table is created EXPLICITLY with the partial frame's exact schema:
    * auto-create would push it through the widening lattice
    * ([[graft.schema.SchemaOps.widen]]), which demotes DECIMAL to double —
    * fine for ingested source data, fatal here (the whole invariant rests
    * on association-free DECIMAL folds).
    */
  def maintain(wh: Warehouse, table: String, batch: DataFrame, spec: Spec,
               marks: Map[String, String] = Map.empty): Long = {
    val p = partial(batch, spec)
    createFor(wh, table, p)
    wh.append(table, p, statsCols = spec.keys, marks = marks)
  }

  private def createFor(wh: Warehouse, table: String, partials: DataFrame): Unit =
    if (!wh.exists(table))
      wh.create(table, org.apache.spark.sql.types.StructType(
        partials.schema.fields.map(_.copy(nullable = true))))

  /** Current rollup values: fold all partial rows committed so far. The
    * frame scanned is O(batches × keys-per-batch), not O(fact rows).
    */
  def read(wh: Warehouse, table: String, spec: Spec): DataFrame =
    merge(wh.load(table), spec)

  /** Replace accumulated partials with their fold, so the table returns to
    * O(distinct keys) rows. Safe at any point: merged rows are themselves
    * valid partials (the measure algebra is idempotent over folding).
    */
  def compact(wh: Warehouse, table: String, spec: Spec): Long =
    wh.replace(table, read(wh, table, spec), statsCols = spec.keys)

  /** Self-driving maintenance off an APPEND-ONLY fact table's change feed:
    * reads the files committed to `fact` since the last call (the
    * [[Warehouse.readAdded]] feed) and folds them in, committing the fact
    * version as the batch mark of streamId `rollup:<fact>`, so a
    * crashed/retried call is a no-op — the caller never tracks batches.
    *
    * Append-only is a REQUIREMENT, not a hint: across merge/compact commits
    * the file feed re-reads surviving rows (documented superset) and an
    * additive rollup would double-count them. Returns the fact version now
    * covered.
    */
  def maintainFromFeed(wh: Warehouse, fact: String, table: String, spec: Spec): Long = {
    val sid = s"rollup:$fact"
    val last = wh.lastCommittedBatchId(table, sid) // -1 when never run
    val now = wh.currentVersion(fact)
    if (now > last) {
      // first ever call (-1): a fresh table's FIRST append commits version 0
      // WITH data, so the feed must be the whole snapshot, not a version diff
      val feed = if (last < 0) wh.loadVersion(fact, now)
        else wh.readAdded(fact, last, now)
      maintain(wh, table, feed, spec, wh.batchIdMark(sid, now))
    }
    now
  }

  // ---- change-feed maintenance ---------------------------------------------
  // One algebra over a row-level change feed (`_change_type` `+I`/`-D`),
  // shared by the batch fold ([[maintainFromChangeFeed]]) and the streaming
  // tick and drain ([[graft.streaming.ChangeFeedStream]]): the window
  // partial, the tie gate and the one recompute below. Count/sum fold
  // signed; min/max are not delete-invertible (Gupta & Mumick 1995), so a
  // `-D` that ties a stored extreme marks its group for a recompute from
  // the fact.

  /** Affected-group ceiling for the targeted recompute: above it the
    * recompute consolidates with one replace (see [[recompute]]).
    */
  private[graft] val MaxRescanGroups = 256

  /** Window partial of one change-feed window: count/sum fold signed
    * ([[Measure.signedPartial]]); min/max take the window's `+I` values as
    * candidates, and the `-D` side goes through [[affectedGroups]].
    */
  private[graft] def windowPartials(changes: DataFrame, spec: Spec): DataFrame = {
    def windowPartial(m: Measure): Column = m match {
      case MinOf(e, n) => min(when(!isDelete, e)).as(n)
      case MaxOf(e, n) => max(when(!isDelete, e)).as(n)
      case invertible  => invertible.signedPartial.get
    }
    changes.groupBy(spec.keys.map(col): _*)
      .agg(windowPartial(spec.measures.head), spec.measures.tail.map(windowPartial): _*)
  }

  /** Tie gate: the keys of the groups where some `-D` value of `changes`
    * null-safe-ties the extreme `table` stores (a delete strictly inside the
    * bounds cannot move them, and a `-D` value outside them is impossible:
    * the row existed at the covered version). Read BEFORE the window's
    * partials land. Materialized; None when no group is affected, at once
    * (no Spark job) for a spec without min/max.
    */
  private[graft] def affectedGroups(wh: Warehouse, table: String, spec: Spec,
                                    changes: DataFrame): Option[DataFrame] = {
    val ex = spec.measures.collect {
      case MinOf(e, n) => n -> min(e)
      case MaxOf(e, n) => n -> max(e)
    }
    if (ex.isEmpty) return None
    val keys = spec.keys
    val delExt = ex.map { case (n, c) => c.as(s"__d_$n") }
    val stored = read(wh, table, spec).alias("st")
    val dx = changes.filter(isDelete).groupBy(keys.map(col): _*)
      .agg(delExt.head, delExt.tail: _*).alias("dx")
    val keyCond =
      if (keys.isEmpty) lit(true)
      else keys.map(k => col(s"dx.$k") <=> col(s"st.$k")).reduce(_ && _)
    val tie = ex.map { case (n, _) => col(s"__d_$n") <=> col(s"st.$n") }.reduce(_ || _)
    val affected = dx.join(stored, keyCond).filter(tie)
      .select(keys.map(k => col(s"dx.$k")): _*).localCheckpoint()
    if (affected.isEmpty) None else Some(affected)
  }

  /** Scan predicates of a bounded affected-group set (all keys NON-NULL):
    * `(groupPred, perCol)` — the exact null-safe group disjunction, and the
    * per-column IN conjunction that pushes into the parquet scan so a
    * key-clustered fact rescans O(affected-group files).
    */
  private def groupPredicates(keys: Seq[String], rows: Seq[Row]): (Column, Column) = {
    val groupPred = rows.map(r =>
      keys.map(k => col(k) <=> lit(r.getAs[Any](k))).reduce(_ && _)).reduce(_ || _)
    val perCol = keys.map(k =>
      col(k).isin(rows.map(_.getAs[Any](k)): _*)).reduce(_ && _)
    (groupPred, perCol)
  }

  /** The one recompute: the affected `groups` (keys of `spec`) forget their
    * fold history in `table` (min-of-mins over stale partials would
    * resurrect a dead extremum) and land their rows recomputed from `fact`
    * at `version`. `carry` holds partial rows that land in the same commit,
    * and `clear` tables whose rows of `groups` retract with it; both lose
    * their rows of `groups` first. `marks` ride the commit of the table they
    * are keyed by. Groups with no fact rows left vanish, matching the direct
    * aggregate.
    *
    * A keyed set of at most [[MaxRescanGroups]] non-null groups is TARGETED:
    * per-column IN predicates reach the parquet scan, so a fact clustered by
    * the group key rescans O(affected-group files), and the retraction, the
    * landing, the clears and the marks are ONE [[Warehouse.transact]] commit —
    * two commits left a crash window in which the retracted history was gone
    * but its replacement absent, and a replay then found no tie and dropped
    * the groups' history. The staged equality deletes apply to pre-transaction
    * rows only, so they cannot touch the rows the same transaction lands.
    * Every other set CONSOLIDATES with one `replace` of `table` (kept
    * history + carried rows + semi-join-scoped recomputes), then one
    * `replace` per cleared table: the keyless rollup (its one group is the
    * whole table), a null key (staged equality deletes are plain-equality
    * and would not retract it) and a mass delete (the targeted predicates
    * would dwarf the plan). The consolidation is O(rollup rows + affected
    * fact scan), never an unscoped fact rescan; a crash before the clears
    * leaves the groups marked, and a rerun recomputes them to the same rows.
    */
  private[graft] def recompute(wh: Warehouse, table: String, spec: Spec, fact: String,
                               version: Long, groups: DataFrame,
                               carry: Option[DataFrame], clear: Seq[String],
                               marks: Map[String, Map[String, String]]): Unit = {
    val keys = spec.keys
    def marksOf(t: String) = marks.getOrElse(t, Map.empty[String, String])
    val factAt = wh.loadVersion(fact, version)
    // one past the gate: enough to choose, never an unbounded collect
    lazy val rows = groups.limit(MaxRescanGroups + 1).collect()
    if (keys.isEmpty) {
      wh.replace(table, partial(factAt, spec), statsCols = keys, marks = marksOf(table))
      clear.foreach(t => wh.replace(t, wh.load(t).limit(0), marks = marksOf(t)))
    } else if (rows.length <= MaxRescanGroups &&
               !rows.exists(r => keys.exists(r.getAs[Any](_) == null))) {
      // plain col() refs: each filter resolves against its own frame
      val (groupPred, perCol) = groupPredicates(keys, rows.toSeq)
      val landed = partial(factAt.filter(perCol && groupPred), spec)
      wh.transact { tx =>
        tx.equalityDelete(table, groups)
        tx.append(table, carry.fold(landed)(_.filter(!groupPred).unionByName(landed)),
          statsCols = keys)
        clear.foreach(tx.equalityDelete(_, groups))
        for ((t, ms) <- marks; (k, v) <- ms) tx.mark(t, k, v)
      }
    } else {
      def on(df: DataFrame): Column = keys.map(k => df(k) <=> groups(k)).reduce(_ && _)
      def without(df: DataFrame): DataFrame = df.join(groups, on(df), "left_anti")
      val landed = partial(factAt.join(groups, on(factAt), "left_semi"), spec)
      val hist = wh.load(table)
      wh.replace(table, (without(hist) +: carry.map(without).toSeq :+ landed)
        .reduce(_ unionByName _), statsCols = keys, marks = marksOf(table))
      clear.foreach(t => wh.replace(t, without(wh.load(t)), marks = marksOf(t)))
    }
  }

  /** [[maintainFromFeed]] for facts that MUTATE: folds the exact row-level
    * change feed ([[Warehouse.readChanges]]) with the [[windowPartials]] —
    * `+I` rows add, `-D` rows subtract — so deletes and update retractions on
    * the fact keep the rollup exact where the append-only file feed would
    * silently miss the subtraction. Same batch mark, in the fold's own commit
    * (a re-run after any crash never double-counts), and over append-only
    * windows the two forms fold identical values, so a fact can switch to
    * this path mid-life.
    *
    * Count/sum measures fold signed — always O(window). Min/max maintain by
    * the [[affectedGroups]] tie gate and the one [[recompute]] at the fact
    * head: unaffected groups append one partial row with the window's `+I`
    * rows as min/max candidates; affected groups are recomputed, carrying
    * the window partials of the unaffected ones in the same commit.
    */
  def maintainFromChangeFeed(wh: Warehouse, fact: String, table: String, spec: Spec): Long = {
    val sid = s"rollup:$fact"
    val last = wh.lastCommittedBatchId(table, sid)
    val now = wh.currentVersion(fact)
    if (now <= last) return now
    // bootstrap (whole snapshot as +I) has no deletes by construction: no
    // checkpoint, no tie gate, one pass
    val bootstrap = last < 0
    val feed =
      if (bootstrap) wh.loadVersion(fact, now).withColumn("_change_type", lit("+I"))
      else if (spec.measures.forall(_.signedPartial.isDefined)) wh.readChanges(fact, last, now)
      else wh.readChanges(fact, last, now).localCheckpoint() // consumers: partial, tie gate
    val part = windowPartials(feed, spec)
    createFor(wh, table, part)
    val mark = wh.batchIdMark(sid, now)
    (if (bootstrap) None else affectedGroups(wh, table, spec, feed)) match {
      case None         => wh.append(table, part, statsCols = spec.keys, marks = mark)
      case Some(groups) => recompute(wh, table, spec, fact, now, groups,
        carry = Some(part), clear = Nil, marks = Map(table -> mark))
    }
    now
  }
}
