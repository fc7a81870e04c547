package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.sink.Warehouse

/** First-class streaming sink face of the warehouse:
  *
  * {{{
  * df.writeStream
  *   .format("graft.streaming.GraftSinkProvider")
  *   .option("root", "/data/warehouse").option("table", "events")
  *   .option("disposition", "upsert").option("keys", "event_id")
  *   .option("checkpointLocation", cp)
  *   .start()
  * }}}
  *
  * This is the `writeStream`-native dual of the [[CorpusStream]] foreachBatch
  * ingesters: the same micro-batch commit algebra, reachable from any Spark
  * job (incl. SQL-only pipelines and `pyspark`) without writing a
  * foreachBatch closure. Deliberately a V1 [[Sink]], not a DSv2
  * `StreamingWrite`: `addBatch` hands the driver the micro-batch as a LAZY
  * DataFrame, so the sink can run the warehouse's own distributed write
  * paths (append / morMerge / appendDeduped — cluster, stat, commit and all)
  * with zero driver materialization, whereas a DSv2 streaming writer would
  * have to re-implement executor-side parquet encoding plus a second commit
  * protocol for a path the warehouse already owns. (Reference behavior:
  * continuous micro-batched loading with per-resource dispositions,
  * `salesforce_pipeline.py:108-176`; Delta's streaming sink made the same
  * V1-Sink choice for the same reason.)
  *
  * Dispositions (option `disposition`, default by output mode —
  * append→`append`, update→`upsert`, complete→`replace`):
  *   - `append`       — [[Warehouse.append]]: O(batch) snapshot commit.
  *   - `upsert`       — [[Warehouse.morMerge]] on `keys`: one O(batch)
  *                      merge-on-read commit per micro-batch; ingest cost
  *                      never depends on table size or key scatter
  *                      (schedule [[Warehouse.maintain]] off-path to fold
  *                      the delete files).
  *   - `dedup`        — [[Warehouse.appendDeduped]] on `fp-col`/`pk`:
  *                      corpus ingestion where the dedup truth lives in the
  *                      table itself.
  *   - `replace`      — [[Warehouse.replace]]: complete-mode rewrite (for
  *                      small streaming aggregates; each batch IS the
  *                      table).
  *
  * Exactly-once for every disposition: each batch's commit carries its
  * batch id as a mark on the table ([[Warehouse.batchIdMark]]; an empty
  * `upsert` batch commits the mark alone), and a batch the table already
  * marked is skipped, so checkpoint-replayed batches (the normal crash
  * recovery path) never double-land. A REBUILT checkpoint restarts batch
  * numbering at 0 below the marked high-water mark; the sink fails loudly
  * rather than silently dropping the fresh stream's batches (set a new
  * `stream-id` — a new consumer identity — to re-attach, with
  * `dedup`/`upsert` replays converging by value).
  *
  * Schema drift (`merge-schema=true`): a micro-batch carrying columns the
  * table lacks evolves the table first ([[Warehouse.addMissingColumns]] —
  * metadata-only ADD COLUMN with fresh field ids; type conflicts still
  * fail), then writes. Upstream producers add fields mid-stream constantly
  * at ingest scale; without this the stream dies at the first new field.
  * Default off: silent schema growth should be an explicit choice.
  */
final class GraftTableSink(root: String, table: String, disposition: String,
    keys: Seq[String], fpCol: String, pk: String, statsCols: Seq[String],
    clusterBy: Seq[String], streamId: String, mergeSchema: Boolean)
    extends Sink {

  /** The Dataset handed to a V1 sink still wraps the STREAMING logical plan
    * (its execution is the micro-batch's IncrementalExecution, but
    * `isStreaming` stays true, so `.write` — and any re-analysis — refuses).
    * Rebuild a batch frame over that same planned execution's row RDD:
    * distributed, zero driver materialization, and the batch is computed
    * from exactly the offsets Spark planned for this epoch. The
    * per-partition Catalyst→Scala conversion is the cost of staying on the
    * public surface (the alternative is a shim in Spark's own package
    * space); it is one pass over batch-sized data, dwarfed by the parquet
    * encode that follows.
    */
  private def asBatch(data: Dataset[Row]): DataFrame =
    if (!data.isStreaming) data.toDF()
    else {
      val schema = data.schema
      val rowRdd = data.queryExecution.toRdd.mapPartitions { it =>
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(schema)
        it.map(ir => conv(ir).asInstanceOf[Row])
      }
      data.sparkSession.createDataFrame(rowRdd, schema)
    }

  override def addBatch(batchId: Long, rawBatch: Dataset[Row]): Unit = {
    val data = asBatch(rawBatch)
    commitBatch(new Warehouse(data.sparkSession, root), batchId, data)
  }

  /** Skip a batch `table` already marked, else land it with its mark. */
  private[graft] def commitBatch(wh: Warehouse, batchId: Long, data: DataFrame): Unit = {
    val last = wh.lastCommittedBatchId(table, streamId)
    if (batchId <= last) {
      // An intact checkpoint re-delivers at most the LAST committed batch
      // (its epoch-commit marker may postdate our commit), so
      // batchId == last is the normal replay — skip. Anything BELOW it
      // means batch numbering restarted: a rebuilt checkpoint, whose fresh
      // batches would otherwise be silently dropped. Refuse loudly.
      // (batch 0 against last 0 is indistinguishable from its own replay —
      // the one ambiguous case; a rebuilt consumer should re-attach under a
      // fresh stream-id either way.)
      if (batchId < last) throw new IllegalStateException(
        s"batch $batchId is below $table's committed high-water mark $last " +
          s"for stream-id '$streamId': this looks like a REBUILT checkpoint " +
          "(batch numbering restarted), which would silently skip new data. " +
          "Use a fresh stream-id to re-attach this consumer.")
      return
    }
    if (mergeSchema && wh.exists(table)) wh.addMissingColumns(table, data.schema)
    validateChecks(data)
    val mark = wh.batchIdMark(streamId, batchId)
    disposition match {
      case "append"  => wh.append(table, data, statsCols, clusterBy, mark)
      case "upsert"  => wh.morMerge(table, data, keys, clusterBy, mark)
      case "dedup"   => wh.appendDeduped(table, data, fpCol, pk, statsCols, clusterBy, mark)
      case "replace" => wh.replace(table, data, statsCols, clusterBy, mark)
    }
  }

  /** Enforced CHECK constraints apply to streams too: Spark's own
    * `ResolveTableConstraints` only guards V2 writes, and this sink lands
    * batches through the Warehouse verbs directly — without this, a table
    * whose catalog face reports an ENFORCED check could accumulate
    * violating rows from a stream. One extra batch-sized pass, and only
    * when a check exists at all (the constraint file probe is O(1)).
    * CHECK semantics: a row violates only when the predicate is FALSE —
    * null/unknown passes, the SQL-standard rule.
    */
  private def validateChecks(data: DataFrame): Unit = {
    import org.apache.spark.sql.connector.catalog.constraints.Check
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val checks = new graft.catalog.ConstraintStore(root).list(table)
      .collect { case c: Check if c.enforced() => c }
    if (checks.isEmpty) return
    val violates = checks
      .map(c => not(coalesce(expr(c.predicateSql()), lit(true))))
      .reduce(_ || _)
    val bad = data.filter(violates).limit(1).collect()
    if (bad.nonEmpty) throw new IllegalStateException(
      s"micro-batch violates an ENFORCED CHECK constraint on $table " +
        s"(${checks.map(c => s"${c.name()}: ${c.predicateSql()}").mkString("; ")}); " +
        s"first violating row: ${bad.head}")
  }

  override def toString: String =
    s"GraftTableSink(root=$root, table=$table, disposition=$disposition)"
}

/** V1 stream-sink provider for [[GraftTableSink]] — resolves from
  * `format("graft.streaming.GraftSinkProvider")` (or short name `graft`
  * where a service registry is present). All option validation happens HERE,
  * at query start, not at first micro-batch: a misconfigured sink must fail
  * `start()`, not minutes later mid-stream.
  */
class GraftSinkProvider extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    def req(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"graft sink requires option '$k'"))
    def csv(k: String): Seq[String] =
      opts.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val root = req("root")
    val table = req("table")
    val defaultDisposition =
      if (outputMode == OutputMode.Update()) "upsert"
      else if (outputMode == OutputMode.Complete()) "replace"
      else "append"
    val disposition = opts.getOrElse("disposition", defaultDisposition)
    // upsert/dedup under append mode is the standard CDC-ingest shape
    // (no streaming aggregate upstream, keyed convergence downstream)
    val allowed =
      if (outputMode == OutputMode.Append()) Set("append", "upsert", "dedup")
      else if (outputMode == OutputMode.Update()) Set("upsert")
      else if (outputMode == OutputMode.Complete()) Set("replace")
      else Set.empty[String]
    require(allowed.contains(disposition),
      s"disposition '$disposition' is not valid under output mode $outputMode " +
        s"(allowed: ${allowed.toSeq.sorted.mkString(", ")})")
    val keys = csv("keys")
    require(disposition != "upsert" || keys.nonEmpty,
      "disposition 'upsert' requires option 'keys' (comma-separated merge keys)")
    require(disposition != "dedup" || (opts.contains("fp-col") && opts.contains("pk")),
      "disposition 'dedup' requires options 'fp-col' and 'pk'")
    // writeStream.partitionBy is the natural spelling of "cluster each
    // batch on these" for a table sink; an explicit cluster-by option wins
    val clusterBy =
      if (opts.contains("cluster-by")) csv("cluster-by") else partitionColumns
    new GraftTableSink(root, table, disposition, keys,
      opts.getOrElse("fp-col", ""), opts.getOrElse("pk", ""),
      csv("stats-cols"), clusterBy,
      opts.getOrElse("stream-id", "graft-sink"),
      opts.get("merge-schema").exists(_.toBoolean))
  }
}
