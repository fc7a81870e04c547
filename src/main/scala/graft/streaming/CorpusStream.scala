package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import graft.functions.TextFns.normalize
import graft.pipeline.CorpusPipeline
import graft.pipeline.CorpusPipeline.Config
import graft.sink.Warehouse

/** Streaming corpus curation: continuous document ingestion through the
  * CorpusPipeline admission gates into a deduplicated warehouse table.
  *
  * Architecture: the in-flight stages are STATELESS (quality filter and
  * benchmark-gram decontamination are per-row / per-batch against a static
  * broadcast set), and the one genuinely global piece of state — "which
  * fingerprints has this corpus ever admitted" — lives in the WAREHOUSE
  * TABLE itself via [[Warehouse.appendDeduped]], not in streaming state.
  * Streaming-state dedup (`dropDuplicates`) grows without bound for a
  * corpus-lifetime key set and dies with the checkpoint; the table probe is
  * durable, survives checkpoint loss, and is exactly the index a batch
  * backfill uses — stream and batch ingestion share one dedup truth.
  *
  * Replay safety falls out for free: a replayed micro-batch's rows are all
  * fingerprint-duplicates by then, so `appendDeduped` admits 0 — no
  * separate file ledger needed for this sink (unlike `incrementalLoad`'s
  * merge path, where rows aren't self-identifying).
  */
object CorpusStream {

  /** Watch `watchDir` for parquet document drops and ingest each micro-batch
    * through quality -> decontaminate -> fingerprint-dedup-append into
    * `table`. `evalGrams` is the pre-computed benchmark gram set
    * ([[CorpusPipeline.evalGrams]]) — pass an empty frame to skip
    * decontamination.
    */
  def ingestCurated(spark: SparkSession, watchDir: String, schema: StructType,
      wh: Warehouse, table: String, evalGrams: DataFrame,
      cfg: Config = Config(), checkpointDir: Option[String] = None,
      streamId: String = "corpus"): DataStreamWriter[org.apache.spark.sql.Row] = {
    val grams = evalGrams.cache() // tiny by contract; reused every trigger
    spark.readStream.schema(schema).parquet(watchDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${watchDir.stripSuffix("/")}/_checkpoint_$streamId"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val q = CorpusPipeline.qualityFilter(batch, cfg)
        val clean =
          if (grams.isEmpty) q
          else CorpusPipeline.decontaminateAgainstGrams(q, grams, cfg)
        wh.appendDeduped(table,
          clean.withColumn("fp", md5(normalize(col("text")))), "fp", "doc_id")
        ()
      }
  }

  /** [[ingestCurated]]'s NEAR-dup sibling: continuous ingestion through
    * [[graft.sink.NearDupIngest]] — each micro-batch is LSH-checked against
    * the warehouse's band/signature index tables, so a slightly-reworded
    * copy of an already-admitted document is rejected in-flight, not just a
    * byte-identical one. Same state architecture as exact dedup: the
    * corpus-lifetime similarity index lives in WAREHOUSE TABLES (durable,
    * shared with batch backfills), never in streaming state; a replayed
    * micro-batch finds each doc's stored copy at signature similarity 1.0
    * and admits 0 rows, so checkpoint loss is harmless here too.
    */
  def ingestNearDeduped(spark: SparkSession, watchDir: String,
      schema: StructType, ing: graft.sink.NearDupIngest, table: String,
      checkpointDir: Option[String] = None,
      streamId: String = "neardup"): DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.schema(schema).parquet(watchDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${watchDir.stripSuffix("/")}/_checkpoint_$streamId"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ing.ingest(table, batch)
        ()
      }

  /** Streaming dual of [[graft.sink.SearchIndexIngest]]: each micro-batch
    * lands its postings, doclens and corpus rows as ONE transaction (then
    * folds the cstats rollup) — BM25 search serves a continuously-fresh
    * index with no rebuild. Same state architecture as the dedup streams:
    * the index IS warehouse tables, shared with batch backfills, durable
    * across checkpoint loss. Replay safety is the ingester's own contract
    * (idempotent-by-pk appends, ledger-guarded rollup), so a replayed
    * micro-batch — same checkpoint or a rebuilt one — appends nothing new.
    */
  def ingestIndexed(spark: SparkSession, watchDir: String,
      schema: StructType, ing: graft.sink.SearchIndexIngest, table: String,
      checkpointDir: Option[String] = None,
      streamId: String = "searchindex"): DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.schema(schema).parquet(watchDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${watchDir.stripSuffix("/")}/_checkpoint_$streamId"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ing.ingest(table, batch)
        ()
      }

  /** Streaming CDC upsert: continuous change capture into a keyed warehouse
    * table through [[Warehouse.morMerge]] — each micro-batch lands as ONE
    * O(batch) commit (batch data files + an equality-delete file of its
    * keys), so ingest cost never depends on table size or key scatter; the
    * read side pays the MOR anti-join until [[Warehouse.compactDeletes]]
    * (schedule it via [[Warehouse.maintain]], off the ingest path). This is
    * the Flink/Iceberg streaming "upsert mode" shape at 100 TB.
    *
    * Exactly-once rides the batch-id mark (the `RollupStream` guard: each
    * morMerge commit carries its batch id): morMerge replays CONVERGE by
    * value (the replay's delete kills the prior copy), but a skipped replay
    * also avoids accreting duplicate delete/data files — so the mark is an
    * IO optimization AND the no-churn guarantee, while correctness never
    * rests on it.
    */
  def ingestUpserts(spark: SparkSession, watchDir: String,
      schema: StructType, wh: Warehouse, table: String, pks: Seq[String],
      checkpointDir: Option[String] = None,
      streamId: String = "upsert"): DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.schema(schema).parquet(watchDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${watchDir.stripSuffix("/")}/_checkpoint_$streamId"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > wh.lastCommittedBatchId(table, streamId))
          wh.morMerge(table, batch, pks, marks = wh.batchIdMark(streamId, batchId))
        ()
      }

  /** Streaming dual of [[graft.sink.VectorIndexIngest]]: micro-batches of
    * (pk, vector) rows assign + PQ-encode against the FROZEN model and land
    * in the cell-clustered codes table and the corpus as ONE transaction —
    * ANN search serves a continuously-fresh IVF-PQ index. Freezing must
    * happen before the stream starts (the ingester refuses to run without a
    * model); replay safety is again the ingester's own idempotent-by-pk
    * contract.
    */
  def ingestVectorIndexed(spark: SparkSession, watchDir: String,
      schema: StructType, ing: graft.sink.VectorIndexIngest, table: String,
      checkpointDir: Option[String] = None,
      streamId: String = "vectorindex"): DataStreamWriter[org.apache.spark.sql.Row] =
    spark.readStream.schema(schema).parquet(watchDir)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        checkpointDir.getOrElse(s"${watchDir.stripSuffix("/")}/_checkpoint_$streamId"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ing.ingest(table, batch)
        ()
      }
}
