package perfbench

import org.apache.spark.sql.{functions, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Independent expectations, built with plain Spark over the generated
  * inputs only — never through the engine under test.
  */
object Oracles {
  /** Merge disposition: the last batch that carries a key wins. */
  def lastWriterWins(batches: Seq[DataFrame], pks: Seq[String]): DataFrame = {
    val tagged = batches.zipWithIndex.map { case (b, i) => b.withColumn("__b", lit(i)) }
      .reduce(_ unionByName _)
    val w = Window.partitionBy(pks.map(col): _*).orderBy(col("__b").desc)
    tagged.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .drop("__b", "__r")
  }

  /** Append disposition: every batch, in order. */
  def concat(batches: Seq[DataFrame]): DataFrame = batches.reduce(_ unionByName _)

  /** Replace disposition: the last batch alone. */
  def lastBatch(batches: Seq[DataFrame]): DataFrame = batches.last

  /** `df` with `schema`'s columns, in its order and types. */
  def conformTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  /** Multiset equality of two frames over `actual`'s columns, by an
    * order-independent fingerprint of each side's rows: the row count and
    * two exact sums of independent 64-bit row hashes. Equal multisets give
    * equal fingerprints; unequal ones collide with negligible probability.
    * One aggregate over both sides, grouped by side.
    */
  def sameRows(actual: DataFrame, expected: DataFrame): Boolean = {
    val cols = actual.columns.map(col).toSeq
    val side = "__side"
    val both = actual.select(lit(0).as(side) +: cols: _*)
      .unionByName(conformTo(expected, actual.schema).select(lit(1).as(side) +: cols: _*))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val fp = both.groupBy(side).agg(count(lit(1)), sum(xxhash64(cols: _*).cast(dec)),
      sum(xxhash64(lit("salt") +: cols: _*).cast(dec))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDecimal(2), r.getDecimal(3))).toMap
    fp.get(0) == fp.get(1)
  }

  /** Top-`k` BM25 over `docs` computed from scratch: the engine's
    * tokenizer, then the served index's scoring expression term for term
    * (rational idf, per-term parts summed in one fixed-order expression,
    * rounded to 6 places), so a current index must match it exactly.
    */
  def bm25(docs: DataFrame, pk: String, text: String, terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(pk), graft.functions.TextFns.tokens(col(text)).as("tk"))
      .select(col(pk), col("tk"), size(col("tk")).cast("long").as("dl"))
    val corpus = toks.agg(count(lit(1)).as("n"), sum(col("dl")).cast("double").as("total_dl"))
    val posts = toks.select(col(pk), col("dl"), explode(col("tk")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term"), col(pk), col("dl")).agg(count(lit(1)).as("tf"))
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, 1L).otherwise(0L)).as(s"df$i") }
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"tf$i") }
    val dfs = posts.agg(dfCols.head, dfCols.tail: _*)
    val tfs = posts.groupBy(col(pk), col("dl")).agg(tfCols.head, tfCols.tail: _*)
    def part(i: Int) =
      ((col(s"tf$i").cast("double") * (k1 + 1.0)
        / (col(s"tf$i").cast("double") + lit(k1) * (lit(1.0 - b)
          + lit(b) * col("dl").cast("double") * col("n").cast("double") / col("total_dl"))))
        * ((col("n") - col(s"df$i")).cast("double") + 0.5)
        / (col(s"df$i").cast("double") + 0.5))
    tfs.crossJoin(corpus.crossJoin(dfs))
      .withColumn("n_hits",
        terms.indices.map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _))
      .withColumn("bm25", round(terms.indices.map(part).reduce(_ + _), 6))
      .select(col(pk), col("n_hits"), col("bm25"))
      .orderBy(col("bm25").desc, col(pk)).limit(k)
  }

  /** Near-dup index rows of `docs` from scratch: MinHash signatures over
    * distinct word 3-shingles (16 positions sliced from 4 salted md5s) as
    * (pk, sig), and their 4 LSH band keys as (pk, band_idx, band_key) — the
    * near-dup index's algebra (and its DuckDB oracle's), from the engine's
    * text kernels with nothing stored.
    */
  def minHash(docs: DataFrame, pk: String, text: String): (DataFrame, DataFrame) = {
    import graft.functions.TextFns
    val (k, salts, bands, rows) = (16, 4, 4, 4)
    val sh = array_distinct(TextFns.shingles(TextFns.tokens(col(text)), 3))
    val hashed = docs.select(col(pk), explode_outer(sh).as("h"))
      .select(col(pk) +: (0 until salts).map(t =>
        md5(functions.concat(lit(s"$t:"), col("h"))).as(s"m$t")): _*)
    val sigCols = (0 until k).map(j =>
      min(substring(col(s"m${j / salts}"), (j % salts) * 8 + 1, 8)).as(s"s$j"))
    // computed once: both the signature and the band comparison read it
    val sigs = hashed.groupBy(col(pk)).agg(sigCols.head, sigCols.tail: _*)
      .select(col(pk), array((0 until k).map(j => col(s"s$j")): _*).as("sig"))
      .localCheckpoint()
    val bandRows = sigs.select(col(pk),
      posexplode(TextFns.lshBands(col("sig"), bands, rows)).as(Seq("band_idx", "band_key")))
    (sigs, bandRows)
  }

  /** Net multiplicity per row of a signed change feed (`_change_type`
    * "+I" counts +1, "-D" counts -1); rows netting to 0 are dropped.
    */
  def signedNet(changes: DataFrame, cols: Seq[String]): DataFrame =
    changes.groupBy(cols.map(col): _*)
      .agg(sum(when(col("_change_type") === "+I", 1L)
        .when(col("_change_type") === "-D", -1L).otherwise(0L)).as("net"))
      .filter(col("net") =!= 0)

  /** The net change that turns `before` into `after`, in [[signedNet]]'s
    * shape: +1 per row only in `after`, -1 per row only in `before`.
    */
  def diffNet(before: DataFrame, after: DataFrame, cols: Seq[String]): DataFrame =
    signedNet(after.select(cols.map(col): _*).withColumn("_change_type", lit("+I"))
      .unionByName(before.select(cols.map(col): _*).withColumn("_change_type", lit("-D"))),
      cols)
}
