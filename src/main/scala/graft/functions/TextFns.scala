package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for the `documents` surface (builder
  * contract: language-ID, quality scoring, token counting, fingerprinting,
  * shingling/MinHash). Everything is built from codegen'd built-ins (split /
  * transform / aggregate / md5) — no UDFs, so the whole pipeline stays inside
  * whole-stage codegen and scales linearly with executors.
  *
  * Hash choice: md5 (hex string) — bit-identical across engines, which keeps
  * even the MinHash/LSH pipeline DuckDB-oracle-checkable; numeric "min" over
  * hashes is lexicographic min over the hex strings.
  */
object TextFns {

  /** Whitespace-collapsed, lowercased canonical text. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Generation of the [[normalize]]/[[tokens]] algebra, ridden on stored
    * token-derived index state ([[graft.sink.SearchIndexIngest]]'s format
    * stamp): BUMP THIS when the tokenization changes observably — stored
    * postings tokenized under an older algebra would silently mismatch
    * query-side tokens, the same cross-era mixing class the near-dup
    * signature stamp closes.
    */
  val TokenizerGeneration = 1L

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalize(text), " ")

  val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Count of stopword tokens (quality-scoring signal). */
  def stopwordCount(toks: Column): Column =
    size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*)))

  /** Language marker scores: per-language count of marker tokens. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  def markerScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(x => x: Any): _*)))

  /** Argmax language with a fixed priority order on ties; 'und' when no
    * marker hits at all. Callers must pass scores in `langMarkers` order.
    */
  def predictLang(scores: Seq[(String, Column)]): Column = {
    val total = scores.map(_._2).reduce(_ + _)
    val best = scores.tail.foldLeft(when(lit(true), scores.head._2)) {
      case (acc, (_, s)) => when(s > acc, s).otherwise(acc)
    }
    scores.foldRight(lit("und")) { case ((lang, s), els) =>
      when(total > 0 && s === best, lang).otherwise(els)
    }
  }

  /** Word w-shingles of the token array, hashed to md5 hex (the MinHash
    * universe). transform(sequence(...)) keeps it all codegen'd array ops.
    * try_element_at, not element_at: docs with fewer than w tokens produce
    * one partial shingle (out-of-bounds -> null -> concat_ws skips), exactly
    * matching the DuckDB oracle's null-skipping — plain element_at would
    * throw under Spark 4's default ANSI mode.
    */
  def shingles(toks: Column, w: Int): Column =
    transform(sequence(lit(1), greatest(size(toks) - (w - 1), lit(1))),
      i => md5(concat_ws(" ", (0 until w).map(o => try_element_at(toks, i + o)): _*)))

  /** [[shingles]] via slice+array_join: one slice call per shingle instead
    * of w element lookups — same md5 universe (slice clamps at the array
    * end exactly like the oracle's `toks[i:i+w-1]` range, and array_join of
    * the clamped slice equals concat_ws's null-skipping), but ~w times less
    * interpreted-lambda work per shingle. Use for wide windows (q82's 20).
    */
  def wideShingles(toks: Column, w: Int): Column =
    transform(sequence(lit(1), greatest(size(toks) - (w - 1), lit(1))),
      i => md5(array_join(slice(toks, i, lit(w)), " ")))

  /** LSH band keys: bands of r signature rows, each band hashed to one key. */
  def lshBands(sig: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|", (0 until r).map(i => element_at(sig, b * lit(r) + lit(i + 1))): _*)))
}
