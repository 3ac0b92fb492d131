package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.GraftFunctions

/** Shared text primitives for the training-data pipeline operators
  * (SURVEY §7.6). Everything is a pure Column expression so the DuckDB
  * oracle can mirror it exactly; all hashing routes through the engine's
  * public MD5-based family (HashKeyOps).
  */
object TextOps {

  /** Whitespace tokens of the lower-cased, trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct word-bigram shingles: "t0 t1", "t1 t2", ... (0-based Spark
    * array indexing; the oracle uses DuckDB's 1-based form).
    *
    * IMPORTANT: `t` must be a MATERIALIZED column (withColumn'd attribute),
    * not the raw `tokens(text)` expression — the lambda dereferences `t`
    * per element, and a non-attribute `t` is re-evaluated on every
    * dereference: O(tokens²) regex splits per doc. That still holds with
    * the transform compiled into a loop (`CompileTransform`), which
    * regenerates the split inside the loop body. Re-measured at sf0.1,
    * local[4]: `sum(size(bigramShingles(t)))` over documents takes 0.46 s
    * materialized (0.55 s as the interpreted HOF) and 9.2 s over the raw
    * expression; the tokens alone take 0.26 s.
    */
  def bigramShingles(t: Column): Column =
    array_distinct(
      when(size(t) >= 2,
        transform(sequence(lit(0), size(t) - 2),
          i => concat(element_at(t, i + 1), lit(" "), element_at(t, i + 2))))
        .otherwise(array().cast("array<string>")))

  /** documents with the token array materialized as column `t`. */
  def withTokens(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.withColumn("t", tokens(col("text")))

  /** English stopword sample used by quality scoring / language ID. */
  val StopEn: Seq[String] =
    Seq("the", "and", "of", "to", "in", "is", "for", "on", "with", "at")
  val StopDe: Seq[String] =
    Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den")
  val StopEs: Seq[String] =
    Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con")
  val StopFr: Seq[String] =
    Seq("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans")

  /** Count of tokens contained in `words` (higher-order filter — stays in
    * codegen, no UDF).
    */
  def stopHits(t: Column, words: Seq[String]): Column =
    size(filter(t, x => x.isin(words: _*)))
}
