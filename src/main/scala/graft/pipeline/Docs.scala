package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Shared text-pipeline column helpers over the `documents` table
  * (doc_id, text, lang, source, n_chars).
  *
  * Everything here is a pure `functions._` / SQL-expression pipeline —
  * codegen'd, no UDFs — so whole-stage codegen spans stay wide and the
  * same column expressions run unchanged on a 1000-executor cluster.
  */
object Docs {

  def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  /** (doc_id, text) through [[graft.sources.Layout.widen]]. Values are
    * row-local and every consumer aggregates by key or orders its
    * output, so results are layout-independent. */
  private[pipeline] def docsWide(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Layout.widen(
      docs(spark, dir).select(col("doc_id"), col("text")), "doc_id")

  /** Whitespace tokens. `split` takes a regex; a single space matches the
    * generator's single-space joining exactly (and mirrors DuckDB's
    * `string_split(text, ' ')` for the oracle). */
  val tokens: Column = split(col("text"), " ")

  /** Distinct word n-grams (default 3) as space-joined strings. Guarded:
    * `sequence(1, size-2)` would DESCEND for short docs and fabricate
    * garbage grams, so docs shorter than `n` tokens get an empty set. */
  def ngrams(n: Int = 3): Column = {
    val parts = (0 until n).map(k => s"toks[i - 1 + $k]").mkString(", ")
    expr(
      s"""CASE WHEN size(toks) >= $n THEN
            array_distinct(transform(sequence(1, size(toks) - ${n - 1}),
                                     i -> concat_ws(' ', $parts)))
          ELSE array() END""")
  }

  /** (doc_id, gram) exploded distinct n-gram table — the shared input of
    * the MinHash and exact-Jaccard paths. One narrow pass over the
    * [[docsWide]] layout (shuffle-free wherever the scan is already as
    * wide as the session). */
  def gramTable(spark: SparkSession, dir: String, n: Int = 3): DataFrame =
    docsWide(spark, dir)
      .select(col("doc_id"), tokens.as("toks"))
      .select(col("doc_id"), explode(ngrams(n)).as("gram"))
}
