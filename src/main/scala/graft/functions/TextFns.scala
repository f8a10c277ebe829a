package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the LLM-data-pipeline operators. Everything is
  * composed from codegen'd built-ins / higher-order functions — no UDFs —
  * so the whole pipeline stays inside WholeStageCodegen.
  */
object TextFns {

  /** Whitespace tokenization. */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct character k-shingles as an array column. */
  def charShingles(textCol: String, k: Int): Column =
    array_distinct(expr(
      s"transform(sequence(1, greatest(length($textCol) - ${k - 1}, 1)), i -> substr($textCol, i, $k))"))

  /** Distinct word k-shingles (k consecutive tokens joined by a space).
    * The token array is bound once via a lambda (`transform` over a 1-element
    * wrapper) — inlining `split(...)` into the position lambda would
    * re-tokenize the text for every shingle position (O(words²) per doc).
    */
  def wordShingles(textCol: String, k: Int): Column =
    expr(
      s"""array_distinct(flatten(transform(
            array(split(trim($textCol), '\\\\s+')),
            ws -> transform(
              sequence(0, greatest(size(ws) - $k, 0)),
              i -> array_join(slice(ws, i + 1, $k), ' ')))))""")

  /** ALL word k-shingles, duplicates preserved (repetition scoring needs the
    * multiset — [[wordShingles]]'s array_distinct would hide every repeat).
    */
  def wordShinglesAll(textCol: String, k: Int): Column =
    expr(
      s"""flatten(transform(
            array(split(trim($textCol), '\\\\s+')),
            ws -> transform(
              sequence(0, greatest(size(ws) - $k, 0)),
              i -> array_join(slice(ws, i + 1, $k), ' '))))""")

  /** GPT2-ish byte-pair-encoding proxy: letter runs, digits, and single
    * non-space symbols each count as one token.
    */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0)))

  /** Exact Jaccard similarity of two distinct-element array columns:
    * |a∩b| / (|a| + |b| − |a∩b|). For distinct elements the denominator is
    * |a∪b|, so no union array is built. */
  def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b))
    i.cast("double") / (size(a) + size(b) - i).cast("double")
  }
}
