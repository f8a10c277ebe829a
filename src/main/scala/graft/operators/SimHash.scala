package graft.operators

import graft.functions.{Hashing, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash document fingerprinting (Charikar): each token votes ±1 on every
  * bit of its hash; the sign of each bit-sum forms the fingerprint. Near-dup
  * docs have fingerprints within small Hamming distance.
  *
  * Uses the portable md5-based 60-bit token hash so the fingerprint is
  * engine-reproducible (oracle-checkable in DuckDB with the same SQL).
  *
  * Scale: explode tokens → BITS partial-aggregating sums → one shuffle of
  * (doc_id, 32 ints). Bucketing for Hamming-≤k search splits the fingerprint
  * into k+1 bands (any pair within distance k shares an exact band match).
  */
object SimHash {

  val BITS = 32

  def simhashExpr(hv: Column): Seq[Column] =
    (0 until BITS).map(k =>
      sum(when(shiftright(hv, k).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b_$k"))

  /** (idCol, simhash: bigint) one row per doc. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // spread first: per-token md5 over a single-file scan would run one-core
    val toks = graft.Tables.spread(docs, idCol).select(
      col(idCol),
      explode(TextFns.words(col(textCol))).as("tok"))
    val hashed = toks.withColumn("hv", Hashing.md5Hash60(col("tok")))
    val aggs = simhashExpr(col("hv"))
    val value = (0 until BITS)
      .map(k => when(col(s"b_$k") >= 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
    hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), value.as("simhash"))
  }

  /** DuckDB oracle for [[simhash]] over the `documents` table (generated from
    * the same bit arithmetic).
    */
  def oracleSql(idCol: String = "doc_id", textCol: String = "text"): String =
    s"${unorderedOracleSql(idCol, textCol)} ORDER BY $idCol"

  /** [[oracleSql]] without its ORDER BY, for use as a CTE body. */
  def unorderedOracleSql(idCol: String = "doc_id", textCol: String = "text"): String = {
    val bitSums = (0 until BITS)
      .map(k => s"sum(CASE WHEN (hv >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS b_$k")
      .mkString(", ")
    val value = (0 until BITS)
      .map(k => s"CASE WHEN b_$k >= 0 THEN CAST(${1L << k} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (
         SELECT $idCol, unnest(string_split_regex(trim($textCol), '\\s+')) AS tok
         FROM documents),
       hashed AS (
         SELECT $idCol, ${Hashing.md5Hash60Sql("tok")} AS hv FROM toks),
       bits AS (
         SELECT $idCol, $bitSums FROM hashed GROUP BY $idCol)
       SELECT $idCol, $value AS simhash FROM bits"""
  }
}
