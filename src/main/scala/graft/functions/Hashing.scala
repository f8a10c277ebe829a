package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing.
  *
  * Spark's xxhash64/murmur are fast but engine-specific. For operators whose
  * results must be reproducible outside Spark (and oracle-checkable), we use
  * the top 60 bits of md5 as a portable 60-bit hash: identical in any engine
  * with md5 + hex parsing, and fits a signed 64-bit int.
  *
  * MinHash uses the 2-universal family h_k(x) = h1(x) + k*h2(x) (Indyk;
  * standard MinHash practice) so one pass computes two base hashes and all K
  * signature positions derive arithmetically.
  */
object Hashing {

  /** Portable 60-bit hash: first 15 hex chars of md5. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Same, as a SQL snippet for DuckDB oracles. */
  def md5Hash60Sql(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 15)) AS BIGINT)"

  /** Portable 32-bit hash (first 8 hex chars of md5) as a Column. Pair with
    * [[md5Hash32DuckSql]] for the oracle side.
    */
  def md5Hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Portable 32-bit hash (8 hex chars of md5 at 1-based `offset`) as a Spark
    * SQL snippet — usable inside higher-order-function lambdas where a Column
    * can't reach. Pair with [[md5Hash32DuckSql]] for the oracle side.
    */
  def md5Hash32SparkSql(expr: String, offset: Int = 1): String =
    s"CAST(conv(substring(md5($expr), $offset, 8), 16, 10) AS BIGINT)"

  /** The same 32-bit hash as DuckDB SQL. */
  def md5Hash32DuckSql(expr: String, offset: Int = 1): String =
    s"CAST(concat('0x', substr(md5($expr), $offset, 8)) AS BIGINT)"

  /** Portable MinHash base hashes: the two 32-bit halves of one md5 digest.
    * Identical in any engine with md5 + hex parsing (DuckDB side:
    * [[md5Hash32DuckSql]] offsets 1 and 9), which is what lets the whole
    * MinHash+LSH pipeline be oracle-checked rather than rows-only.
    *
    * Computed by the native [[Md5Pair]] codegen expression (no hex-string /
    * `conv` round-trip — conv alone measured 4× the md5 cost). The two
    * getItems share one Md5Pair node; Spark's subexpression elimination
    * evaluates the digest once per row (Md5PairSpec pins value equality
    * with the conv formulation).
    */
  def minhashBasePortable(shingle: Column): (Column, Column) = {
    val p = Md5Pair.md5_pair(shingle)
    (p.getItem(0), p.getItem(1))
  }

  /** The pre-[[Md5Pair]] hex/conv formulation — kept as the spec cross-check
    * that the native expression matches built-in md5 bit-for-bit.
    */
  def minhashBasePortableConv(shingle: Column): (Column, Column) = {
    val m = md5(shingle)
    (conv(substring(m, 1, 8), 16, 10).cast("long"),
      conv(substring(m, 9, 8), 16, 10).cast("long"))
  }
}
