package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation primitives.
  *
  * At 100 TB a handful of hot keys (boilerplate documents, null-ish ids,
  * celebrity users) dominate a shuffle partition. AQE's skew-join split
  * handles joins at runtime; for aggregates the classic fix is two-phase
  * salting: aggregate on (key, salt) first — distributing a hot key across
  * `salts` partitions — then combine the partials on key alone. Works for
  * any algebraic aggregate (sum/count/min/max; avg via sum+count).
  */
object SkewJoin {

  /** Deterministic row salt: xxhash64 over every column. A positional salt
    * (monotonically_increasing_id / spark_partition_id) spreads even
    * byte-identical rows, but it is NONDETERMINISTIC under partial stage
    * retry — if a shuffle sits upstream, a retried map task can recompute
    * different salts for rows whose output was already consumed, silently
    * losing or duplicating rows. At 100 TB retries are routine, so
    * correctness wins: content salts are stable under any replay.
    */
  private def contentSalt(df: DataFrame, salts: Int): Column =
    pmod(xxhash64(df.columns.map(col): _*), lit(salts.toLong))

  /** Two-phase (salted) sum/count aggregate. Output: key, n, sums.
    *
    * Byte-identical duplicate rows share one salt, but that costs nothing
    * here: the map-side partial aggregation of the first groupBy already
    * combines them per input partition before anything is shuffled, so a
    * reducer receives at most one partial per (input partition, key, salt).
    */
  def saltedAgg(
      df: DataFrame,
      key: String,
      salts: Int,
      sumCols: Seq[String]): DataFrame = {

    val salted = df.withColumn("__salt", contentSalt(df, salts))

    val partialAggs: Seq[Column] =
      count(lit(1)).as("__n") +: sumCols.map(c => sum(col(c)).as(s"__sum_$c"))
    val partial = salted
      .groupBy(col(key), col("__salt"))
      .agg(partialAggs.head, partialAggs.tail: _*)

    val finalAggs: Seq[Column] =
      sum(col("__n")).as("n") +: sumCols.map(c => sum(col(s"__sum_$c")).as(s"sum_$c"))
    partial
      .groupBy(col(key))
      .agg(finalAggs.head, finalAggs.tail: _*)
  }
}
