package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One judged operator: a named Spark query over the fixture tables plus an
  * optional DuckDB-dialect oracle SQL producing the identical result (same
  * column NAMES — the driver sorts columns by name before hashing — and the
  * same deterministic row order).
  *
  * Oracle conventions (SURVEY §7.3 "dialect drift"):
  *  - every query ends in a total ORDER BY (unique key tiebreak);
  *  - nullable sort keys say NULLS FIRST explicitly (DuckDB defaults differ);
  *  - double aggregates are round()ed so summation order can't flip a hash;
  *  - integer sums are CAST(... AS BIGINT) in DuckDB (its sum(int) is HUGEINT).
  *
  * Negative-zero convention (the class behind round 7's one red row,
  * graph_modularity): Spark's round() on a double goes through BigDecimal
  * (HALF_UP) and can never emit IEEE −0.0, but DuckDB's round() preserves
  * the sign — so rounding a tiny negative (a near-orthogonal cosine, a
  * correlation of unrelated columns, a Q term of a balanced community)
  * yields +0.0 in Spark and −0.0 in DuckDB, and the driver's hash splits
  * on the sign bit. Every declared double therefore follows ONE of:
  *  1. round ONCE to integer nano/micro units, `CAST(round(x * 1e9) AS
  *     BIGINT)` on both engines (preferred — integers have a single zero);
  *  2. where a rounded double stays in the schema and its value can reach
  *     (−0.5·10^−scale, 0), the ORACLE canonicalizes with `round(...) + 0.0`
  *     (IEEE: −0.0 + 0.0 = +0.0; every other value is unchanged, so the
  *     compare is still exact);
  *  3. rounded doubles that are nonnegative BY CONSTRUCTION (prices,
  *     quantities, shares, distances, Jaccard/containment scores) stay
  *     bare.
  * PlanAndPropertySpecs pins the Spark half: no declared result on the
  * fixture carries a signed zero in any double/float column.
  *
  * `uses` lists the [[SharedArtifact]]s `run` reads, including the ones
  * their builds read; Bench pre-builds them for an isolated probe.
  */
final case class Declared(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    uses: Seq[SharedArtifact[_]] = Nil)
