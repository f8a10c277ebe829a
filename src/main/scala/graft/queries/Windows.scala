package graft.queries

import graft.{Declared, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface (SURVEY §2.B "window functions"). All orderings
  * include a unique key so ranks/frames are deterministic; partitions are
  * per-customer/per-status so state stays bounded per task at any scale.
  */
object Windows {
  import Tables.t

  private def byCust = Window.partitionBy(col("o_custkey"))
    .orderBy(col("o_orderdate"), col("o_orderkey"))

  /** row_number / rank / dense_rank; keep top-3 orders per customer. */
  val ranks = Declared(
    "q_window_rank",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(w))
        .withColumn("drk", dense_rank().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"), col("rk"), col("drk"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn,
      CAST(rk AS INTEGER) AS rk, CAST(drk AS INTEGER) AS drk FROM (
      SELECT o_custkey, o_orderkey,
        row_number() OVER w AS rn, rank() OVER w AS rk, dense_rank() OVER w AS drk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC)
      ) WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  val lagLead = Declared(
    "q_window_lag",
    (s, dir) =>
      t(s, dir, "orders")
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(byCust))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(byCust))
        .select(
          col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"),
          round(col("prev_price"), 2).as("prev_price"),
          round(col("o_totalprice") - coalesce(col("prev_price"), lit(0.0)), 2).as("delta"),
          round(col("next_price"), 2).as("next_price"))
        .orderBy(col("o_custkey"), col("o_orderkey")),
    Some("""SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS price,
      round(prev_price,2) AS prev_price,
      round(o_totalprice - coalesce(prev_price, 0.0),2) AS delta,
      round(next_price,2) AS next_price FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        lag(o_totalprice, 1) OVER w AS prev_price,
        lead(o_totalprice, 1) OVER w AS next_price
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ) ORDER BY o_custkey, o_orderkey"""))

  /** Running aggregate: ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW. */
  val running = Declared(
    "q_window_running",
    (s, dir) => {
      val w = byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_total"),
          count(lit(1)).over(w).as("running_n"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      round(sum(o_totalprice) OVER w, 2) AS running_total,
      count(*) OVER w AS running_n
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey"""))

  /** Value-based RANGE frame (orders within a 10k price band below each row).
    * Frame membership is defined by value, so it's tie-insensitive.
    */
  val rangeFrame = Declared(
    "q_window_range",
    (s, dir) =>
      t(s, dir, "orders")
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"),
          expr("""count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
            RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW)""").as("n_in_band"))
        .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey, o_orderstatus, round(o_totalprice,2) AS price,
      count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
        RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW) AS n_in_band
      FROM orders ORDER BY o_orderkey"""))

  /** ntile / percent_rank / cume_dist — partitioned (a global unpartitioned
    * window would single-task all data; per-key windows scale).
    */
  val ntileDist = Declared(
    "q_window_ntile",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(
          col("o_orderkey"), col("o_orderstatus"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_orderstatus, CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      round(percent_rank() OVER w, 6) AS pct_rank,
      round(cume_dist() OVER w, 6) AS cume
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_orderkey"""))

  /** first/last/nth over an explicit full-partition frame. */
  val nth = Declared(
    "q_window_nth",
    (s, dir) => {
      val w = byCust.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_key"),
          last(col("o_orderkey")).over(w).as("last_key"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      first_value(o_orderkey) OVER w AS first_key,
      last_value(o_orderkey) OVER w AS last_key,
      nth_value(o_orderkey, 2) OVER w AS second_key
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, o_orderkey"""))

  /** Bounded sliding frame: trailing 4-row moving average / min / max —
    * the moving-window smoothing shape (ROWS BETWEEN 3 PRECEDING AND
    * CURRENT ROW). Bounded frames evict as they slide, so state per
    * partition is O(frame), not O(rows).
    */
  val moving = Declared(
    "q_window_moving",
    (s, dir) => {
      val w = byCust.rowsBetween(-3, Window.currentRow)
      t(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          round(avg(col("o_totalprice")).over(w), 4).as("ma4"),
          round(min(col("o_totalprice")).over(w), 2).as("min4"),
          round(max(col("o_totalprice")).over(w), 2).as("max4"),
          count(lit(1)).over(w).as("n4"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
      round(avg(o_totalprice) OVER w, 4) AS ma4,
      round(min(o_totalprice) OVER w, 2) AS min4,
      round(max(o_totalprice) OVER w, 2) AS max4,
      count(*) OVER w AS n4
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      ORDER BY o_custkey, o_orderkey"""))

  /** Temporal interval coalescing — the bitemporal-normalization primitive:
    * per supplier, 7-day service windows opened by each shipment
    * ([shipdate, shipdate+6] in epoch days) merge into maximal continuous
    * coverage spans whenever they overlap or touch (next start ≤ running
    * end + 1). This is the keyed PACKING operation SQL:2011 temporal
    * databases call coalescing — distinct from [[graft.queries.EventsQ]]'s
    * gap-based sessionization (no fixed durations there) and events_mttr's
    * global calendar islands (keyed here, so state is per-supplier).
    *
    * The islands walk is two window passes over the SAME per-supplier
    * ordering — running max of interval end (to 1 PRECEDING) flags span
    * starts, a running sum numbers the spans — so ONE shuffle partitions
    * by supplier and both windows plus the final per-span aggregate reuse
    * it. Everything is integer epoch-day arithmetic; per-supplier state is
    * bounded by that supplier's shipment history, never the table.
    */
  val intervalCoalesce = Declared(
    "q_interval_coalesce",
    (s, dir) => {
      val iv = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("supp"),
          datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
            .as("st"))
        .distinct()
        .withColumn("en", col("st") + 6)
      val ord = Window.partitionBy(col("supp")).orderBy(col("st"))
      val prev = Window.partitionBy(col("supp")).orderBy(col("st"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val spans = iv
        .withColumn("pmax", max(col("en")).over(prev))
        .withColumn("isNew",
          when(col("pmax").isNull || col("st") > col("pmax") + 1, 1).otherwise(0))
        .withColumn("span", sum(col("isNew")).over(ord))
        .groupBy(col("supp"), col("span"))
        .agg(min(col("st")).as("s0"), max(col("en")).as("e0"))
      spans.groupBy(col("supp"))
        .agg(
          count(lit(1)).as("n_spans"),
          sum(col("e0") - col("s0") + 1).as("covered_days"),
          max(col("e0") - col("s0") + 1).cast("long").as("max_span_days"))
        .orderBy(col("supp"))
    },
    Some("""WITH iv AS (
        SELECT DISTINCT l_suppkey AS supp,
          date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS st
        FROM lineitem),
      iv2 AS (SELECT supp, st, st + 6 AS en FROM iv),
      flagged AS (
        SELECT supp, st, en,
          max(en) OVER (PARTITION BY supp ORDER BY st
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        FROM iv2),
      numbered AS (
        SELECT supp, st, en,
          sum(CASE WHEN pmax IS NULL OR st > pmax + 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY supp ORDER BY st) AS span
        FROM flagged),
      spans AS (
        SELECT supp, span, min(st) AS s0, max(en) AS e0
        FROM numbered GROUP BY supp, span)
      SELECT supp, CAST(count(*) AS BIGINT) AS n_spans,
        CAST(sum(e0 - s0 + 1) AS BIGINT) AS covered_days,
        CAST(max(e0 - s0 + 1) AS BIGINT) AS max_span_days
      FROM spans GROUP BY supp ORDER BY supp"""))

  /** Skyline (Pareto-front) query — "largest parts at the lowest price":
    * a part point (size, price) survives iff no part has BOTH ≥ size and
    * ≤ price (strict in one). The naive skyline is an all-pairs dominance
    * scan; the scale shape here exploits the bounded SIZE domain: the part
    * table folds to one row per distinct size (min price + its arg-min
    * part, packed-long tiebreak), and the Pareto filter is a running-min
    * window over that ≤|sizes|-row table ordered by size descending — a
    * global window whose input is bounded by the attribute domain, never
    * the table (CI-allowlisted like corpus_zipf). Price comparisons run in
    * exact integer cents.
    */
  val skyline = Declared(
    "q_skyline_pareto",
    (s, dir) => {
      val bySize = t(s, dir, "part")
        .select(col("p_partkey"), col("p_size"),
          round(col("p_retailprice") * 100).cast("long").as("cents"))
        .groupBy(col("p_size"))
        .agg(min(col("cents")).as("best_cents"),
          min_by(col("p_partkey"), expr("cents * 10000000L + p_partkey"))
            .as("best_partkey"),
          count(lit(1)).as("n_parts_size"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("p_size").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      bySize
        .withColumn("run_min", min(col("best_cents")).over(w))
        .filter(col("run_min").isNull || col("best_cents") < col("run_min"))
        .select(col("p_size"), round(col("best_cents") / 100.0, 2).as("best_price"),
          col("best_partkey"), col("n_parts_size"))
        .orderBy(col("p_size"))
    },
    Some("""WITH by_size AS (
        SELECT p_size, min(CAST(round(p_retailprice * 100) AS BIGINT)) AS best_cents,
          arg_min(p_partkey,
            CAST(round(p_retailprice * 100) AS BIGINT) * 10000000 + p_partkey)
            AS best_partkey,
          CAST(count(*) AS BIGINT) AS n_parts_size
        FROM part GROUP BY p_size),
      runm AS (
        SELECT *, min(best_cents) OVER (ORDER BY p_size DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_min
        FROM by_size)
      SELECT p_size, round(best_cents / 100.0, 2) AS best_price,
        best_partkey, n_parts_size
      FROM runm
      WHERE run_min IS NULL OR best_cents < run_min
      ORDER BY p_size"""))

  val all: Seq[Declared] =
    Seq(ranks, lagLead, running, rangeFrame, ntileDist, nth, moving,
      intervalCoalesce,
    skyline)
}
