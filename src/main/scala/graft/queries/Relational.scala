package graft.queries

import graft.{Declared, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational surface (SURVEY §2.B): scan/filter/project, joins of every
  * type, aggregation, sort/limit. Everything is declarative DataFrame API so
  * Catalyst gets full pushdown/pruning/join-selection freedom; `.explain`
  * sanity lives in the specs.
  */
object Relational {
  import Tables.t

  /** TPC-H q1-style pricing summary — the flagship (reference demo runs TPC-H
    * q1 via sqlbench-h, /root/reference/README.md:119-135).
    */
  val q1 = Declared(
    "q1_pricing_summary",
    (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= expr("timestamp'1998-09-02 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      round(sum(l_quantity),2) AS sum_qty,
      round(sum(l_extendedprice),2) AS sum_base_price,
      round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
      round(sum(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)),2) AS sum_charge,
      round(avg(l_quantity),4) AS avg_qty,
      round(avg(l_extendedprice),4) AS avg_price,
      round(avg(l_discount),4) AS avg_disc,
      count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** Projection + arithmetic + filter; pushdown-friendly (only 5 columns read). */
  val filterProject = Declared(
    "q_filter_project",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") < 0.05)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("net_price"),
          col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("net_price"), col("l_returnflag")),
    Some("""SELECT l_orderkey, l_linenumber,
      round(l_extendedprice*(1.0-l_discount),4) AS net_price, l_returnflag
      FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05
      ORDER BY l_orderkey, l_linenumber, net_price, l_returnflag"""))

  val distinctQ = Declared(
    "q_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus"""))

  /** ORDER BY + LIMIT: Catalyst plans TakeOrderedAndProject (top-k, no full
    * sort at scale). Unique tiebreak keeps ties deterministic.
    */
  val topk = Declared(
    "q_topk",
    (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10),
    Some("""SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""))

  /** Inner equi-join + aggregate. Catalyst broadcast/SMJ selection is free;
    * at 100 TB the orders side shuffles on the join key and the aggregate is
    * partial (map-side) before the final shuffle.
    */
  val joinInner = Declared(
    "q_join_inner",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n_items,
      round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** LEFT OUTER join preserving customers with zero orders. */
  val joinLeft = Declared(
    "q_join_left",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
      round(coalesce(sum(o_totalprice), 0.0),2) AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey"""))

  /** RIGHT OUTER join (kept as right to exercise the plan shape). */
  val joinRight = Declared(
    "q_join_right",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, count(o_orderkey) AS n_orders,
      count(DISTINCT c_custkey) AS n_customers
      FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** FULL OUTER join over two aggregates; counts unmatched sides. */
  val joinFull = Declared(
    "q_join_full",
    (s, dir) => {
      val perCust = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      val c = t(s, dir, "customer")
      c.join(perCust, c("c_custkey") === perCust("o_custkey"), "full")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          col("c_custkey").isNull.as("customer_missing"),
          col("o_custkey").isNull.as("orders_missing"))
        .orderBy(col("custkey"))
    },
    Some("""SELECT coalesce(c_custkey, o_custkey) AS custkey,
      coalesce(n_orders, 0) AS n_orders,
      (c_custkey IS NULL) AS customer_missing,
      (o_custkey IS NULL) AS orders_missing
      FROM customer FULL JOIN
        (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY o_custkey) o
        ON c_custkey = o_custkey
      ORDER BY custkey"""))

  /** CROSS join (small dims only — would never cross big tables). */
  val joinCross = Declared(
    "q_join_cross",
    (s, dir) => {
      val r = t(s, dir, "region").select(col("r_name"))
      val n = t(s, dir, "nation").select(col("n_name"))
      r.crossJoin(n)
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
      ORDER BY r_name, n_name"""))

  /** LEFT SEMI = EXISTS. */
  val joinSemi = Declared(
    "q_join_semi",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_totalprice") > 400000.0)
        .select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      ORDER BY c_custkey"""))

  /** LEFT ANTI = NOT EXISTS. */
  val joinAnti = Declared(
    "q_join_anti",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name, c_nationkey FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""))

  /** Theta join: equi key (nationkey, hash-joinable) + inequality residual —
    * the scalable shape for non-equi conditions (pure theta would force a
    * nested-loop over everything).
    */
  val joinTheta = Declared(
    "q_join_theta",
    (s, dir) => {
      val sup = t(s, dir, "supplier")
      val c = t(s, dir, "customer")
      sup.join(c, sup("s_nationkey") === c("c_nationkey") && sup("s_acctbal") > c("c_acctbal"))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_poorer_customers"))
        .orderBy(col("s_suppkey"))
    },
    Some("""SELECT s_suppkey, count(*) AS n_poorer_customers
      FROM supplier JOIN customer
        ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
      GROUP BY s_suppkey ORDER BY s_suppkey"""))

  /** Multi-way star join: region→nation→customer→orders→lineitem (TPC-H
    * q5 flavor). Small dims broadcast; the two fact tables shuffle on the
    * join key — the canonical 100 TB plan.
    */
  val joinStar = Declared(
    "q_join_star",
    (s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name,
      round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue,
      count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  /** Null-safe equality join (<=> / IS NOT DISTINCT FROM). */
  val nullSafeJoin = Declared(
    "q_join_nullsafe",
    (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), nullif(col("o_orderstatus"), lit("P")).as("st"))
      val dim = t(s, dir, "orders")
        .select(nullif(col("o_orderstatus"), lit("P")).as("st"))
        .distinct()
        .select(col("st"), coalesce(col("st"), lit("PENDING")).as("label"))
      o.join(dim, o("st") <=> dim("st"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"))
    },
    Some("""WITH o AS (SELECT o_orderkey, nullif(o_orderstatus, 'P') AS st FROM orders),
      dim AS (SELECT st, coalesce(st, 'PENDING') AS label
              FROM (SELECT DISTINCT nullif(o_orderstatus, 'P') AS st FROM orders))
      SELECT label, count(*) AS n
      FROM o JOIN dim ON o.st IS NOT DISTINCT FROM dim.st
      GROUP BY label ORDER BY label"""))

  /** Merge/upsert (CDC apply) without a table format: full-outer join of the
    * target snapshot with a changeset, COALESCE picking the changed value.
    * This is the scale shape of MERGE INTO — one shuffle on the merge key,
    * no driver involvement; a real deployment layers a transactional commit
    * on top, the dataflow is identical. Changeset here: +10% price on every
    * 100th order, plus brand-new synthetic orders for every 1000th key.
    */
  /** Each customer's order-priority tier history: one row per tier change
    * (the first order, then every order whose tier differs from the one
    * before, by o_orderdate, o_orderkey), valid from its order date until
    * the next change (`valid_to` NULL for the current tier). */
  private def tierHistory(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority").as("tier"))
      .withColumn("prev_tier", lag(col("tier"), 1).over(w))
      .filter(col("prev_tier").isNull || col("tier") =!= col("prev_tier"))
      .withColumn("valid_from", col("o_orderdate"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
  }

  /** Oracle CTEs of the tier changes: src (each order with the tier before
    * it) and changes (o_custkey, o_orderkey, tier, valid_from). */
  private def tierChangeCtes: String = """WITH src AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority AS tier,
          lag(o_orderpriority) OVER w AS prev_tier
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      changes AS (
        SELECT o_custkey, o_orderkey, tier, o_orderdate AS valid_from
        FROM src WHERE prev_tier IS NULL OR tier <> prev_tier)"""

  /** SCD type-2 dimension build — the warehouse-history primitive
    * [[mergeUpsert]]'s current-state merge doesn't cover: instead of
    * overwriting, every attribute CHANGE opens a new version row with a
    * validity interval, so any past state remains queryable ("what was this
    * customer's priority tier on date X"). Source: each customer's order
    * stream, tracked attribute = o_orderpriority. Change points are rows
    * whose attribute differs from the previous order (lag); each gets
    * valid_from = its order date, valid_to = the NEXT change's valid_from
    * (lead), open interval ⇒ current version. Two windows over ONE
    * o_custkey shuffle — state per partition is one customer's history, so
    * the build scales by customer count, not history length × customers.
    * Deterministic: same-date ties order by o_orderkey on both engines.
    */
  val scd2Build = Declared(
    "q_scd2_build",
    (s, dir) => {
      tierHistory(s, dir)
        .select(
          col("o_custkey"), col("tier"),
          col("valid_from").cast("timestamp_ntz").as("valid_from"),
          col("valid_to").cast("timestamp_ntz").as("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col("o_custkey"), col("valid_from"), col("tier"))
    },
    Some(s"""$tierChangeCtes
      SELECT o_custkey, tier, valid_from,
        lead(valid_from) OVER w AS valid_to,
        (lead(valid_from) OVER w IS NULL) AS is_current
      FROM changes
      WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from, o_orderkey)
      ORDER BY o_custkey, valid_from, tier"""))

  val mergeUpsert = Declared(
    "q_merge_upsert",
    (s, dir) => {
      val target = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val updates = target.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") * 1.1).as("new_price"))
      val inserts = target.filter(col("o_orderkey") % 1000 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"), lit(42.0).as("new_price"))
      val changes = updates.unionByName(inserts)
      target.join(changes, Seq("o_orderkey"), "full_outer")
        .select(
          col("o_orderkey"),
          coalesce(col("new_price"), col("o_totalprice")).as("price"),
          col("o_totalprice").isNull.as("inserted"),
          (col("new_price").isNotNull && col("o_totalprice").isNotNull).as("updated"))
        .agg(
          count(lit(1)).as("n_rows"),
          round(sum(col("price")), 2).as("total_price"),
          sum(when(col("inserted"), 1L).otherwise(0L)).as("n_inserted"),
          sum(when(col("updated"), 1L).otherwise(0L)).as("n_updated"))
    },
    Some("""WITH target AS (SELECT o_orderkey, o_totalprice FROM orders),
      changes AS (
        SELECT o_orderkey, o_totalprice * 1.1 AS new_price FROM target WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 42.0 FROM target WHERE o_orderkey % 1000 = 0),
      merged AS (
        SELECT coalesce(t.o_orderkey, c.o_orderkey) AS o_orderkey,
               coalesce(c.new_price, t.o_totalprice) AS price,
               t.o_orderkey IS NULL AS inserted,
               (c.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL) AS updated
        FROM target t FULL OUTER JOIN changes c ON t.o_orderkey = c.o_orderkey)
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
        round(sum(price), 2) AS total_price,
        CAST(sum(CASE WHEN inserted THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
        CAST(sum(CASE WHEN updated THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
      FROM merged"""))

  /** Point-in-time (temporal) join — the lookup [[scd2Build]]'s dimension
    * exists FOR: each lineitem resolves the customer's priority tier that
    * was valid AT ITS SHIP DATE (tiers can change between order and ship,
    * and the readout counts exactly those drifted rows — the non-trivial
    * part a current-state join gets wrong). The scale shape is the only
    * sane one for versioned dims: an EQUI-join on the dimension key with
    * the validity interval as a residual filter — versions per key are few
    * by construction, so the residual prunes a bounded candidate set and
    * no interval machinery (binning, theta join) is needed. Intervals are
    * disjoint and right-open per customer, so a fact row matches at most
    * one version; rows whose ship date PRECEDES the customer's first
    * version (the synthetic fixture generates ship dates independent of
    * order dates — 47% ship "before" ordering) surface explicitly as
    * NO-HISTORY through a LEFT join rather than silently dropping — the
    * every-fact-row-accounted-for property a feature-store lookup must
    * have, spec-pinned.
    */
  val pitJoin = Declared(
    "q_pit_join",
    (s, dir) => {
      val dim = tierHistory(s, dir)
        .select(col("o_custkey").as("d_custkey"), col("tier"),
          col("valid_from"), col("valid_to"))
      val fact = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("o_orderpriority"), col("l_shipdate"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      fact.join(dim,
          col("o_custkey") === col("d_custkey") &&
            col("valid_from") <= col("l_shipdate") &&
            (col("valid_to").isNull || col("l_shipdate") < col("valid_to")),
          "left")
        .groupBy(coalesce(col("tier"), lit("NO-HISTORY")).as("pit_tier"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("cents")) / 100.0, 2).as("revenue"),
          sum(when(col("tier").isNotNull &&
            col("tier") =!= col("o_orderpriority"), 1L).otherwise(0L))
            .as("n_tier_drifted"))
        .select(col("pit_tier").as("tier"), col("n_items"), col("revenue"),
          col("n_tier_drifted"))
        .orderBy(col("tier"))
    },
    Some(s"""$tierChangeCtes,
      dim AS (
        SELECT o_custkey AS d_custkey, tier, valid_from,
          lead(valid_from) OVER w AS valid_to
        FROM changes
        WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from, o_orderkey)),
      fact AS (
        SELECT o.o_custkey, o.o_orderpriority, l.l_shipdate,
          CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      SELECT coalesce(d.tier, 'NO-HISTORY') AS tier,
        CAST(count(*) AS BIGINT) AS n_items,
        round(CAST(sum(f.cents) AS BIGINT) / 100.0, 2) AS revenue,
        CAST(sum(CASE WHEN d.tier IS NOT NULL AND d.tier <> f.o_orderpriority
          THEN 1 ELSE 0 END) AS BIGINT) AS n_tier_drifted
      FROM fact f LEFT JOIN dim d
        ON f.o_custkey = d.d_custkey
        AND d.valid_from <= f.l_shipdate
        AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
      GROUP BY 1 ORDER BY tier"""))

  val all: Seq[Declared] = Seq(
    q1, filterProject, distinctQ, topk, joinInner, joinLeft, joinRight,
    joinFull, joinCross, joinSemi, joinAnti, joinTheta, joinStar,
    nullSafeJoin, scd2Build, mergeUpsert, pitJoin)
}
