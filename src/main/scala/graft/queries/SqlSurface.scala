package graft.queries

import graft.{Declared, Tables}
import org.apache.spark.sql.functions._

/** SQL-passthrough surface: CTEs, scalar/IN/correlated subqueries, VALUES
  * (SURVEY §2.B "subqueries/CTE"). These run through `spark.sql` over temp
  * views — the direct analog of the reference's `ctx.sql`
  * (/root/reference/src/bin/main.rs:182) — and exercise Catalyst's
  * decorrelation rewrites. Beside them: OFFSET, NULLS FIRST/LAST, null
  * propagation, the predicate battery, UNPIVOT, NOT IN under nulls and
  * range-based synthetic generation.
  */
object SqlSurface {
  import Tables.t

  /** Same text runs in Spark and DuckDB (conservative ANSI). */
  private def both(name: String, sql: String) = Declared(
    name,
    (s, dir) => { Tables.registerAll(s, dir); s.sql(sql) },
    Some(sql))

  val cte = both(
    "q_cte",
    """WITH big_orders AS (
        SELECT o_custkey, count(*) AS n_big
        FROM orders WHERE o_totalprice > 200000.0 GROUP BY o_custkey),
      seg AS (
        SELECT c_custkey, c_mktsegment FROM customer)
      SELECT seg.c_mktsegment, CAST(sum(b.n_big) AS BIGINT) AS total_big
      FROM big_orders b JOIN seg ON b.o_custkey = seg.c_custkey
      GROUP BY seg.c_mktsegment
      ORDER BY seg.c_mktsegment""")

  val subqueryScalar = both(
    "q_subquery_scalar",
    """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
      FROM orders
      WHERE o_totalprice > 2.0 * (SELECT avg(o_totalprice) FROM orders)
      ORDER BY o_orderkey""")

  val subqueryIn = both(
    "q_subquery_in",
    """SELECT o_orderkey, o_custkey
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        AND o_orderstatus = 'O'
      ORDER BY o_orderkey""")

  val subqueryCorrelated = both(
    "q_subquery_correlated",
    """SELECT c.c_custkey, round(c.c_acctbal, 2) AS acctbal
      FROM customer c
      WHERE c.c_acctbal > 1.5 * (SELECT avg(c2.c_acctbal) FROM customer c2
                                 WHERE c2.c_nationkey = c.c_nationkey)
      ORDER BY c.c_custkey""")

  val valuesQ = both(
    "q_values",
    """SELECT v.tier, count(*) AS n
      FROM orders
      JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
                   ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'),
                   ('5-LOW', 'cold')) AS v(prio, tier)
        ON orders.o_orderpriority = v.prio
      GROUP BY v.tier
      ORDER BY v.tier""")

  /** HAVING over an aggregate (reachable via the query surface). */
  val having = both(
    "q_having",
    """SELECT l_suppkey, count(*) AS n_items
      FROM lineitem
      GROUP BY l_suppkey
      HAVING count(*) > 550
      ORDER BY l_suppkey""")

  /** Correlated EXISTS / NOT EXISTS (Catalyst rewrites to semi/anti join —
    * the q_join_semi/anti plans through the SQL surface).
    */
  val subqueryExists = both(
    "q_subquery_exists",
    """SELECT c_custkey, c_mktsegment
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        AND NOT EXISTS (SELECT 1 FROM orders o2
                        WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
      ORDER BY c_custkey""")

  /** DECIMAL-typed aggregation (exact fixed-point sums; surfaced as DOUBLE
    * because the engines widen sum-of-decimal precision differently —
    * 2-decimal inputs make every step exact in both).
    */
  val decimalAgg = both(
    "q_decimal_agg",
    """SELECT o_orderstatus,
      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
      CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_p,
      CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_p
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")

  /** GROUP BY ALL (modern shorthand both engines support). */
  val groupByAll = both(
    "q_group_by_all",
    """SELECT l_returnflag, l_linestatus, count(*) AS n
      FROM lineitem GROUP BY ALL ORDER BY l_returnflag, l_linestatus""")

  /** LIKE / ILIKE / ESCAPE / IN-list / BETWEEN predicate battery. */
  val likePatterns = both(
    "q_like_patterns",
    """SELECT p_partkey,
      p_name LIKE '%iv%' AS has_iv,
      p_name ILIKE 'A%' AS starts_a_i,
      p_type NOT LIKE 'SMALL%' AS not_small,
      p_name LIKE '%!_%' ESCAPE '!' AS has_underscore,
      p_brand IN ('Brand#13', 'Brand#42') AS known_brand,
      p_name BETWEEN 'a' AND 'm' AS first_half
      FROM part ORDER BY p_partkey""")

  /** LATERAL correlated table subquery — same text on both engines. */
  val lateralJoin = both(
    "q_lateral_join",
    """SELECT r.r_name, l.n_nations, l.first_n
      FROM region r, LATERAL (
        SELECT CAST(count(*) AS BIGINT) AS n_nations, min(n.n_name) AS first_n
        FROM nation n WHERE n.n_regionkey = r.r_regionkey) AS l
      ORDER BY r.r_name""")

  /** ANSI-mode escape hatches: the try_* family returns null where plain
    * arithmetic would raise (divide-by-zero, long overflow, out-of-bounds
    * index) — essential under Spark 4's ANSI-on default. The oracle emulates
    * each via nullif / HUGEINT + TRY_CAST / list indexing.
    */
  val tryArith = Declared(
    "q_try_arith",
    (s, dir) => { Tables.registerAll(s, dir); s.sql(
      """SELECT l_orderkey, l_linenumber,
        try_divide(l_quantity, CAST(l_linenumber - l_linenumber AS DOUBLE)) AS div0,
        round(try_divide(l_quantity, CAST(l_linenumber AS DOUBLE)), 6) AS divn,
        try_add(9223372036854775807, l_orderkey) AS add_of,
        try_multiply(4611686018427387904, l_orderkey) AS mul_of,
        try_element_at(array(l_linenumber), 99) AS oob
        FROM lineitem WHERE l_orderkey <= 200
        ORDER BY l_orderkey, l_linenumber, divn""") },
    Some("""SELECT l_orderkey, l_linenumber,
      l_quantity / nullif(CAST(l_linenumber - l_linenumber AS DOUBLE), 0.0) AS div0,
      round(l_quantity / CAST(l_linenumber AS DOUBLE), 6) AS divn,
      TRY_CAST(CAST(9223372036854775807 AS HUGEINT) + l_orderkey AS BIGINT) AS add_of,
      TRY_CAST(CAST(4611686018427387904 AS HUGEINT) * l_orderkey AS BIGINT) AS mul_of,
      ([l_linenumber])[99] AS oob
      FROM lineitem WHERE l_orderkey <= 200
      ORDER BY l_orderkey, l_linenumber, divn"""))

  /** Aggregate FILTER clause (ANSI): conditional aggregation without CASE
    * scaffolding — one pass, each aggregate sees its own row subset. Plans
    * as a single HashAggregate with per-aggregate predicates.
    */
  val aggFilter = both(
    "q_agg_filter",
    """SELECT o_orderpriority,
        count(*) AS n_all,
        count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        count(*) FILTER (WHERE o_totalprice > 150000.0) AS n_big,
        round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS open_value,
        round(avg(o_totalprice) FILTER (WHERE o_totalprice > 150000.0), 2) AS avg_big
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")

  /** Recursive CTE (SQL:1999 WITH RECURSIVE, landed in Spark 4): bounded
    * multi-hop reachability from a 10-customer seed set over the
    * customer–supplier trade graph, the SAME query text executing on both
    * engines — the strongest possible dialect-parity statement for the
    * feature. The recursion is UNION ALL path enumeration capped at hop < 2
    * (each level joins the frontier to the edge list), then min(hop) folds
    * paths to distances and the readout is the O(3 × 2) distance × kind
    * census. Scope stated plainly: UNION ALL recursion enumerates PATHS, so
    * its cost is Σ deg^hops of the seed set — fine for bounded-hop
    * neighborhood queries like this one; UNBOUNDED traversal at scale
    * belongs to the iterative checkpoint loop ([[graft.queries.GraphQ]]
    * label spread / pagerank), which dedups the frontier every round.
    */
  val recursiveCte = both(
    "q_recursive_cte",
    """WITH RECURSIVE e AS (
        SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000000 AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT DISTINCT l.l_suppkey + 1000000000 AS src, o.o_custkey AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      reach AS (
        SELECT c_custkey AS node, 0 AS hop
        FROM customer WHERE c_custkey <= 10
        UNION ALL
        SELECT e.dst AS node, r.hop + 1 AS hop
        FROM reach r JOIN e ON e.src = r.node
        WHERE r.hop < 2),
      agg AS (
        SELECT node, min(hop) AS dist, CAST(count(*) AS BIGINT) AS n_paths
        FROM reach GROUP BY node)
      SELECT dist,
        CASE WHEN node >= 1000000000 THEN 'supplier' ELSE 'customer' END AS kind,
        CAST(count(*) AS BIGINT) AS n_nodes,
        CAST(sum(n_paths) AS BIGINT) AS n_paths
      FROM agg
      GROUP BY 1, 2
      ORDER BY dist, kind""")

  /** LIMIT + OFFSET (sort + fetch-skip). */
  val offset = Declared(
    "q_offset",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT o_orderkey, o_custkey FROM orders
        ORDER BY o_orderkey LIMIT 10 OFFSET 25""")
    },
    Some("""SELECT o_orderkey, o_custkey FROM orders
      ORDER BY o_orderkey LIMIT 10 OFFSET 25"""))

  /** Explicit NULLS FIRST / NULLS LAST (engine defaults differ — this is the
    * portability-critical form). Nulls are injected via nullif.
    */
  val nullsOrder = Declared(
    "q_nulls_order",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 100)
        .select(
          col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("O")).as("status_or_null"))
        .orderBy(col("status_or_null").asc_nulls_first, col("o_orderkey").desc),
    Some("""SELECT o_orderkey, nullif(o_orderstatus, 'O') AS status_or_null
      FROM orders WHERE o_orderkey < 100
      ORDER BY status_or_null ASC NULLS FIRST, o_orderkey DESC"""))

  /** Null propagation through aggregates/expressions: count(col) skips
    * nulls, sum/avg ignore nulls, arithmetic with null is null.
    */
  val nullHandling = Declared(
    "q_null_handling",
    (s, dir) => {
      val withNulls = t(s, dir, "orders")
        .withColumn("p_or_null",
          when(col("o_orderstatus") === "P", col("o_totalprice")))
      withNulls.groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("p_or_null")).as("n_nonnull"),
          round(coalesce(sum(col("p_or_null")), lit(0.0)), 2).as("sum_p"),
          round(avg(col("p_or_null")), 2).as("avg_p"),
          sum(col("p_or_null").isNull.cast("long")).as("n_null"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority,
      count(*) AS n_rows,
      count(p_or_null) AS n_nonnull,
      round(coalesce(sum(p_or_null), 0.0), 2) AS sum_p,
      round(avg(p_or_null), 2) AS avg_p,
      CAST(sum(CASE WHEN p_or_null IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
      FROM (SELECT o_orderpriority,
              CASE WHEN o_orderstatus = 'P' THEN o_totalprice END AS p_or_null
            FROM orders)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Predicate battery: LIKE / ILIKE / BETWEEN / IN / NOT IN. */
  val predicates = Declared(
    "q_predicates",
    (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          col("p_name").like("%iron%").as("has_iron"),
          col("p_name").ilike("%IRON%").as("has_iron_ci"),
          col("p_size").between(10, 20).as("mid_size"),
          col("p_brand").isin("Brand#11", "Brand#22", "Brand#33").as("fav_brand"),
          (!col("p_type").isin("STANDARD", "SMALL")).as("odd_type"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      p_name LIKE '%iron%' AS has_iron,
      p_name ILIKE '%IRON%' AS has_iron_ci,
      p_size BETWEEN 10 AND 20 AS mid_size,
      p_brand IN ('Brand#11', 'Brand#22', 'Brand#33') AS fav_brand,
      p_type NOT IN ('STANDARD', 'SMALL') AS odd_type
      FROM part ORDER BY p_partkey"""))

  /** UNPIVOT / melt: wide per-order money columns → long (k, v) rows. */
  val unpivot = Declared(
    "q_unpivot",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") < 50)
        .select(
          col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total"),
          round(col("o_totalprice") * 0.1, 2).as("tax_est"))
        .unpivot(
          Array(col("o_orderkey")),
          Array(col("total"), col("tax_est")),
          "k", "v")
        .orderBy(col("o_orderkey"), col("k")),
    Some("""SELECT o_orderkey, k, v FROM (
        SELECT o_orderkey, round(o_totalprice, 2) AS total,
               round(o_totalprice * 0.1, 2) AS tax_est
        FROM orders WHERE o_orderkey < 50)
      UNPIVOT (v FOR k IN (total, tax_est))
      ORDER BY o_orderkey, k"""))

  /** NOT IN vs NOT EXISTS under nulls — the classic three-valued-logic trap:
    * one null in the NOT IN list vetoes EVERY row, while NOT EXISTS (and
    * NOT IN over a null-stripped list) keep anti-join semantics. Pinning all
    * three in one row proves the engine implements the trap, not just the
    * happy path (null-aware anti join in Spark's planner).
    */
  val notInNulls = both(
    "q_not_in_nulls",
    """SELECT
      CAST((SELECT count(*) FROM customer
            WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders)) AS BIGINT)
        AS not_in_with_null,
      CAST((SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
        AS not_exists,
      CAST((SELECT count(*) FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                    WHERE o_custkey IS NOT NULL)) AS BIGINT)
        AS not_in_no_null""")

  /** Distributed synthetic data generation — the dsdgen/dbgen shape as a
    * SOURCE: `spark.range` is an embarrassingly parallel generator (each
    * slice materializes its id span independently — at cluster scale the
    * 100 TB test corpus is generated in place, never shipped), and every
    * derived column is pure integer arithmetic on the id (Knuth
    * multiplicative constant for value spread, modulus for group skew) so
    * any engine regenerates bit-identical content from the same recipe —
    * the property that makes generated fixtures a cross-system contract.
    * Readout: per group-band counts plus a position-weighted checksum that
    * pins CONTENT, not just counts, without materializing a single row to
    * the driver.
    */
  val syntheticGen = Declared(
    "q_synthetic_gen",
    (s, _) => {
      s.range(100000).toDF("id")
        .select(col("id"),
          (col("id") % 97).as("grp"),
          ((col("id") * 2654435761L) % 1000000L).as("cents"))
        .groupBy((col("grp") % 8).as("band"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("sum_cents"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"),
          sum(col("cents") * (col("id") % 7 + 1)).as("checksum"))
        .orderBy(col("band"))
    },
    Some("""WITH gen AS (
        SELECT range AS id, range % 97 AS grp,
          (range * 2654435761) % 1000000 AS cents
        FROM range(0, 100000))
      SELECT grp % 8 AS band, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(cents) AS BIGINT) AS sum_cents,
        CAST(min(cents) AS BIGINT) AS min_cents,
        CAST(max(cents) AS BIGINT) AS max_cents,
        CAST(sum(cents * (id % 7 + 1)) AS BIGINT) AS checksum
      FROM gen GROUP BY 1 ORDER BY band"""))

  val all: Seq[Declared] = Seq(
    cte, subqueryScalar, subqueryIn, subqueryCorrelated, valuesQ, having,
    subqueryExists, decimalAgg, groupByAll, likePatterns, lateralJoin, tryArith,
    aggFilter, recursiveCte,
    offset, nullsOrder, nullHandling, predicates, unpivot, notInNulls,
    syntheticGen)
}
