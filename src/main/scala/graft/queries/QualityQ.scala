package graft.queries

import graft.{Declared, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality operators — the validation layer a production warehouse runs
  * before anything downstream trusts a load (the reference's `view-parquet-
  * meta`/`compare` verbs answer "what is this file?"; these answer "is this
  * data fit to use?"). Both are one-pass/shuffle-bounded shapes that hold at
  * 100 TB: rule checks fold into conditional sums inside a single scan, and
  * drift monitoring reduces each side to O(types × bins) before any join.
  */
object QualityQ {
  import Tables.t

  /** Declarative expectation checks (the Deequ/Great-Expectations pattern):
    * a rule battery over lineitem+orders evaluated as ONE conditional-sum
    * aggregate per scanned table — completeness (not-null), range, accepted
    * values, compound-key uniqueness, and referential integrity. The FK
    * check is the only rule needing a second table: a LEFT ANTI join on the
    * key (broadcast when the dim fits, shuffle otherwise — Catalyst's
    * choice). Everything else rides the same scan: adding a rule adds one
    * counter, not one pass. Output = one ledger row per rule with its
    * violation count, so a gate is `max(n_violations) == 0`. The battery is
    * not vacuous on the fixture: the synthetic lineitem genuinely violates
    * (l_orderkey, l_linenumber) uniqueness (~14k extra rows at sf0.01), so
    * the ledger demonstrably CATCHES a defect rather than rubber-stamping.
    */
  val expectations = Declared(
    "dq_expectations",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      // rules 1-4: one scan, one aggregate, a counter per rule
      val scanRules = li.agg(
        count(lit(1)).as("n"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("v_null_qty"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("v_qty_range"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("v_disc_range"),
        sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L)
          .otherwise(0L)).as("v_flag_domain"))
      // rule 5: compound-key uniqueness — violations = extra rows per key
      val dupRows = li.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_keys"), sum(col("c") - 1).as("v_dup"))
      // rule 6: referential integrity — lineitems whose order is missing
      val orphans = li.select(col("l_orderkey"))
        .join(ord.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("v_orphan"))
      // the ledger pivot is a stack over three 1-row aggregates — fully
      // distributed, no driver readback
      scanRules.crossJoin(dupRows).crossJoin(orphans)
        .selectExpr("n", """stack(6,
            'fk_orderkey_exists', v_orphan,
            'l_discount_in_0_0.1', v_disc_range,
            'l_quantity_in_1_50', v_qty_range,
            'l_quantity_not_null', v_null_qty,
            'l_returnflag_in_ANR', v_flag_domain,
            'pk_orderkey_linenumber_unique', v_dup) AS (check_name, n_violations)""")
        .select(
          col("check_name"), col("n").as("n_checked"), col("n_violations"),
          (col("n_violations") === 0L).as("passed"))
        .orderBy(col("check_name"))
    },
    Some("""WITH li AS (SELECT * FROM lineitem),
      scan AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
          CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
          CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
          CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS v_flag
        FROM li),
      dup AS (
        SELECT CAST(sum(c - 1) AS BIGINT) AS v_dup FROM (
          SELECT count(*) AS c FROM li GROUP BY l_orderkey, l_linenumber)),
      orph AS (
        SELECT CAST(count(*) AS BIGINT) AS v_orphan FROM li
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
      ledger AS (
        SELECT 'fk_orderkey_exists' AS check_name, n AS n_checked, v_orphan AS n_violations FROM scan, orph
        UNION ALL SELECT 'l_discount_in_0_0.1', n, v_disc FROM scan
        UNION ALL SELECT 'l_quantity_in_1_50', n, v_qty FROM scan
        UNION ALL SELECT 'l_quantity_not_null', n, v_null FROM scan
        UNION ALL SELECT 'l_returnflag_in_ANR', n, v_flag FROM scan
        UNION ALL SELECT 'pk_orderkey_linenumber_unique', n, v_dup FROM scan, dup)
      SELECT check_name, n_checked, n_violations, n_violations = 0 AS passed
      FROM ledger ORDER BY check_name"""))

  /** The PSI bin of `value` on its type's reference edges `vmin`/`vmax`:
    * 10 equal-width bins; a type with constant reference values is all bin 0. */
  def psiBin: Column =
    when(col("vmax") > col("vmin"),
      least(lit(9), greatest(lit(0), floor(
        (col("value") - col("vmin")) * 10.0 / (col("vmax") - col("vmin")))
        .cast("int"))))
      .otherwise(lit(0))

  /** PSI readout over per-(event_type, bin) reference and current counts
    * `cr`/`cc`: Laplace-smoothed shares, terms summed in integer nano-units,
    * one row per type. The batch op and the stream op
    * ([[graft.streaming.StreamingOps.driftPsiStream]]) both end here. */
  def psiReadout(perSide: DataFrame): DataFrame = {
    val totals = perSide.groupBy(col("event_type"))
      .agg(sum(col("cr")).as("nr"), sum(col("cc")).as("nc"))
    perSide.join(broadcast(totals), "event_type")
      .withColumn("p", (col("cr") + 1.0) / (col("nr") + 10.0))
      .withColumn("q", (col("cc") + 1.0) / (col("nc") + 10.0))
      .withColumn("term_nano",
        round((col("p") - col("q")) * log(col("p") / col("q")) * 1e9)
          .cast("long"))
      .groupBy(col("event_type"))
      .agg(
        max(col("nr")).as("n_ref"), max(col("nc")).as("n_cur"),
        round(sum(col("term_nano")) / 1e9, 6).as("psi"))
      .withColumn("drifted", col("psi") > 0.1)
      .orderBy(col("event_type"))
  }

  /** Distribution-drift monitor (Population Stability Index): compare the
    * value distribution of the LAST half of the event window against the
    * FIRST half, per event type. Each side folds to O(types × 10 bins)
    * before anything joins — bin edges are exact equal-width over the
    * reference side's (min, max) so both engines bin identically, and the
    * per-bin PSI terms (p−q)·ln(p/q) are summed in integer nano-units so no
    * floating summation order exists to diverge. Laplace add-one smoothing
    * keeps empty bins finite. PSI > 0.1 is the conventional "investigate"
    * threshold; > 0.25 "act".
    */
  val driftPsi = Declared(
    "dq_drift_psi",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        col("event_type"), col("value"), to_date(col("ts")).as("d"))
      val cutoff = e.agg(date_add(min(col("d")), 15).as("cut"))
      val tagged = e.crossJoin(broadcast(cutoff))
        .withColumn("side", when(col("d") < col("cut"), "ref").otherwise("cur"))
      // exact reference-side bin edges, one tiny row per type
      val edges = tagged.filter(col("side") === "ref")
        .groupBy(col("event_type"))
        .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      val binned = tagged.join(broadcast(edges), "event_type")
        .withColumn("bin", psiBin)
        .groupBy(col("event_type"), col("side"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val perSide = binned.groupBy(col("event_type"), col("bin"))
        .agg(
          sum(when(col("side") === "ref", col("c")).otherwise(0L)).as("cr"),
          sum(when(col("side") === "cur", col("c")).otherwise(0L)).as("cc"))
      psiReadout(perSide)
    },
    Some("""WITH e AS (
        SELECT event_type, value, CAST(ts AS DATE) AS d FROM events),
      cut AS (SELECT min(d) + INTERVAL 15 DAY AS cut FROM e),
      tagged AS (
        SELECT event_type, value,
          CASE WHEN d < cut THEN 'ref' ELSE 'cur' END AS side
        FROM e CROSS JOIN cut),
      edges AS (
        SELECT event_type, min(value) AS vmin, max(value) AS vmax
        FROM tagged WHERE side = 'ref' GROUP BY event_type),
      binned AS (
        SELECT t.event_type, t.side,
          CASE WHEN e.vmax > e.vmin
            THEN least(9, greatest(0, CAST(floor(
              (t.value - e.vmin) * 10.0 / (e.vmax - e.vmin)) AS INTEGER)))
            ELSE 0 END AS bin,
          count(*) AS c
        FROM tagged t JOIN edges e USING (event_type)
        GROUP BY 1, 2, 3),
      per_side AS (
        SELECT event_type, bin,
          sum(CASE WHEN side = 'ref' THEN c ELSE 0 END) AS cr,
          sum(CASE WHEN side = 'cur' THEN c ELSE 0 END) AS cc
        FROM binned GROUP BY 1, 2),
      tot AS (
        SELECT event_type, sum(cr) AS nr, sum(cc) AS nc
        FROM per_side GROUP BY 1),
      terms AS (
        SELECT p.event_type, t.nr, t.nc,
          CAST(round(((p.cr + 1.0) / (t.nr + 10.0) - (p.cc + 1.0) / (t.nc + 10.0))
            * ln(((p.cr + 1.0) / (t.nr + 10.0)) / ((p.cc + 1.0) / (t.nc + 10.0)))
            * 1e9) AS BIGINT) AS term_nano
        FROM per_side p JOIN tot t USING (event_type))
      SELECT event_type, CAST(max(nr) AS BIGINT) AS n_ref,
        CAST(max(nc) AS BIGINT) AS n_cur,
        round(sum(term_nano) / 1e9, 6) AS psi,
        round(sum(term_nano) / 1e9, 6) > 0.1 AS drifted
      FROM terms GROUP BY event_type ORDER BY event_type"""))

  /** Re-identification risk audit (k-anonymity + l-diversity) — the privacy
    * gate a curation pipeline runs before releasing a slice: group the table
    * by its quasi-identifier combination (here nation × 1000-wide account
    * bucket), then report, for each conventional k, how many rows sit in QI
    * groups smaller than k (those rows are re-identifiable to within k−1
    * candidates). l-diversity rides the same aggregate: the minimum count of
    * distinct sensitive values (market segment) across groups — a group can
    * be k-large yet leak the sensitive attribute when every member shares
    * it. One groupBy to the QI-cell table (O(cells), tiny), then ONE
    * conditional-sum fold over it for every threshold — the
    * quality_tradeoff_curve shape, so auditing more k values never adds a
    * pass. Scale note: QI cells grow with the attribute grid, not the row
    * count, so the fold input stays small at any corpus size.
    */
  val kAnonymity = Declared(
    "dq_k_anonymity",
    (s, dir) => {
      val ks = Seq(2, 5, 10, 20)
      val groups = t(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nat"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bin"),
          col("c_mktsegment"))
        .groupBy(col("nat"), col("bal_bin"))
        .agg(count(lit(1)).as("gsize"),
          countDistinct(col("c_mktsegment")).as("l_div"))
      val aggs = ks.flatMap { k => Seq(
        sum(when(col("gsize") < k, col("gsize")).otherwise(0L)).as(s"r_$k"),
        sum(when(col("gsize") < k, 1L).otherwise(0L)).as(s"g_$k"))
      } ++ Seq(
        sum(col("gsize")).as("n_rows"), count(lit(1)).as("n_groups"),
        min(col("l_div")).as("min_l"))
      val stacked = ks.map(k => s"$k, r_$k, g_$k").mkString(", ")
      groups.agg(aggs.head, aggs.tail: _*)
        .selectExpr("n_rows", "n_groups", "min_l",
          s"stack(${ks.size}, $stacked) AS (k, rows_at_risk, groups_below)")
        .select(col("k").cast("int").as("k"),
          col("rows_at_risk"), col("groups_below"),
          round(col("rows_at_risk").cast("double") / col("n_rows"), 6)
            .as("risk_frac"),
          col("n_groups"), col("min_l"))
        .orderBy(col("k"))
    },
    Some {
      val conds = Seq(2, 5, 10, 20).flatMap { k => Seq(
        s"CAST(sum(CASE WHEN gsize < $k THEN gsize ELSE 0 END) AS BIGINT) AS r_$k",
        s"CAST(sum(CASE WHEN gsize < $k THEN 1 ELSE 0 END) AS BIGINT) AS g_$k")
      }.mkString(",\n          ")
      val rows = Seq(2, 5, 10, 20).map(k =>
        s"SELECT $k AS k, r_$k AS rows_at_risk, g_$k AS groups_below, n_rows, n_groups, min_l FROM agg")
        .mkString("\n        UNION ALL ")
      s"""WITH g AS (
        SELECT c_nationkey AS nat,
          CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bin,
          CAST(count(*) AS BIGINT) AS gsize,
          CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_div
        FROM customer GROUP BY 1, 2),
      agg AS (
        SELECT CAST(sum(gsize) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_groups,
          CAST(min(l_div) AS BIGINT) AS min_l,
          $conds
        FROM g),
      ledger AS (
        $rows)
      SELECT CAST(k AS INTEGER) AS k, rows_at_risk, groups_below,
        round(CAST(rows_at_risk AS DOUBLE) / n_rows, 6) AS risk_frac,
        n_groups, min_l
      FROM ledger ORDER BY k"""
    })

  /** Per-column profiling card (the pandas-profiling / `SUMMARIZE` shape —
    * the first thing anyone runs on an unfamiliar table, and the natural
    * companion to the reference's `schema` verb which reports TYPES but no
    * content): one row per orders column with null count/fraction, exact
    * distinct cardinality, and min/max normalized to strings with PINNED
    * formatting (doubles through DECIMAL(18,2), timestamps through an
    * explicit pattern) so the card is engine-stable. TWO projected scans,
    * one 1-row fold each — the six exact count-distincts ride Spark's
    * expand through a hash aggregate (×6 on the projected rows), min/max
    * fold sort-free in their own grouping-free aggregate (their string
    * buffers would otherwise demote the expand pass to a full
    * SortAggregate — the r12 before-plan sorted 7× the corpus twice).
    * Adding a column adds counters, never a pass.
    */
  val profile = Declared(
    "dq_profile",
    (s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val dtypes = Map(
        "o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_orderstatus" -> "string", "o_totalprice" -> "double",
        "o_orderdate" -> "timestamp", "o_orderpriority" -> "string")
      def fmt(c: String, a: org.apache.spark.sql.Column) = dtypes(c) match {
        case "double"    => a.cast("decimal(18,2)").cast("string")
        case "timestamp" => date_format(a, "yyyy-MM-dd HH:mm:ss")
        case _           => a.cast("string")
      }
      // TWO single-row folds instead of one: the count-distinct family
      // (all-long buffers) rides Expand through a HASH aggregate, while the
      // min/max family — whose STRING buffers (status/priority/formatted
      // card values) disqualify HashAggregateExec — folds in a grouping-free
      // SortAggregate that needs NO sort at all. The r11 single-agg shape
      // put both families in one aggregate, so the string buffers demoted
      // the WHOLE thing to SortAggregate and the ×7 Expand output was fully
      // sorted twice (measured 3.2 s warm at sf0.1; this shape reads the
      // 6-column projection twice and sorts nothing — at 100 TB two pruned
      // scans beat sorting 7× the corpus). The 1-row × 1-row crossJoin is
      // the audited broadcast-spine pattern.
      val distinctCounters = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nul_$c"),
        countDistinct(col(c)).as(s"nd_$c")))
      val rangeCounters = cols.flatMap(c => Seq(
        fmt(c, min(col(c))).as(s"mn_$c"),
        fmt(c, max(col(c))).as(s"mx_$c")))
      val stacked = cols.map(c =>
        s"'$c', '${dtypes(c)}', nul_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
      val base = t(s, dir, "orders").select(cols.map(col): _*)
      base.agg(distinctCounters.head, distinctCounters.tail: _*)
        .crossJoin(broadcast(base.agg(rangeCounters.head, rangeCounters.tail: _*)))
        .selectExpr("n", s"stack(${cols.size}, $stacked) AS " +
          "(column_name, dtype, n_nulls, n_distinct, min_val, max_val)")
        .select(col("column_name"), col("dtype"), col("n_nulls"),
          round(col("n_nulls").cast("double") / col("n"), 6).as("null_frac"),
          col("n_distinct"), col("min_val"), col("max_val"))
        .orderBy(col("column_name"))
    },
    Some {
      val specs = Seq(
        ("o_orderkey", "bigint", "CAST(%s AS VARCHAR)"),
        ("o_custkey", "bigint", "CAST(%s AS VARCHAR)"),
        ("o_orderstatus", "string", "CAST(%s AS VARCHAR)"),
        ("o_totalprice", "double", "CAST(CAST(%s AS DECIMAL(18,2)) AS VARCHAR)"),
        ("o_orderdate", "timestamp", "strftime(%s, '%%Y-%%m-%%d %%H:%%M:%%S')"),
        ("o_orderpriority", "string", "CAST(%s AS VARCHAR)"))
      val rows = specs.map { case (c, dt, f) =>
        val mn = f.format(s"min($c)")
        val mx = f.format(s"max($c)")
        s"""SELECT '$c' AS column_name, '$dt' AS dtype,
          CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
          round(CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS null_frac,
          CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
          $mn AS min_val, $mx AS max_val
        FROM orders"""
      }.mkString("\n        UNION ALL ")
      s"""SELECT * FROM (
        $rows)
      ORDER BY column_name"""
    })

  /** Functional-dependency discovery — the constraint-MINING companion to
    * [[expectations]]' declared rules (the profiler says what the columns
    * are; this says how they determine each other, the metadata a schema
    * designer or an anomaly detector reads): for each candidate A→B over
    * orders, A→B holds iff |distinct A| = |distinct (A,B)|, and the
    * difference IS the violation count (how many determinant values map to
    * >1 dependent). All candidates fold in ONE aggregate over one projected
    * scan (count-distincts ride the expand); adding a candidate adds two
    * counters, never a pass. The fixture genuinely splits the ledger:
    * key→attribute FDs hold, attribute→attribute ones fail with large
    * violation counts — discovery, not rubber-stamping.
    */
  val fdDiscovery = Declared(
    "dq_fd_discovery",
    (s, dir) => {
      val cands = Seq(
        ("o_orderkey", "o_custkey"), ("o_orderkey", "o_orderstatus"),
        ("o_custkey", "o_orderstatus"), ("o_orderstatus", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus"))
      val counters = cands.zipWithIndex.flatMap { case ((a, b), i) => Seq(
        countDistinct(col(a)).as(s"da_$i"),
        countDistinct(col(a), col(b)).as(s"dab_$i")) }
      val stacked = cands.zipWithIndex.map { case ((a, b), i) =>
        s"'$a', '$b', da_$i, dab_$i" }.mkString(", ")
      t(s, dir, "orders")
        .agg(counters.head, counters.tail: _*)
        .selectExpr(s"stack(${cands.size}, $stacked) AS " +
          "(determinant, dependent, n_det, n_pairs)")
        .select(col("determinant"), col("dependent"), col("n_det"),
          col("n_pairs"), (col("n_det") === col("n_pairs")).as("holds"),
          (col("n_pairs") - col("n_det")).as("violations"))
        .orderBy(col("determinant"), col("dependent"))
    },
    Some {
      val cands = Seq(
        ("o_orderkey", "o_custkey"), ("o_orderkey", "o_orderstatus"),
        ("o_custkey", "o_orderstatus"), ("o_orderstatus", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus"))
      val rows = cands.map { case (a, b) =>
        s"""SELECT '$a' AS determinant, '$b' AS dependent,
          CAST(count(DISTINCT $a) AS BIGINT) AS n_det,
          CAST(count(DISTINCT ($a, $b)) AS BIGINT) AS n_pairs
        FROM orders"""
      }.mkString("\n        UNION ALL ")
      s"""SELECT determinant, dependent, n_det, n_pairs,
        n_det = n_pairs AS holds, n_pairs - n_det AS violations
      FROM (
        $rows)
      ORDER BY determinant, dependent"""
    })

  /** Disclosure-controlled release — the census-style mechanism downstream
    * of [[kAnonymity]]'s audit (the audit says which groups are risky; this
    * RELEASES the table safely): per (nation, segment) counts with small
    * groups (< 10) suppressed outright and surviving counts perturbed then
    * rounded to base 5 — the two standard statistical-disclosure-control
    * primitives (cell suppression + controlled rounding). The perturbation
    * here is a salted-hash offset in {−1, 0, 1}: DETERMINISTIC by design so
    * the oracle can replay it — an honest stand-in for the mechanism's
    * shape, documented as such (real differential privacy requires
    * calibrated fresh randomness, which no hash provides). One group fold,
    * one map-side expression per row; the release never touches row-level
    * data twice.
    */
  val dpRelease = Declared(
    "dq_dp_release",
    (s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nation"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"))
        .select(col("nation"), col("segment"),
          when(col("n") >= 10,
            expr(s"((n + (${graft.functions.Hashing.md5Hash32SparkSql(
              "concat(cast(nation AS string), ':', segment)")} % 3 - 1) + 2) DIV 5) * 5"))
            .as("n_released"),
          (col("n") < 10).as("suppressed"))
        .orderBy(col("nation"), col("segment"))
    },
    Some {
      val h = graft.functions.Hashing.md5Hash32DuckSql("nation || ':' || segment")
      s"""WITH g AS (
        SELECT c_nationkey AS nation, c_mktsegment AS segment,
          CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY 1, 2)
      SELECT nation, segment,
        CASE WHEN n >= 10 THEN ((n + ($h % 3 - 1) + 2) // 5) * 5 END AS n_released,
        n < 10 AS suppressed
      FROM g ORDER BY nation, segment"""
    })

  /** Referential-integrity sweep over the full FK graph — [[expectations]]
    * checks one FK; this audits EVERY edge of the star schema in one ledger
    * (the nightly load gate a warehouse actually runs): per edge, child row
    * count, orphan count (child keys with no parent), and the orphan
    * fraction. Each edge is one left join + conditional sum — a single
    * keyed shuffle (broadcast when the dim is small, Catalyst's call);
    * adding an edge adds a row, never a table rescan elsewhere.
    */
  val orphanReport = Declared(
    "dq_orphan_report",
    (s, dir) => {
      val edges = Seq(
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"))
      edges.map { case (ct, ck, pt, pk) =>
        t(s, dir, ct).select(col(ck))
          .join(t(s, dir, pt).select(col(pk)).distinct(),
            col(ck) === col(pk), "left")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(s"$ct.$ck").as("fk"), lit(s"$pt.$pk").as("references"),
            col("n_rows"), col("n_orphans"),
            round(col("n_orphans").cast("double") / col("n_rows"), 6)
              .as("orphan_frac"))
      }.reduce(_ unionByName _).orderBy(col("fk"), col("references"))
    },
    Some {
      val edges = Seq(
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"))
      val rows = edges.map { case (ct, ck, pt, pk) =>
        s"""SELECT '$ct.$ck' AS fk, '$pt.$pk' AS "references",
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_orphans
        FROM $ct c LEFT JOIN (SELECT DISTINCT $pk FROM $pt) p
          ON c.$ck = p.$pk"""
      }.mkString("\n        UNION ALL ")
      s"""SELECT fk, "references", n_rows, n_orphans,
        round(CAST(n_orphans AS DOUBLE) / n_rows, 6) AS orphan_frac
      FROM (
        $rows)
      ORDER BY fk, "references""""
    })

  /** Benford's-law first-digit audit over order totals — the classic
    * fabricated-numbers screen (synthetic or tampered financial data drifts
    * from the logarithmic first-digit distribution real multiplicative
    * processes follow). One conditional fold: the fact scan reduces to the
    * 9-row digit histogram in a single hash aggregate, every readout is
    * arithmetic over that tiny table — O(9) state at any table size.
    *
    * Determinism: the first digit is extracted from integer CENTS via a
    * string-length power-of-ten division (never log10 of a double, whose
    * last-ulp at exact powers of ten could flip a digit between engines);
    * the expected Benford shares are literal integer nano-fractions
    * (log10(1+1/d) pre-rounded, not recomputed in either engine's libm);
    * the chi-square statistic folds per-digit terms already rounded to
    * nano-units, so no float summation order exists. The deviation column
    * makes the verdict per-digit attributable; chi2_nano is the one-number
    * gate (fixture reads high — uniform-ish synthetic prices are exactly
    * what Benford flags).
    */
  val benford = Declared(
    "dq_benford",
    (s, dir) => {
      val cents = t(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
        .filter(col("c") > 0)
      val digits = cents
        .select(expr(
          "c div CAST(pow(10, length(CAST(c AS STRING)) - 1) AS BIGINT)")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val expNano = expr("""CASE digit
        WHEN 1 THEN 301029996L WHEN 2 THEN 176091259L WHEN 3 THEN 124938737L
        WHEN 4 THEN 96910013L WHEN 5 THEN 79181246L WHEN 6 THEN 66946790L
        WHEN 7 THEN 57991947L WHEN 8 THEN 51152522L ELSE 45757491L END""")
      val tot = digits.agg(sum(col("n_obs")).as("n_total"))
      val perDigit = digits.crossJoin(broadcast(tot))
        .withColumn("exp_nano", expNano)
        .withColumn("obs_nano",
          expr("CAST(round(n_obs * 1e9 / n_total) AS BIGINT)"))
        .withColumn("chi_term_nano", expr(
          """CAST(round(CAST((obs_nano - exp_nano) AS DOUBLE) *
             (obs_nano - exp_nano) / exp_nano) AS BIGINT)"""))
      val chi2 = perDigit.agg(sum(col("chi_term_nano")).as("chi2_nano"))
      perDigit.crossJoin(broadcast(chi2))
        .select(col("digit"), col("n_obs"),
          round(col("obs_nano") / 1e9, 6).as("obs_frac"),
          round(col("exp_nano") / 1e9, 6).as("exp_frac"),
          (col("obs_nano") - col("exp_nano")).as("dev_nano"),
          col("chi2_nano"))
        .orderBy(col("digit"))
    },
    Some("""WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders WHERE round(o_totalprice * 100) > 0),
      digits AS (
        SELECT c // CAST(pow(10, length(CAST(c AS VARCHAR)) - 1) AS BIGINT)
          AS digit, CAST(count(*) AS BIGINT) AS n_obs
        FROM cents GROUP BY 1),
      tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM digits),
      pd AS (
        SELECT digit, n_obs,
          CASE digit
            WHEN 1 THEN 301029996 WHEN 2 THEN 176091259 WHEN 3 THEN 124938737
            WHEN 4 THEN 96910013 WHEN 5 THEN 79181246 WHEN 6 THEN 66946790
            WHEN 7 THEN 57991947 WHEN 8 THEN 51152522 ELSE 45757491
          END AS exp_nano,
          CAST(round(n_obs * 1e9 / n_total) AS BIGINT) AS obs_nano
        FROM digits CROSS JOIN tot),
      pd2 AS (
        SELECT *, CAST(round(CAST(obs_nano - exp_nano AS DOUBLE) *
            (obs_nano - exp_nano) / exp_nano) AS BIGINT) AS chi_term_nano
        FROM pd),
      chi AS (SELECT CAST(sum(chi_term_nano) AS BIGINT) AS chi2_nano FROM pd2)
      SELECT digit, n_obs,
        round(obs_nano / 1e9, 6) AS obs_frac,
        round(exp_nano / 1e9, 6) AS exp_frac,
        obs_nano - exp_nano AS dev_nano, chi.chi2_nano
      FROM pd2 CROSS JOIN chi ORDER BY digit"""))

  /** Join-key skew report — the diagnostic run BEFORE sizing a shuffle:
    * for each candidate join/partition key, how concentrated its value
    * distribution is (max-key share, p99/median ratio). At 1000 executors
    * a key holding 5% of a 100 TB fact table is a straggler that AQE's
    * skew-join split or a salting rewrite must handle — this report is what
    * decides that, from the data instead of folklore.
    *
    * Scale shapes: each table pays ONE scan; the three lineitem keys share
    * it through a 3-way stack (Spark's Expand — trading 3× shuffle rows
    * for 2 saved scans, the right trade on an IO-bound fact table); counts
    * fold per (key_col, key_val) in one hash aggregate whose output is
    * key-dimension-sized; the stats pass then aggregates THAT table per
    * key_col. The exact `percentile` over per-key counts is the one
    * key-dimension-sized sort — the documented 100 TB swap is
    * percentile_approx on the same plan. Shares are nano-unit integers;
    * the interpolated percentiles are rounded ONCE to nano longs at the
    * emit boundary (ADVICE r7 #3: the 0.99 interpolation
    * lower·(1−d)+higher·d is generally inexact, so emitting the raw
    * double made the hash depend on bit-identical IEEE sequences in both
    * engines — the nano quantization restores the repo's round-once
    * discipline), and the p99/median ratio divides the two NANO LONGS in
    * one shared IEEE expression, fully determined by emitted columns.
    */
  val skewReport = Declared(
    "dq_skew_report",
    (s, dir) => {
      def keyCounts(df: org.apache.spark.sql.DataFrame, stackExpr: String) =
        df.select(expr(stackExpr))
          .groupBy(col("key_col"), col("key_val"))
          .agg(count(lit(1)).as("n"))
      val counts = keyCounts(t(s, dir, "lineitem"),
        """stack(3, 'lineitem.l_orderkey', l_orderkey,
                    'lineitem.l_partkey', l_partkey,
                    'lineitem.l_suppkey', l_suppkey) AS (key_col, key_val)""")
        .union(keyCounts(t(s, dir, "orders"),
          "stack(1, 'orders.o_custkey', o_custkey) AS (key_col, key_val)"))
        .union(keyCounts(t(s, dir, "events"),
          "stack(1, 'events.user_id', user_id) AS (key_col, key_val)"))
      counts.groupBy(col("key_col"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("n")).as("n_rows"),
          max(col("n")).as("max_n"),
          expr("""CAST(round(percentile(CAST(n AS DOUBLE), 0.5) * 1e9)
                 AS BIGINT)""").as("med_n_nano"),
          expr("""CAST(round(percentile(CAST(n AS DOUBLE), 0.99) * 1e9)
                 AS BIGINT)""").as("p99_n_nano"))
        .select(col("key_col"), col("n_keys"), col("n_rows"), col("max_n"),
          expr("(1000000000L * max_n) div n_rows").as("max_share_nano"),
          col("med_n_nano"), col("p99_n_nano"),
          expr("""CAST(round(CAST(p99_n_nano AS DOUBLE) / med_n_nano * 1e9)
                 AS BIGINT)""").as("p99_over_med_nano"))
        .orderBy(col("key_col"))
    },
    Some("""WITH stacked AS (
        SELECT 'lineitem.l_orderkey' AS key_col, l_orderkey AS key_val
          FROM lineitem
        UNION ALL
        SELECT 'lineitem.l_partkey', l_partkey FROM lineitem
        UNION ALL
        SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem
        UNION ALL
        SELECT 'orders.o_custkey', o_custkey FROM orders
        UNION ALL
        SELECT 'events.user_id', user_id FROM events),
      counts AS (
        SELECT key_col, key_val, CAST(count(*) AS BIGINT) AS n
        FROM stacked GROUP BY key_col, key_val)
      SELECT key_col,
        CAST(count(*) AS BIGINT) AS n_keys,
        CAST(sum(n) AS BIGINT) AS n_rows,
        CAST(max(n) AS BIGINT) AS max_n,
        CAST((1000000000 * max(n)) // sum(n) AS BIGINT) AS max_share_nano,
        CAST(round(quantile_cont(CAST(n AS DOUBLE), 0.5) * 1e9) AS BIGINT)
          AS med_n_nano,
        CAST(round(quantile_cont(CAST(n AS DOUBLE), 0.99) * 1e9) AS BIGINT)
          AS p99_n_nano,
        CAST(round(
          CAST(CAST(round(quantile_cont(CAST(n AS DOUBLE), 0.99) * 1e9)
            AS BIGINT) AS DOUBLE)
          / CAST(round(quantile_cont(CAST(n AS DOUBLE), 0.5) * 1e9) AS BIGINT)
          * 1e9) AS BIGINT) AS p99_over_med_nano
      FROM counts GROUP BY key_col ORDER BY key_col"""))

  /** Load-volume anomaly detection — the ingest monitor that catches a
    * half-written day or a double-load BEFORE anything trains on it:
    * per-day row counts scored with the robust z (distance from the
    * MEDIAN in MAD units — mean/stddev would let one bad day drag the
    * baseline toward itself, exactly the masking a load monitor must not
    * have). Days with |z| > 3.5 flag (the standard Iglewicz–Hoaglin
    * operating point, declared).
    *
    * Scale shapes: the event scan folds to the calendar-bounded day table
    * once and localCheckpoints (three readers: median fold, MAD fold,
    * scoring); the two medians are exact percentiles over O(days) rows;
    * scoring is map-side arithmetic against the 1-row broadcast baseline.
    * The z division is one shared IEEE expression over exactly-
    * representable halves, rounded once to milli; a zero MAD (identical
    * counts) degenerates to z = 0 for on-median days and a huge flagged z
    * otherwise via the shared greatest(mad, 1e-9) guard.
    */
  val loadAnomaly = Declared(
    "dq_load_anomaly",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val med = daily.agg(expr("percentile(CAST(n AS DOUBLE), 0.5)").as("med_n"))
      val mad = daily.crossJoin(broadcast(med))
        .agg(expr("percentile(abs(CAST(n AS DOUBLE) - med_n), 0.5)")
          .as("mad_n"), first(col("med_n")).as("med_n"))
      daily.crossJoin(broadcast(mad))
        .select(col("d"), col("n"), col("med_n"), col("mad_n"),
          expr("""CAST(round(abs(CAST(n AS DOUBLE) - med_n)
                 / greatest(mad_n, 1e-9) * 1000) AS BIGINT)""").as("z_milli"))
        .withColumn("flagged", col("z_milli") > 3500L)
        .orderBy(col("d"))
    },
    Some("""WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1),
      med AS (
        SELECT quantile_cont(CAST(n AS DOUBLE), 0.5) AS med_n FROM daily),
      mad AS (
        SELECT quantile_cont(abs(CAST(n AS DOUBLE) - med.med_n), 0.5) AS mad_n,
          any_value(med.med_n) AS med_n
        FROM daily CROSS JOIN med)
      SELECT d, n, mad.med_n, mad.mad_n,
        CAST(round(abs(CAST(n AS DOUBLE) - mad.med_n)
          / greatest(mad.mad_n, 1e-9) * 1000) AS BIGINT) AS z_milli,
        (CAST(round(abs(CAST(n AS DOUBLE) - mad.med_n)
          / greatest(mad.mad_n, 1e-9) * 1000) AS BIGINT) > 3500) AS flagged
      FROM daily CROSS JOIN mad ORDER BY d"""))

  /** Key pseudonymization — the privacy primitive [[graft.queries.TextQ]]'s
    * redact_pii applies to VALUES, applied to JOIN KEYS: customer and orders
    * are re-written with every c_custkey/o_custkey replaced by a salted-hash
    * pseudonym (md5 over a pepper + the key — deterministic, so referential
    * integrity survives by construction), and the analytics run on the
    * MASKED tables alone. The oracle computes the same per-nation rollup
    * from the RAW join — so a hash match proves the pseudonymized pipeline
    * loses nothing: row counts, revenue cents, and customer cardinality all
    * survive the masking. The map-side hash costs one codegen'd expression
    * per row; the join shape (shuffle on the pseudonym instead of the key)
    * is identical at any scale. n_customers doubles as the collision audit:
    * a pseudonym collision would merge two customers and break the match.
    */
  val pseudonymize = Declared(
    "op_pseudonymize",
    (s, dir) => {
      val out = Tables.scratch("pseudonymized")
      val pid = (c: org.apache.spark.sql.Column) =>
        md5(concat(lit("pep1:"), c.cast("string")))
      t(s, dir, "customer")
        .select(pid(col("c_custkey")).as("pid"), col("c_nationkey"))
        .write.mode("overwrite").parquet(s"$out/customer")
      t(s, dir, "orders")
        .select(pid(col("o_custkey")).as("pid"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .write.mode("overwrite").parquet(s"$out/orders")
      val mc = s.read.parquet(s"$out/customer")
      val mo = s.read.parquet(s"$out/orders")
      mo.join(mc, "pid")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("revenue_cents"),
          countDistinct(col("pid")).as("n_customers"))
        .orderBy(col("c_nationkey"))
    },
    Some("""SELECT c.c_nationkey,
        CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS revenue_cents,
        CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey ORDER BY c.c_nationkey"""))

  /** Rule-enforced write split (quarantine pattern) — the APPLY half of
    * dq_expectations' report: every lineitem row is routed to the CLEAN
    * table or the QUARANTINE table with its first violated rule attached
    * (fixed rule priority, so attribution is deterministic), both sides
    * written to parquet, and the ledger is recomputed FROM THE READBACK so
    * a match proves the physical split, not just the plan. Rules: quantity
    * present and in [1, 50], discount in [0, 0.1], duplicate
    * (orderkey, linenumber) keys (ALL copies quarantined — keep-first would
    * be order-dependent), FK orphans against orders. One keyed window for
    * the dup count + one distinct-key left join for the FK probe; the row
    * routing itself is map-side.
    */
  val quarantineWrite = Declared(
    "op_quarantine_write",
    (s, dir) => {
      val out = Tables.scratch("quarantine_split")
      val dupW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"), col("l_linenumber"))
      val okeys = t(s, dir, "orders").select(col("o_orderkey")).distinct()
      val tagged = t(s, dir, "lineitem")
        .withColumn("dupn", count(lit(1)).over(dupW))
        .join(okeys, col("l_orderkey") === col("o_orderkey"), "left")
        .withColumn("reason",
          when(col("l_quantity").isNull, "null_quantity")
            .when(col("l_quantity") < 1 || col("l_quantity") > 50, "quantity_range")
            .when(col("l_discount") < 0 || col("l_discount") > 0.1, "discount_range")
            .when(col("dupn") > 1, "duplicate_key")
            .when(col("o_orderkey").isNull, "fk_orphan"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("reason"))
      tagged.filter(col("reason").isNull).drop("reason")
        .write.mode("overwrite").parquet(s"$out/clean")
      tagged.filter(col("reason").isNotNull)
        .write.mode("overwrite").parquet(s"$out/quarantine")
      val clean = s.read.parquet(s"$out/clean")
        .agg(count(lit(1)).as("n_rows")).select(lit("clean").as("status"),
          lit("-").as("reason"), col("n_rows"))
      val quar = s.read.parquet(s"$out/quarantine")
        .groupBy(col("reason")).agg(count(lit(1)).as("n_rows"))
        .select(lit("quarantine").as("status"), col("reason"), col("n_rows"))
      clean.unionByName(quar).orderBy(col("status"), col("reason"))
    },
    Some("""WITH tagged AS (
        SELECT l.l_orderkey, l.l_quantity, l.l_discount,
          count(*) OVER (PARTITION BY l.l_orderkey, l.l_linenumber) AS dupn,
          o.o_orderkey
        FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey),
      reasons AS (
        SELECT CASE
          WHEN l_quantity IS NULL THEN 'null_quantity'
          WHEN l_quantity < 1 OR l_quantity > 50 THEN 'quantity_range'
          WHEN l_discount < 0 OR l_discount > 0.1 THEN 'discount_range'
          WHEN dupn > 1 THEN 'duplicate_key'
          WHEN o_orderkey IS NULL THEN 'fk_orphan'
        END AS reason FROM tagged)
      SELECT 'clean' AS status, '-' AS reason,
        CAST(count(*) AS BIGINT) AS n_rows
      FROM reasons WHERE reason IS NULL
      UNION ALL
      SELECT 'quarantine', reason, CAST(count(*) AS BIGINT)
      FROM reasons WHERE reason IS NOT NULL GROUP BY reason
      ORDER BY status, reason"""))

  val all: Seq[Declared] = Seq(expectations, driftPsi, kAnonymity, profile,
    fdDiscovery, dpRelease, orphanReport, benford, skewReport, loadAnomaly,
    pseudonymize, quarantineWrite)
}
