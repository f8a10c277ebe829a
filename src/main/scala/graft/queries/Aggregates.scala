package graft.queries

import graft.{Declared, Tables}
import org.apache.spark.sql.functions._

/** Aggregation surface (SURVEY §2.B "aggregation"): hash agg with partial
  * (map-side) combine comes free from Catalyst; every query here groups on a
  * low-cardinality key so the final shuffle is tiny at any scale.
  */
object Aggregates {
  import Tables.t

  val stats = Declared(
    "q_agg_stats",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(stddev_pop(col("l_quantity")), 6).as("sdp_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(var_pop(col("l_quantity")), 6).as("varp_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"),
          round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("covp_qty_disc"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      round(stddev_samp(l_quantity),6) AS sd_qty,
      round(stddev_pop(l_quantity),6) AS sdp_qty,
      round(var_samp(l_quantity),6) AS var_qty,
      round(var_pop(l_quantity),6) AS varp_qty,
      round(corr(l_quantity, l_extendedprice),6) + 0.0 AS corr_qty_price,
      round(covar_samp(l_quantity, l_discount),6) + 0.0 AS cov_qty_disc,
      round(covar_pop(l_quantity, l_discount),6) + 0.0 AS covp_qty_disc
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`). The approximate variant is q_agg_approx_bound.
    */
  val percentiles = Declared(
    "q_agg_percentile",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25_price"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.5),4) AS p50_qty,
      round(quantile_cont(l_quantity, 0.9),4) AS p90_qty,
      round(quantile_cont(l_extendedprice, 0.25),4) AS p25_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** array_agg / string_agg; sorted inside the aggregate so the value is
    * order-insensitive (distributed agg has no stable input order).
    * The collected set is emitted as a joined string + its cardinality, never
    * as a raw array column: the driver's pandas compare cannot sort ndarray
    * cells (round-1 harness crash), and the string form pins the same values.
    */
  val collects = Declared(
    "q_agg_collect",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"),
          size(collect_set(col("o_orderstatus"))).as("n_statuses"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority,
      string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
      CAST(count(DISTINCT o_orderstatus) AS INTEGER) AS n_statuses,
      count(*) AS n
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** min/max/min_by/max_by battery (unique ordering key keeps *_by
    * deterministic).
    */
  val minmax = Declared(
    "q_agg_minmax",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          round(min(col("o_totalprice")), 2).as("min_price"),
          round(max(col("o_totalprice")), 2).as("max_price"),
          min_by(col("o_orderpriority"), col("o_orderkey")).as("first_prio"),
          max_by(col("o_orderpriority"), col("o_orderkey")).as("last_prio"),
          min(col("o_orderdate")).as("first_date"),
          max(col("o_orderdate")).as("last_date"))
        .orderBy(col("o_orderstatus")),
    Some("""SELECT o_orderstatus,
      min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      round(min(o_totalprice),2) AS min_price, round(max(o_totalprice),2) AS max_price,
      min_by(o_orderpriority, o_orderkey) AS first_prio,
      max_by(o_orderpriority, o_orderkey) AS last_prio,
      min(o_orderdate) AS first_date, max(o_orderdate) AS last_date
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  val boolBit = Declared(
    "q_agg_bool_bit",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("bit_and(l_linenumber)").as("band"),
          expr("bit_or(l_linenumber)").as("bor"),
          expr("bit_xor(l_linenumber)").as("bxor"),
          expr("bool_and(l_quantity > 0)").as("all_pos"),
          expr("bool_or(l_quantity > 49)").as("any_big"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      bit_and(l_linenumber) AS band, bit_or(l_linenumber) AS bor,
      bit_xor(l_linenumber) AS bxor,
      bool_and(l_quantity > 0) AS all_pos, bool_or(l_quantity > 49) AS any_big
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Multiple exact count-distincts in one aggregate (expand-based plan). */
  val countDistinctQ = Declared(
    "q_count_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      count(DISTINCT l_partkey) AS n_parts,
      count(DISTINCT l_suppkey) AS n_supps,
      count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
      count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** mode() / median() / ordered distinct string aggregation. The mode input
    * is constructed so one value dominates by a wide margin — mode() on ties
    * is engine-arbitrary, so a tie-free input is what makes it
    * cross-engine-checkable.
    */
  val modeMedian = Declared(
    "q_agg_mode_median",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("mode(CASE WHEN l_quantity <= 25 THEN 0 ELSE l_linenumber END)")
            .as("mode_bucket"),
          median(col("l_quantity")).as("med_qty"),
          expr("array_join(array_sort(collect_set(l_linestatus)), ',')").as("statuses"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      mode(CASE WHEN l_quantity <= 25 THEN 0 ELSE l_linenumber END) AS mode_bucket,
      median(l_quantity) AS med_qty,
      string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // NOTE: a rows-only `q_agg_approx` (raw HLL/GK sketch values) was dropped
  // in round 3: raw sketches are engine-specific by nature, and
  // q_agg_approx_bound below exercises the same approx_count_distinct /
  // approx_percentile surface while hash-checking the accuracy contract —
  // the raw-value variant added an unverifiable row for zero extra coverage
  // (ApproxAccuracySpec still bounds the sketches against exact values in CI).

  /** Hash-checked accuracy bound for the approx family: each engine computes
    * its OWN sketch (Spark HLL/GK vs DuckDB HLL/t-digest — raw sketch
    * values are never comparable across engines) AND its own exact
    * values, and emits booleans asserting the sketch lands within the bound.
    * The booleans (plus the exact counts) hash-match across engines, so the
    * driver verifies the accuracy contract itself. The count-distinct bound
    * is 15% ≈ 3σ of the sketch's default 5% rsd — asserting 5% would sit at
    * ~1σ and flip at other scale factors with both engines behaving
    * correctly.
    */
  val approxBound = Declared(
    "q_agg_approx_bound",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          (abs(approx_count_distinct(col("l_partkey")) - countDistinct(col("l_partkey")))
            .cast("double") / countDistinct(col("l_partkey")).cast("double") <= 0.15)
            .as("parts_within_15pct"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)")
            .between(
              expr("percentile(l_extendedprice, 0.4)"),
              expr("percentile(l_extendedprice, 0.6)"))
            .as("median_within_band"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      count(DISTINCT l_partkey) AS exact_parts,
      CAST(abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey)) AS DOUBLE)
        / CAST(count(DISTINCT l_partkey) AS DOUBLE) <= 0.15 AS parts_within_15pct,
      approx_quantile(l_extendedprice, 0.5)
        BETWEEN quantile_cont(l_extendedprice, 0.4) AND quantile_cont(l_extendedprice, 0.6)
        AS median_within_band
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Datasketches HLL surface (Spark 3.5+ hll_sketch_agg / hll_union_agg):
    * the MERGEABLE distinct-count sketch — the at-scale pattern where daily
    * partials are stored as binary sketch columns and re-aggregated by
    * union instead of rescanning history. Checked as a contract, like
    * [[approxBound]]: the direct estimate must land within 5% (≈3σ of
    * lgK=12's 1.6% rse) of exact, and the union of per-day partial sketches
    * must agree with the one-shot sketch to within 5%. Agreement is a
    * TOLERANCE, not equality: the union carries the same per-register maxima
    * but Datasketches estimates a unioned sketch with the composite
    * estimator while a directly-built sketch can use HIP — identical data,
    * slightly different numbers once sketches leave the exact coupon range
    * (measured: equal at sf0.01, ~1% apart at sf0.1). Both remain within the
    * sketch's own error of the truth, which is the property that matters.
    * DuckDB has no SQL sketch union, so the oracle computes its own HLL for
    * the direct bound and states the merge agreement as the expected
    * literal; the Spark side genuinely computes both.
    */
  val hllSketch = Declared(
    "q_hll_sketch",
    (s, dir) => {
      val e = t(s, dir, "events")
      // lgK pinned explicitly (12 = today's default): the 5% contract is
      // calibrated to lgK=12's ~1.6% rse, so a Spark upgrade changing the
      // default must not silently move the sketch accuracy under the bound
      val lgK = 12
      val daily = e.groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
      val merged = daily.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
      val direct = e.groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(lgK))).as("est_direct"))
      direct.join(merged, "event_type")
        .select(
          col("event_type"), col("exact_users"),
          (abs(col("est_direct") - col("exact_users")).cast("double") /
            col("exact_users").cast("double") <= 0.05).as("direct_within_5pct"),
          (abs(col("est_merged") - col("est_direct")) /
            col("est_direct") <= 0.05).as("merge_agrees"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type,
      count(DISTINCT user_id) AS exact_users,
      CAST(abs(approx_count_distinct(user_id) - count(DISTINCT user_id)) AS DOUBLE)
        / CAST(count(DISTINCT user_id) AS DOUBLE) <= 0.05 AS direct_within_5pct,
      true AS merge_agrees
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** GROUPING SETS / ROLLUP / CUBE. Fixture keys are never null, so
    * coalesce('ALL') unambiguously marks subtotal rows.
    */
  val rollupQ = Declared(
    "q_rollup",
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("sum_qty"), col("n"))
        .orderBy(col("rflag"), col("lstatus")),
    Some("""SELECT coalesce(l_returnflag,'ALL') AS rflag,
      coalesce(l_linestatus,'ALL') AS lstatus,
      round(sum(l_quantity),2) AS sum_qty, count(*) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY rflag, lstatus"""))

  val cubeQ = Declared(
    "q_cube",
    (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("n"), col("total"))
        .orderBy(col("status"), col("prio")),
    Some("""SELECT coalesce(o_orderstatus,'ALL') AS status,
      coalesce(o_orderpriority,'ALL') AS prio,
      count(*) AS n, round(sum(o_totalprice),2) AS total
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, prio"""))

  val groupingSets = Declared(
    "q_grouping_sets",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT coalesce(l_returnflag,'ALL') AS rflag,
        coalesce(l_linestatus,'ALL') AS lstatus,
        count(*) AS n, round(sum(l_extendedprice),2) AS total
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY rflag, lstatus""")
    },
    Some("""SELECT coalesce(l_returnflag,'ALL') AS rflag,
      coalesce(l_linestatus,'ALL') AS lstatus,
      count(*) AS n, round(sum(l_extendedprice),2) AS total
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rflag, lstatus"""))

  /** Several DISTINCT aggregates with different argument sets in one agg —
    * Catalyst plans this with an Expand (one replica of the input per
    * distinct-argument group) feeding a two-level hash aggregate, which keeps
    * the shuffle keyed on (group, replica) instead of re-scanning per
    * distinct column. The classic multi-count-distinct profile query.
    */
  val multiDistinct = Declared(
    "q_agg_multi_distinct",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          countDistinct(col("source")).as("n_src"),
          countDistinct(col("n_chars")).as("n_len"),
          // Spark's multi-arg count-distinct drops a row when ANY argument
          // is NULL; the oracle mirrors that with a CASE (DuckDB would
          // otherwise count ROW(NULL, x) tuples)
          countDistinct(col("source"), col("n_chars")).as("n_src_len"),
          count(lit(1)).as("n"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang")),
    Some("""SELECT lang,
      CAST(count(DISTINCT source) AS BIGINT) AS n_src,
      CAST(count(DISTINCT n_chars) AS BIGINT) AS n_len,
      CAST(count(DISTINCT CASE WHEN source IS NOT NULL AND n_chars IS NOT NULL
        THEN (source, n_chars) END) AS BIGINT) AS n_src_len,
      CAST(count(*) AS BIGINT) AS n,
      CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** Ordered string aggregation: Spark 4's `listagg(...) WITHIN GROUP`
    * (DuckDB `string_agg(... ORDER BY ...)`). Aggregating the DISTINCT
    * (lang, source) pairs first keeps the collected state bounded by the
    * dimension cardinality, not the row count — the only safe way to use an
    * ordered-collect aggregate at corpus scale.
    */
  val listAgg = Declared(
    "q_agg_listagg",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), col("source")).distinct()
        .groupBy(col("lang"))
        .agg(expr("listagg(source, ',') WITHIN GROUP (ORDER BY source)").as("srcs"),
          count(lit(1)).as("n_src"))
        .orderBy(col("lang")),
    Some("""SELECT lang, string_agg(source, ',' ORDER BY source) AS srcs,
      CAST(count(*) AS BIGINT) AS n_src
      FROM (SELECT DISTINCT lang, source FROM documents)
      GROUP BY lang ORDER BY lang"""))

  /** Equi-width histogram: 20 bins between the global min/max (the classic
    * profile/visualization aggregate). The (lo, hi) bounds are a 1-row
    * broadcast; binning is then a per-row projection + tiny hash agg — one
    * extra pass, no shuffle of the data by value.
    */
  val histogram = Declared(
    "q_histogram",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val b = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      ev.crossJoin(broadcast(b))
        .select(
          // degenerate bounds (hi = lo, e.g. a constant or single-row slice)
          // put everything in bin 0 instead of dividing by a zero width
          when(col("hi") === col("lo"), 0)
            .otherwise(least(floor((col("value") - col("lo"))
              / ((col("hi") - col("lo")) / 20.0)), lit(19.0)).cast("int"))
            .as("bin"),
          col("value"))
        .groupBy(col("bin"))
        .agg(
          count(lit(1)).as("n"),
          round(min(col("value")), 3).as("bin_min"),
          round(max(col("value")), 3).as("bin_max"))
        .orderBy(col("bin"))
    },
    Some("""WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
      SELECT CASE WHEN b.hi = b.lo THEN 0
          ELSE CAST(least(floor((value - b.lo) / ((b.hi - b.lo) / 20.0)), 19) AS INTEGER)
        END AS bin,
        CAST(count(*) AS BIGINT) AS n,
        round(min(value), 3) AS bin_min,
        round(max(value), 3) AS bin_max
      FROM events, b GROUP BY bin ORDER BY bin"""))

  /** Higher-moment aggregates: Spark's skewness/kurtosis are the POPULATION
    * moments (m3/m2^1.5, m4/m2²−3); DuckDB's builtins are sample-adjusted,
    * so the oracle recomputes the population values from raw central moments
    * instead of calling them — the mismatch is a formula choice, not an
    * engine bug, and this pins OUR engine's definition.
    */
  val moments = Declared(
    "q_agg_moments",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(skewness(col("value")), 6).as("skew"),
          round(kurtosis(col("value")), 6).as("kurt"))
        .orderBy(col("event_type")),
    Some("""WITH mu AS (
        SELECT event_type, avg(value) AS mu FROM events GROUP BY event_type),
      c AS (
        SELECT e.event_type, count(*) AS n,
          avg(power(value - mu, 2)) AS m2,
          avg(power(value - mu, 3)) AS m3,
          avg(power(value - mu, 4)) AS m4
        FROM events e JOIN mu ON e.event_type = mu.event_type
        GROUP BY e.event_type)
      SELECT event_type, CAST(n AS BIGINT) AS n,
        round(m3 / power(m2, 1.5), 6) + 0.0 AS skew,
        round(m4 / (m2 * m2) - 3.0, 6) + 0.0 AS kurt
      FROM c ORDER BY event_type"""))

  /** Robust outlier statistics: median absolute deviation and the count of
    * values beyond the 3-robust-sigma fence (1.4826·MAD ≈ σ under
    * normality) — the profile stat that survives the heavy tails that break
    * stddev fences. Three passes, each a tiny per-group aggregate with the
    * group medians broadcast back; the data never shuffles by value.
    */
  val mad = Declared(
    "q_agg_mad",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .select(col("event_type"), col("value"), col("med"),
          abs(col("value") - col("med")).as("adev"))
      val madT = dev.groupBy(col("event_type"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(madT), "event_type")
        .groupBy(col("event_type"))
        .agg(
          round(max(col("med")), 6).as("med"),
          round(max(col("mad")), 6).as("mad"),
          sum((col("adev") > col("mad") * 3 * 1.4826).cast("long")).as("n_outlier"))
        .orderBy(col("event_type"))
    },
    Some("""WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type),
      dev AS (
        SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
        FROM events e JOIN med m ON e.event_type = m.event_type),
      madt AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type)
      SELECT d.event_type,
        round(max(d.med), 6) AS med,
        round(max(t.mad), 6) AS mad,
        CAST(sum(CASE WHEN d.adev > t.mad * 3 * 1.4826 THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier
      FROM dev d JOIN madt t ON d.event_type = t.event_type
      GROUP BY d.event_type ORDER BY d.event_type"""))

  /** Count-Min Sketch surface (`count_min_sketch` aggregate, spark-sketch):
    * the mergeable point-frequency sketch that complements [[hllSketch]]
    * (distinct counts) and corpus_heavy_hitters (top-k): a KB-sized summary
    * answering "how often does item x occur?" with a one-sided guarantee —
    * estimate ≥ exact always, and estimate ≤ exact + eps·N with probability
    * `confidence`. Unlike HLL, CMS MERGE IS EXACT: same (eps, confidence,
    * seed) means identical counter arrays, and merging sums them element-
    * wise, so per-day partial sketches merged together equal the one-shot
    * sketch COUNTER FOR COUNTER — pinned here as `merged_equals_direct`.
    *
    * The heavy lifting (building per-day partials and the one-shot sketch)
    * is distributed map-side combine; only the finished ~50 KB sketch
    * binaries reach the driver, which is the sketch's PURPOSE at 100 TB —
    * ship a bounded summary of the table to the coordinator instead of the
    * table. The estimate readback happens there because Spark exposes no
    * `cms_estimate` SQL function (estimates need the query item at read
    * time, not aggregate time).
    *
    * Oracle: exact per-type counts are recomputed by DuckDB; the three
    * sketch-contract columns are stated as expected literals (DuckDB has no
    * CMS), same contract style as q_hll_sketch's merge_agrees.
    */
  val cmsSketch = Declared(
    "q_cms_sketch",
    (s, dir) => {
      import org.apache.spark.util.sketch.CountMinSketch
      val e = t(s, dir, "events")
      val (eps, conf, seed) = (0.001, 0.99, 42)
      val cms = count_min_sketch(col("event_type"), lit(eps), lit(conf), lit(seed))
      // per-day partials and the one-shot sketch: distributed folds; only
      // the finished sketch binaries (~50 KB each) leave the executors
      val partials = e.groupBy(to_date(col("ts")).as("d")).agg(cms.as("sk"))
        .collect().map(r => CountMinSketch.readFrom(r.getAs[Array[Byte]]("sk")))
      val merged = partials.reduce { (a, b) => a.mergeInPlace(b); a }
      val direct = CountMinSketch.readFrom(
        e.agg(cms.as("sk")).head().getAs[Array[Byte]]("sk"))
      val sameCounters = java.util.Arrays.equals(
        merged.toByteArray, direct.toByteArray)
      val bound = (eps * direct.totalCount()).toLong
      // exact counts: distributed; the readback joins estimates onto the
      // handful of distinct types driver-side (the coordinator already
      // holds the sketch — estimate needs the query item at read time)
      val report = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_cnt"))
        .collect()
        .map { r =>
          val (et, exact) = (r.getString(0), r.getLong(1))
          val est = direct.estimateCount(et)
          (et, exact, est >= exact, est - exact <= bound, sameCounters)
        }.toSeq
      import s.implicits._
      report.toDF(
        "event_type", "exact_cnt", "never_undercounts", "within_eps",
        "merged_equals_direct")
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS exact_cnt,
      true AS never_undercounts, true AS within_eps, true AS merged_equals_direct
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Incremental aggregate maintenance — the materialized-view pattern that
    * replaces full-history rescans at 100 TB: per-day PARTIAL aggregates
    * (count + sum are algebraic, so partials compose by summation) are kept
    * as the stored state; when the newest day arrives, only ITS rows are
    * folded and merged with the stored partials. Here the history partials
    * are localCheckpoint-materialized to stand in for the persisted MV (the
    * delta path genuinely never re-reads history rows), and the merge is a
    * union + re-aggregation — one tiny shuffle over (day × type) partial
    * rows, never over events. The history/delta cutoff (the max event day)
    * is itself carried as a broadcast scalar, not a driver collect.
    *
    * The oracle RECOMPUTES the full aggregate directly — a genuine equality
    * check that the merged-from-partials numbers match a from-scratch fold.
    */
  val incrementalAgg = Declared(
    "q_incremental_agg",
    (s, dir) => {
      val e = t(s, dir, "events").select(
        to_date(col("ts")).as("d"), col("event_type"), col("value"))
      val maxd = e.agg(max(col("d")).as("maxd"))
      val tagged = e.crossJoin(broadcast(maxd))
      val partialOf = (df: org.apache.spark.sql.DataFrame) =>
        df.groupBy(col("d"), col("event_type"))
          .agg(count(lit(1)).as("pc"), sum(col("value")).as("pv"))
      // stored MV state: one partial row per (day, type) for all closed days
      val history = partialOf(tagged.filter(col("d") < col("maxd"))).localCheckpoint()
      val delta = partialOf(tagged.filter(col("d") === col("maxd")))
      history.unionByName(delta)
        .groupBy(col("event_type"))
        .agg(
          sum(col("pc")).as("n_events"),
          round(sum(col("pv")), 2).as("total_value"),
          countDistinct(col("d")).as("n_days"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      round(sum(value), 2) AS total_value,
      CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Mergeable-histogram quantile sketch with MEASURED error — the sketch
    * you build yourself when per-partition summaries must merge across days
    * or shards (q_approx_bound checks Spark's built-in approx_percentile;
    * this constructs the summary explicitly): one pass folds the corpus
    * into a 256-bin equi-width count grid (O(bins) state, trivially
    * mergeable by addition — the property that matters at 100 TB), then
    * p50/p90/p99 interpolate inside the covering bin from exact longs.
    * The exact percentile is recomputed alongside (the expensive sort-based
    * truth a production run would skip) so the output IS the error report:
    * every estimate's abs/rel error is printed, not asserted away. The
    * cumulative walk is a window over the 256-row bin table — bounded by
    * construction, never over data.
    */
  val approxQuantile = Declared(
    "q_approx_quantile",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = t(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
      val bounds = v.agg(
        min(col("x")).as("lo"), max(col("x")).as("hi"),
        count(lit(1)).as("n")).localCheckpoint(true)
      val bins = v.crossJoin(broadcast(bounds))
        .select(least(lit(255), floor((col("x") - col("lo")) * 256.0 /
          (col("hi") - col("lo"))).cast("int")).as("b"),
          col("lo"), col("hi"), col("n"))
        .groupBy(col("b"), col("lo"), col("hi"), col("n"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.orderBy(col("b"))
      // O(bins) rows — checkpointed so the three per-p probes below read
      // this table instead of re-folding the corpus once per quantile
      val cum = bins
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("cum_before", col("cum") - col("cnt"))
        .localCheckpoint(true)
      val exact = v.agg(
        round(expr("percentile(x, 0.5)"), 4).as("e50"),
        round(expr("percentile(x, 0.9)"), 4).as("e90"),
        round(expr("percentile(x, 0.99)"), 4).as("e99"))
      val ps = Seq(0.5 -> "50", 0.9 -> "90", 0.99 -> "99")
      val est = ps.map { case (p, tag) =>
        cum.filter(col("cum") >= lit(p) * col("n"))
          .orderBy(col("b")).limit(1)
          .select(lit(p).as("p"),
            round(col("lo") + (col("hi") - col("lo")) / 256.0 *
              (col("b") + (lit(p) * col("n") - col("cum_before")) / col("cnt")),
              4).as("approx"),
            lit(tag).as("tag"))
      }.reduce(_ unionByName _)
      est.crossJoin(broadcast(exact))
        .select(col("p"), col("approx"),
          when(col("tag") === "50", col("e50"))
            .when(col("tag") === "90", col("e90"))
            .otherwise(col("e99")).as("exact"))
        .withColumn("abs_err", round(abs(col("approx") - col("exact")), 4))
        .withColumn("rel_err",
          round(abs(col("approx") - col("exact")) / col("exact"), 6))
        .orderBy(col("p"))
    },
    Some {
      val est = Seq("0.5", "0.9", "0.99").map { p =>
        s"""SELECT $p AS p, round(lo + (hi - lo) / 256.0 *
            (b + ($p * n - cum_before) / cnt), 4) AS approx
          FROM (SELECT * FROM cum WHERE cum >= $p * n ORDER BY b LIMIT 1)"""
      }.mkString("\n        UNION ALL ")
      s"""WITH v AS (SELECT l_extendedprice AS x FROM lineitem),
      bounds AS (
        SELECT min(x) AS lo, max(x) AS hi, CAST(count(*) AS BIGINT) AS n FROM v),
      bins AS (
        SELECT least(255, CAST(floor((x - lo) * 256.0 / (hi - lo)) AS INTEGER)) AS b,
          lo, hi, n, CAST(count(*) AS BIGINT) AS cnt
        FROM v, bounds GROUP BY 1, 2, 3, 4),
      cum AS (
        SELECT *, CAST(sum(cnt) OVER (ORDER BY b) AS BIGINT) AS cum,
          CAST(sum(cnt) OVER (ORDER BY b) - cnt AS BIGINT) AS cum_before
        FROM bins),
      exact AS (
        SELECT round(quantile_cont(x, 0.5), 4) AS e50,
          round(quantile_cont(x, 0.9), 4) AS e90,
          round(quantile_cont(x, 0.99), 4) AS e99
        FROM v),
      est AS (
        $est)
      SELECT p, approx,
        CASE WHEN p = 0.5 THEN e50 WHEN p = 0.9 THEN e90 ELSE e99 END AS exact,
        round(abs(approx - CASE WHEN p = 0.5 THEN e50 WHEN p = 0.9 THEN e90 ELSE e99 END), 4) AS abs_err,
        round(abs(approx - CASE WHEN p = 0.5 THEN e50 WHEN p = 0.9 THEN e90 ELSE e99 END)
          / (CASE WHEN p = 0.5 THEN e50 WHEN p = 0.9 THEN e90 ELSE e99 END), 6) AS rel_err
      FROM est, exact ORDER BY p"""
    })

  /** GROUPING()/grouping_id level attribution — the piece [[rollupQ]]'s
    * coalesce-to-'ALL' trick papers over: when a grouping column's REAL
    * values could include NULL, only the grouping function distinguishes
    * "aggregated away" from "genuinely null", and downstream consumers of
    * a cube (report layers, OLAP caches) key on the integer level id. Both
    * engines bit-pack the same way (first listed column = MSB, verified by
    * the declared result): level 0 = detail, 1 = priority folded, 2 =
    * status folded, 3 = grand total. Same Expand-based plan as q_cube —
    * the function costs nothing extra.
    */
  val groupingId = Declared(
    "q_grouping_id",
    (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).as("g_status"),
          grouping(col("o_orderpriority")).as("g_prio"),
          grouping_id().cast("long").as("level_id"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("g_status").cast("int").as("g_status"),
          col("g_prio").cast("int").as("g_prio"),
          col("level_id"), col("n"))
        .orderBy(col("level_id"), col("status"), col("prio")),
    Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
        coalesce(o_orderpriority, 'ALL') AS prio,
        CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
        CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS level_id,
        CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY level_id, status, prio"""))

  /** Linear-regression aggregates (regr_*). */
  val regr = Declared(
    "q_agg_regr",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("intercept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
          expr("regr_count(l_extendedprice, l_quantity)").as("n"),
          round(expr("regr_avgx(l_extendedprice, l_quantity)"), 4).as("avgx"),
          round(expr("regr_avgy(l_extendedprice, l_quantity)"), 4).as("avgy"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0 AS slope,
      round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0 AS intercept,
      round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
      CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
      round(regr_avgx(l_extendedprice, l_quantity), 4) AS avgx,
      round(regr_avgy(l_extendedprice, l_quantity), 4) AS avgy
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  val all: Seq[Declared] = Seq(
    stats, percentiles, collects, minmax, boolBit, countDistinctQ, modeMedian,
    approxBound, hllSketch, cmsSketch, incrementalAgg, rollupQ, cubeQ,
    groupingSets, multiDistinct, listAgg, histogram, moments, mad,
    approxQuantile, groupingId,
    regr)
}
