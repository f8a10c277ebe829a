package graft.queries

import graft.{Declared, Tables}
import graft.operators.AsOfJoin
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream batch queries: time bucketing (date_bin analog), JSON
  * extraction, sessionization (gaps-and-islands), as-of join, pivot.
  * All per-user-partitioned — bounded state per key at any scale.
  */
object EventsQ {
  import Tables.t

  /** date_bin: fixed 15-minute buckets (Spark `window`, DuckDB `time_bucket`). */
  val dateBin = Declared(
    "q_date_bin",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "15 minutes").getField("start").as("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .orderBy(col("bucket")),
    Some("""SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)) AS bucket,
      count(*) AS n, round(sum(value),2) AS total
      FROM events GROUP BY bucket ORDER BY bucket"""))

  /** JSON scalar extraction (Spark's real JSON path function; the oracle uses
    * a regexp equivalent to stay independent of DuckDB's json extension).
    */
  val jsonExtract = Declared(
    "q_json_extract",
    (s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .filter(col("k_val") >= 50)
        .orderBy(col("event_id")),
    Some("""SELECT event_id,
      CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k_val
      FROM events
      WHERE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) >= 50
      ORDER BY event_id"""))

  val hourly = Declared(
    "q_event_hourly",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(
          date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))
        .orderBy(col("h"), col("event_type")),
    Some("""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
      event_type, count(*) AS n, round(avg(value),4) AS avg_value
      FROM events GROUP BY h, event_type ORDER BY h, event_type"""))

  /** Sessionization with a 30-minute inactivity gap — classic
    * gaps-and-islands: flag gap>30min, running sum of flags = session id.
    * One shuffle on user_id; per-key window state is O(1).
    */
  /** Session table (user_id, session_seq, bounds, stats) — shared by the
    * sessionize query and the range join below.
    */
  def sessionsDf(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          col("ts").cast("timestamp").cast("double") -
            col("prev_ts").cast("timestamp").cast("double") > 1800.0).cast("long"))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        round(sum(col("value")), 2).as("session_value"))
  }

  /** Oracle CTEs of gaps-and-islands sessionization: `flagged` marks each
    * event that opens a session (its user's first, or one whose gap to the
    * previous event in seconds passes `gapTest`), and `numbered` carries
    * (user_id, ts, value, running session_seq). q_sessionize,
    * q_range_join and stream_sessionize split on `> 1800.0`;
    * q_session_window's exclusive window end splits on `>= 1800.0`. */
  def sessionCtes(gapTest: String): String =
    s"""WITH flagged AS (
        SELECT user_id, event_id, ts, value,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch(CAST(ts AS TIMESTAMP)) - epoch(CAST(lag(ts) OVER w AS TIMESTAMP)) $gapTest
               THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      numbered AS (
        SELECT user_id, ts, value,
          sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged)"""

  val sessionize = Declared(
    "q_sessionize",
    (s, dir) => sessionsDf(s, dir).orderBy(col("user_id"), col("session_seq")),
    Some(s"""${sessionCtes("> 1800.0")}
      SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        count(*) AS n_events,
        CAST(min(ts) AS TIMESTAMP) AS session_start,
        CAST(max(ts) AS TIMESTAMP) AS session_end,
        round(sum(value),2) AS session_value
      FROM numbered GROUP BY user_id, session_seq
      ORDER BY user_id, session_seq"""))

  /** Purchases as the as-of right side: one row per (user_id, ts), its
    * max event_id and max value (2 dp). */
  private def purchasesAt(ev: org.apache.spark.sql.DataFrame) =
    ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(
        max(col("event_id")).as("purchase_id"),
        round(max(col("value")), 2).as("purchase_value"))

  /** Oracle tail of the as-of queries: each event (e) backward-joined with
    * DuckDB's native ASOF to [[purchasesAt]]'s rows (p), by event_id. */
  private val asofPurchaseJoin = """FROM events e
      ASOF LEFT JOIN (
        SELECT user_id, ts, max(event_id) AS purchase_id,
               round(max(value),2) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        ON e.user_id = p.user_id AND e.ts >= p.ts
      ORDER BY e.event_id"""

  /** Backward as-of join: each event picks up the most recent (inclusive)
    * purchase by the same user. Purchases are pre-deduped to one row per
    * (user, ts) so the match is unique. Oracle uses DuckDB's native ASOF.
    */
  val asof = Declared(
    "q_asof_join",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = purchasesAt(ev)
      AsOfJoin.backward(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, key = "user_id", leftTs = "ts", rightTs = "ts",
        payload = Seq("purchase_id", "purchase_value"))
        .select(col("event_id"), col("user_id"), col("purchase_id"), col("purchase_value"))
        .orderBy(col("event_id"))
    },
    Some(s"""SELECT e.event_id, e.user_id, p.purchase_id, p.purchase_value
      $asofPurchaseJoin"""))

  /** As-of with max staleness: q_asof_join's backward match, but a prior
    * purchase older than 30 minutes is nulled out — pandas merge_asof's
    * `tolerance`, the freshness contract every feature-store lookup needs
    * (a day-old price is NOT the as-of price). Same union+window plan as
    * the plain backward as-of ([[AsOfJoin.backwardTolerance]] just rides
    * the matched timestamp through the payload and nulls stale rows
    * map-side), so tolerance costs nothing at any scale; the oracle is
    * DuckDB's native ASOF join with the same CASE guard.
    */
  val asofTolerance = Declared(
    "q_asof_tolerance",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = purchasesAt(ev)
      AsOfJoin.backwardTolerance(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, key = "user_id", leftTs = "ts", rightTs = "ts",
        payload = Seq("purchase_id", "purchase_value"),
        toleranceSeconds = 1800.0)
        .select(col("event_id"), col("user_id"), col("purchase_id"), col("purchase_value"))
        .orderBy(col("event_id"))
    },
    Some(s"""SELECT e.event_id, e.user_id,
        CASE WHEN p.ts >= e.ts - INTERVAL 30 MINUTE THEN p.purchase_id END AS purchase_id,
        CASE WHEN p.ts >= e.ts - INTERVAL 30 MINUTE THEN p.purchase_value END AS purchase_value
      $asofPurchaseJoin"""))

  /** PIVOT: per-user counts by event type (explicit value list keeps the
    * output schema static — required for a deterministic plan at scale).
    */
  val pivot = Declared(
    "q_event_pivot",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id")),
    Some("""SELECT user_id,
      count(*) FILTER (event_type = 'click') AS click,
      count(*) FILTER (event_type = 'error') AS error,
      count(*) FILTER (event_type = 'purchase') AS purchase,
      count(*) FILTER (event_type = 'signup') AS signup,
      count(*) FILTER (event_type = 'view') AS view
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Range (interval) join: each event matched to its containing session via
    * the binned equi-join strategy (operators.RangeJoin — no nested loop;
    * blow-up = interval/bin). Sessions are disjoint per user, so every event
    * lands in exactly one.
    */
  val rangeJoin = Declared(
    "q_range_join",
    (s, dir) => {
      val sessions = sessionsDf(s, dir)
        .select(col("user_id"), col("session_seq"),
          col("session_start"), col("session_end"))
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.RangeJoin.binned(
        ev, sessions, key = "user_id", leftPoint = "ts",
        rightStart = "session_start", rightEnd = "session_end",
        binSeconds = 3600L)
        .select(col("event_id"), col("user_id"), col("session_seq"))
        .orderBy(col("event_id"))
    },
    Some(s"""${sessionCtes("> 1800.0")},
      sessions AS (
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
          min(ts) AS s, max(ts) AS e
        FROM numbered GROUP BY user_id, session_seq)
      SELECT e.event_id, e.user_id, s.session_seq
      FROM events e JOIN sessions s
        ON e.user_id = s.user_id AND e.ts BETWEEN s.s AND s.e
      ORDER BY e.event_id"""))

  /** Time-series gap filling (dimension densification): the hourly timeline
    * is made DENSE — every (hour, event_type) cell exists, missing ones as
    * zero — by joining the sparse aggregate onto a generated spine
    * (sequence over the hour range × the type dimension). The spine sides
    * are one row and a handful of types, so the cross join is a broadcast
    * triviality; the left join back is an ordinary equi-shuffle. This is the
    * standard reporting/feature-store shape at any scale.
    */
  val gapFill = Declared(
    "q_gap_fill",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val hourly = ev
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val bounds = ev.agg(
        date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      val spine = bounds
        .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
        .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
      spine.join(hourly, Seq("h", "event_type"), "left")
        .select(
          col("h").cast("timestamp_ntz").as("h"),
          col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("h"), col("event_type"))
    },
    Some("""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type FROM events),
      hourly AS (
        SELECT CAST(date_trunc('hour', t) AS TIMESTAMP) AS h, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM e GROUP BY h, event_type),
      bounds AS (
        SELECT CAST(date_trunc('hour', min(t)) AS TIMESTAMP) AS lo,
               CAST(date_trunc('hour', max(t)) AS TIMESTAMP) AS hi FROM e),
      spine AS (
        SELECT h, event_type FROM
          (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds)
          CROSS JOIN (SELECT DISTINCT event_type FROM e))
      SELECT spine.h, spine.event_type, coalesce(hourly.n, CAST(0 AS BIGINT)) AS n
      FROM spine LEFT JOIN hourly
        ON spine.h = hourly.h AND spine.event_type = hourly.event_type
      ORDER BY spine.h, spine.event_type"""))

  /** Spark 4 VARIANT path: parse_json → VariantType → typed variant_get in
    * both a per-row filter and an aggregate. Variant is Spark 4's native
    * semi-structured type (binary-encoded, shredded access without
    * per-query string parsing); the oracle reads the same fields through
    * DuckDB's JSON extraction.
    */
  val variantAgg = Declared(
    "q_variant_agg",
    (s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"),
          sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_ge50"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type,
      CAST(count(*) AS BIGINT) AS n,
      CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
      CAST(max(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS max_k,
      CAST(sum(CASE WHEN json_extract(props, '$.k')::BIGINT >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge50
      FROM events
      WHERE json_extract(props, '$.k') IS NOT NULL
      GROUP BY event_type ORDER BY event_type"""))

  /** INTERVAL arithmetic on timestamps: shift, subtract, truncating diffs.
    * Pure per-row projection — stays inside whole-stage codegen. The fixture
    * timestamps are NTZ (Tables.t), matching DuckDB's TIMESTAMP.
    *
    * Diff semantics: Spark `timestampdiff` truncates ELAPSED time toward
    * zero; DuckDB `date_diff` counts BOUNDARY crossings. They agree here
    * because the anchor is aligned on the minute/hour boundary and every
    * fixture ts is >= the anchor; a pre-anchor timestamp would diverge
    * (Spark 0 vs DuckDB −1 inside the first minute).
    */
  val intervalArith = Declared(
    "q_interval_arith",
    (s, dir) =>
      t(s, dir, "events")
        .filter(col("event_id") < 2000)
        .select(
          col("event_id"),
          (col("ts") + expr("INTERVAL 3 HOURS")).as("plus3h"),
          (col("ts") - expr("INTERVAL 90 MINUTES")).as("minus90m"),
          (col("ts") + expr("INTERVAL 2 DAYS")).as("plus2d"),
          expr("timestampdiff(MINUTE, TIMESTAMP_NTZ'2024-01-01 00:00:00', ts)")
            .as("mins_since"),
          expr("timestampdiff(HOUR, TIMESTAMP_NTZ'2024-01-01 00:00:00', ts)")
            .as("hours_since"))
        .orderBy(col("event_id")),
    Some("""SELECT event_id,
      ts + INTERVAL 3 HOUR AS plus3h,
      ts - INTERVAL 90 MINUTE AS minus90m,
      ts + INTERVAL 2 DAY AS plus2d,
      date_diff('minute', TIMESTAMP '2024-01-01 00:00:00', ts) AS mins_since,
      date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS hours_since
      FROM events WHERE event_id < 2000 ORDER BY event_id"""))

  /** Native session windows: Spark's `session_window(ts, gap)` merges
    * per-key events whose [ts, ts+gap) windows overlap — the same islands
    * as the manual gaps-and-islands q_sessionize but planned as ONE
    * aggregate (SessionWindow + MergingSessionsExec lineage), no window
    * function pass. Boundary semantics differ from the manual version: the
    * window end is EXCLUSIVE, so a gap of exactly `gap` starts a NEW
    * session (the oracle uses >=, where q_sessionize's uses >), and
    * session_end = last event + gap rather than last event.
    */
  val sessionWindow = Declared(
    "q_session_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
        .select(
          col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start")),
    Some(s"""${sessionCtes(">= 1800.0")}
      SELECT user_id,
        CAST(min(ts) AS TIMESTAMP) AS session_start,
        CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS session_end,
        count(*) AS n_events,
        round(sum(value), 2) AS session_value
      FROM numbered GROUP BY user_id, session_seq
      ORDER BY user_id, session_start"""))

  /** Cohort retention — the classic event-analytics readout: users grouped
    * by their first-seen day, tracked for how many return k days later.
    * Two hash aggregates and one equi-join on user_id: the cohort table is
    * O(users) and joins back onto the event scan; at 100 TB the join
    * shuffles on user_id once and the (cohort, k) rollup is map-side
    * partial. Capped at k ≤ 14 to keep the readout a fixed-width cohort
    * triangle.
    */
  val retention = Declared(
    "events_retention",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val cohort = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
      ev.join(cohort, "user_id")
        .select(col("cohort_day"), datediff(col("d"), col("cohort_day")).as("k"))
        .filter(col("k") <= 14)
        .groupBy(col("cohort_day"), col("k"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_day"), col("k"))
    },
    Some("""WITH ev AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        FROM events),
      cohort AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id)
      SELECT c.cohort_day, CAST(date_diff('day', c.cohort_day, e.d) AS INTEGER) AS k,
        count(*) AS n_users
      FROM ev e JOIN cohort c ON e.user_id = c.user_id
      WHERE date_diff('day', c.cohort_day, e.d) <= 14
      GROUP BY c.cohort_day, k ORDER BY c.cohort_day, k"""))

  /** Hourly anomaly detection — flag the (event_type, hour) buckets whose
    * count sits more than 2 sigma from that type's hourly mean. The scan
    * folds to O(types × hours) in one hash aggregate, the per-type moments
    * fold again to O(types) and ride a broadcast back over the hourly
    * table — at 100 TB nothing after the first aggregate is large. The
    * z-score is derived from raw (sum, sum-of-squares, count) with explicit
    * multiplications so Spark and the oracle execute the identical IEEE
    * operation sequence — stddev_samp's Welford path would differ in the
    * last ulp and make round() a coin flip at boundaries.
    */
  val anomaly = Declared(
    "events_anomaly",
    (s, dir) => {
      val hourlyN = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val stats = hourlyN.groupBy(col("event_type")).agg(
        sum(col("n")).cast("double").as("sum_n"),
        sum(col("n") * col("n")).cast("double").as("sum_n2"),
        count(lit(1)).cast("double").as("cnt"))
      val mu = col("sum_n") / col("cnt")
      val ss = col("sum_n2") - col("cnt") * mu * mu
      val z = (col("n") - mu) / sqrt(ss / (col("cnt") - 1))
      hourlyN.join(broadcast(stats), "event_type")
        .filter(col("cnt") > 1 && ss > 0 && abs(z) > 2)
        .select(
          col("event_type"), col("h").cast("timestamp_ntz").as("h"),
          col("n"), round(z, 4).as("z"))
        .orderBy(col("event_type"), col("h"))
    },
    Some(s"""WITH $hourlyCountsCte,
      stats AS (
        SELECT event_type, CAST(sum(n) AS DOUBLE) AS sum_n,
          CAST(sum(n * n) AS DOUBLE) AS sum_n2,
          CAST(count(*) AS DOUBLE) AS cnt
        FROM hourly GROUP BY 1)
      SELECT h.event_type, h.h, h.n,
        round((h.n - s.sum_n / s.cnt) /
          sqrt((s.sum_n2 - s.cnt * (s.sum_n / s.cnt) * (s.sum_n / s.cnt))
            / (s.cnt - 1)), 4) AS z
      FROM hourly h JOIN stats s USING (event_type)
      WHERE s.cnt > 1
        AND (s.sum_n2 - s.cnt * (s.sum_n / s.cnt) * (s.sum_n / s.cnt)) > 0
        AND abs((h.n - s.sum_n / s.cnt) /
          sqrt((s.sum_n2 - s.cnt * (s.sum_n / s.cnt) * (s.sum_n / s.cnt))
            / (s.cnt - 1))) > 2
      ORDER BY h.event_type, h.h"""))

  /** Event-type transition matrix (first-order Markov counts): for each
    * user's time-ordered stream, count (this type → next type) steps and
    * each transition's share of its source type — the "what happens after
    * a click" behavioral readout. One lead() window over a user_id shuffle
    * (state per partition = one user's ordered events), then a hash
    * aggregate of O(types²) rows; the share is a second window over the
    * already-aggregated 25-row matrix, partitioned by from_type so no
    * single-reducer sort exists. Share = n/total computed as one double
    * division of two exact longs — identical IEEE result in both engines.
    */
  val transitions = Declared(
    "events_transitions",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val byFrom = org.apache.spark.sql.expressions.Window
        .partitionBy(col("from_type"))
      t(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(
          col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share",
          round(col("n").cast("double") / sum(col("n")).over(byFrom), 6))
        .orderBy(col("from_type"), col("to_type"))
    },
    Some("""WITH steps AS (
        SELECT event_type AS from_type,
          lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS to_type
        FROM events),
      m AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM steps WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
      SELECT from_type, to_type, n,
        round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6)
          AS share
      FROM m ORDER BY from_type, to_type"""))

  /** Event-type co-occurrence (the market-basket/association readout): which
    * pairs of event types the same user performs, with support and lift.
    * The scale discipline is the PER-USER pair fan-out: distinct types per
    * user first (one hash aggregate — at most |type catalog| rows per user,
    * a constant), then the pair self-join runs co-partitioned on user_id
    * with `a < b` halving the pairs, so total work is Σ C(k_u, 2) with k_u
    * bounded by the catalog — never a cross join over users or events. Lift
    * divides by per-type user shares, which is a broadcast-sized dimension
    * (one row per event type).
    */
  val cooccurrence = Declared(
    "events_cooccurrence",
    (s, dir) => {
      val e = t(s, dir, "events")
      val userTypes = e.select(col("user_id"), col("event_type")).distinct()
      val nUsers = e.agg(countDistinct(col("user_id")).as("n_users"))
      val typeUsers = userTypes.groupBy(col("event_type"))
        .agg(count(lit(1)).as("t_users"))
      val a = userTypes.select(col("user_id"), col("event_type").as("a"))
      val b = userTypes.select(col("user_id"), col("event_type").as("b"))
      a.join(b, Seq("user_id")).filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("pair_users"))
        .join(broadcast(typeUsers.select(
          col("event_type").as("a"), col("t_users").as("a_users"))), Seq("a"))
        .join(broadcast(typeUsers.select(
          col("event_type").as("b"), col("t_users").as("b_users"))), Seq("b"))
        .crossJoin(broadcast(nUsers))
        .select(
          col("a"), col("b"), col("pair_users"),
          round(col("pair_users").cast("double") / col("n_users"), 6).as("support"),
          round(
            col("pair_users").cast("double") * col("n_users") /
              (col("a_users") * col("b_users")), 6).as("lift"))
        .orderBy(col("a"), col("b"))
    },
    Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      n AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users FROM events),
      tu AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS t_users
             FROM ut GROUP BY event_type),
      pairs AS (
        SELECT x.event_type AS a, y.event_type AS b,
          CAST(count(*) AS BIGINT) AS pair_users
        FROM ut x JOIN ut y ON x.user_id = y.user_id AND x.event_type < y.event_type
        GROUP BY 1, 2)
      SELECT a, b, pair_users,
        round(pair_users / n.n_users, 6) AS support,
        round(pair_users * n.n_users / (ta.t_users * tb.t_users), 6) AS lift
      FROM pairs CROSS JOIN n
      JOIN tu ta ON ta.event_type = pairs.a
      JOIN tu tb ON tb.event_type = pairs.b
      ORDER BY a, b"""))

  /** Last-touch conversion attribution: each purchase is credited to the
    * most recent PRECEDING event of any other type by the same user — the
    * classic marketing-funnel readout. One per-user window pass computes the
    * carry-forward last non-purchase touch (`last(..., ignoreNulls)` over an
    * unbounded-preceding-to-previous-row frame — no self-join, no per-user
    * explode), then a tiny aggregate turns credited purchases into per-touch
    * counts and shares. Purchases with no prior touch credit 'direct'.
    */
  val attribution = Declared(
    "events_attribution",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val credited = t(s, dir, "events")
        .withColumn("touch",
          last(
            when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(coalesce(col("touch"), lit("direct")).as("touch"))
      val perTouch = credited.groupBy(col("touch"))
        .agg(count(lit(1)).as("n_purchases"))
      // total as a broadcast scalar, not a global window (one-reducer shape)
      perTouch
        .crossJoin(broadcast(credited.agg(count(lit(1)).as("total"))))
        .select(
          col("touch"), col("n_purchases"),
          round(col("n_purchases").cast("double") / col("total"), 6).as("share"))
        .orderBy(col("touch"))
    },
    Some("""WITH credited AS (
        SELECT coalesce(
            last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
              IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            'direct') AS touch, event_type
        FROM events)
      SELECT touch, CAST(count(*) AS BIGINT) AS n_purchases,
        round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6) AS share
      FROM credited WHERE event_type = 'purchase'
      GROUP BY touch ORDER BY touch"""))

  /** The A/B split's one row of exact longs: users by variant
    * (user_id % 2) and converters (≥ 14 purchases) — n_a, x_a, n_b, x_b.
    * Shared by events_ab_test and events_power. */
  private def abWide(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "events")
      .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 14, 1L)
        .otherwise(0L).as("conv"))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("x_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("x_b"))

  /** DuckDB oracle CTEs of [[abWide]]: per_user, wide. */
  private def abWideCtes: String = """WITH per_user AS (
        SELECT user_id % 2 AS variant, user_id,
          CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
               THEN 1 ELSE 0 END AS conv
        FROM events GROUP BY 1, 2),
      wide AS (
        SELECT
          CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
          CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
        FROM per_user)"""

  /** A/B readout: two-proportion z-test between the experiment arms (variant
    * = user_id % 2, the standard deterministic assignment hash) on the
    * power-user conversion "≥14 purchase events". Two stacked hash aggregates
    * — per-(variant, user) purchase counts shuffle once on the user key, then
    * the four arm totals fold with map-side partial combine into ONE row —
    * and the z statistic is plain arithmetic over four exact longs, so the
    * whole significance test costs one shuffle of user-cardinality rows at
    * any event volume. Rates are exact ratios of longs; only the final
    * sqrt-bearing z is rounded (4 dp).
    */
  val abTest = Declared(
    "events_ab_test",
    (s, dir) => {
      val wide = abWide(s, dir)
      val pa = col("x_a").cast("double") / col("n_a")
      val pb = col("x_b").cast("double") / col("n_b")
      val pp = (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b"))
      wide.select(
        col("n_a"), col("x_a"), round(pa, 6).as("rate_a"),
        col("n_b"), col("x_b"), round(pb, 6).as("rate_b"),
        round((pa - pb) /
          sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))),
          4).as("z_score"))
    },
    Some(s"""$abWideCtes
      SELECT n_a, x_a, round(CAST(x_a AS DOUBLE) / n_a, 6) AS rate_a,
        n_b, x_b, round(CAST(x_b AS DOUBLE) / n_b, 6) AS rate_b,
        round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b) /
          sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
            * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
            * (1.0 / n_a + 1.0 / n_b)), 4) + 0.0 AS z_score
      FROM wide"""))

  /** Winsorization: clamp the value column to its per-type [P1, P99] band and
    * report the mean shift — the outlier-robust normalization a feature
    * pipeline applies before any scale-sensitive model. Two passes by
    * necessity (the cutoffs must exist before anything can clamp): pass one
    * folds exact percentiles per type, pass two re-scans with the ≤|types|
    * cutoff table BROADCAST back — so at 100 TB the operator costs one
    * percentile shuffle plus one map-side scan, never a sort of the fact
    * table. percentile ↔ quantile_cont is the established cross-engine pair
    * (q_agg_percentile); the clamp itself is exact double min/max.
    */
  val winsorize = Declared(
    "events_winsorize",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val cuts = ev.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.01)").as("p01"),
        expr("percentile(value, 0.99)").as("p99"))
      val wv = least(greatest(col("value"), col("p01")), col("p99"))
      ev.join(broadcast(cuts), "event_type")
        .groupBy(col("event_type"))
        .agg(
          round(min(col("p01")), 6).as("p01"),
          round(min(col("p99")), 6).as("p99"),
          sum(when(col("value") < col("p01") || col("value") > col("p99"), 1L)
            .otherwise(0L)).as("n_clipped"),
          round(avg(col("value")), 6).as("mean_raw"),
          round(avg(wv), 6).as("mean_wins"))
        .orderBy(col("event_type"))
    },
    Some("""WITH cuts AS (
        SELECT event_type,
          quantile_cont(value, 0.01) AS p01,
          quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY 1)
      SELECT event_type,
        round(min(p01), 6) AS p01,
        round(min(p99), 6) AS p99,
        CAST(sum(CASE WHEN value < p01 OR value > p99 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clipped,
        round(avg(value), 6) AS mean_raw,
        round(avg(least(greatest(value, p01), p99)), 6) AS mean_wins
      FROM events JOIN cuts USING (event_type)
      GROUP BY event_type ORDER BY event_type"""))

  /** Forecast backtest: one-step-ahead 3-hour moving-average prediction of
    * hourly event volume, scored by MAE per type — the honest "how
    * predictable is this stream" readout behind capacity planning and
    * anomaly thresholds. The fact table folds to O(types × hours) FIRST
    * (one hash aggregate with map-side combine); the trailing-frame window
    * and the error fold then run over that tiny series, so the backtest
    * costs one fact shuffle at any event volume. Rows lacking three prior
    * hours are excluded by a frame-count guard, not silently predicted
    * from a short window.
    */
  val forecastSma = Declared(
    "events_forecast_sma",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val frame = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(-3, -1)
      hourly
        .withColumn("pred", avg(col("n").cast("double")).over(frame))
        .withColumn("nprev", count(lit(1)).over(frame))
        .filter(col("nprev") === 3)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_hours"),
          round(avg(abs(col("n") - col("pred"))), 4).as("mae"),
          round(avg(col("pred")), 4).as("mean_pred"),
          round(avg(col("n").cast("double")), 4).as("mean_actual"))
        .orderBy(col("event_type"))
    },
    Some("""WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      fc AS (
        SELECT event_type, n,
          avg(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pred,
          count(*) OVER (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS nprev
        FROM hourly)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        round(avg(abs(n - pred)), 4) AS mae,
        round(avg(pred), 4) AS mean_pred,
        round(avg(CAST(n AS DOUBLE)), 4) AS mean_actual
      FROM fc WHERE nprev = 3
      GROUP BY event_type ORDER BY event_type"""))

  /** Per event type, its hourly event counts as `series`, an array of
    * (h, n) structs sorted by hour. Gaps are absent, not zero. */
  private def hourlySeries(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("h"), col("n")))).as("series"))

  /** Oracle CTE of hourly event counts per type, (event_type, h, n), read
    * by events_anomaly, events_autocorr, events_holt and
    * events_forecast_backtest. */
  private def hourlyCountsCte: String = """hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2)"""

  /** Holt's step as a Spark SQL lambda over packed longs:
    * s = packed (l, b), e = packed (x, 0); l' = (x+l+b)>>1, b' = (l'-l+b)>>1.
    * The level sits in the high 32 bits, the trend offset by 2³¹ in the low. */
  private val holtFold =
    """(s, e) -> ((shiftright((shiftright(e, 32)) + (shiftright(s, 32))
      |  + ((s & 4294967295L) - 2147483648L), 1)) * 4294967296L)
      |  + (shiftright((shiftright((shiftright(e, 32)) + (shiftright(s, 32))
      |      + ((s & 4294967295L) - 2147483648L), 1)) - (shiftright(s, 32))
      |      + ((s & 4294967295L) - 2147483648L), 1) + 2147483648L)"""
      .stripMargin.replace("\n", " ")

  /** EWMA level tracking per event type — the exponentially-weighted
    * counterpart of [[forecastSma]]'s flat moving average: the smoother
    * every ops/monitoring stack actually runs (recent hours dominate, old
    * history decays geometrically). An EWMA is an inherently SEQUENTIAL
    * recurrence (s' = (1−α)s + αx), which a window function cannot express
    * without a per-row power term in floats; instead each type's hourly
    * series folds through ONE higher-order-function `aggregate` lambda in
    * exact scaled integers — s' = (3s + x) div 4 on micro-units (α = 1/4) —
    * so both engines execute the identical left fold (DuckDB `list_reduce`
    * seeds with the first element; the Spark fold slices to match) and no
    * float accumulation order exists anywhere.
    *
    * Scale shape: the event scan folds to O(types × hours) rows in one hash
    * aggregate ([[anomaly]]'s discipline); each type's series is
    * calendar-bounded (8.8k hours/year regardless of event volume), so the
    * collect_list + fold is per-GROUP bounded work inside a distributed
    * aggregate — never a driver loop, never a single-reducer sort. The
    * spike flag compares the last hour against twice the EWMA of its
    * prefix — both exact longs, so the boolean cannot split the engines.
    * Gaps are skipped, not zero-filled (the [[autocorr]] irregular-series
    * treatment); counts are non-negative so integer `div` ≡ `//`.
    */
  val ewma = Declared(
    "events_ewma",
    (s, dir) => {
      val fold = "(s, x) -> (3L * s + x) div 4L"
      hourlySeries(s, dir)
        .select(col("event_type"),
          expr("transform(series, p -> p.n * 1000000L)").as("arr"))
        .select(
          col("event_type"),
          size(col("arr")).as("n_hours"),
          expr("element_at(arr, -1) div 1000000L").as("last_n"),
          expr(s"aggregate(slice(arr, 2, greatest(size(arr) - 1, 0)), element_at(arr, 1), $fold)")
            .as("ewma_micro"),
          expr(s"aggregate(slice(slice(arr, 1, greatest(size(arr) - 1, 1)), 2, greatest(size(arr) - 2, 0)), element_at(arr, 1), $fold)")
            .as("prev_micro"))
        .select(
          col("event_type"), col("n_hours"), col("last_n"), col("ewma_micro"),
          abs(col("last_n") * 1000000L - col("prev_micro")).as("dev_micro"),
          (col("last_n") * 1000000L > col("prev_micro") * 2L).as("spike"))
        .orderBy(col("event_type"))
    },
    Some("""WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      series AS (
        SELECT event_type, list(n * 1000000 ORDER BY h) AS arr
        FROM hourly GROUP BY event_type),
      folded AS (
        SELECT event_type,
          CAST(len(arr) AS INTEGER) AS n_hours,
          CAST(arr[-1] // 1000000 AS BIGINT) AS last_n,
          CAST(list_reduce(arr, (s, x) -> (3 * s + x) // 4) AS BIGINT) AS ewma_micro,
          CAST(list_reduce(arr[1:greatest(len(arr) - 1, 1)],
            (s, x) -> (3 * s + x) // 4) AS BIGINT) AS prev_micro
        FROM series)
      SELECT event_type, n_hours, last_n, ewma_micro,
        CAST(abs(last_n * 1000000 - prev_micro) AS BIGINT) AS dev_micro,
        (last_n * 1000000 > prev_micro * 2) AS spike
      FROM folded ORDER BY event_type"""))

  /** RFM segmentation (recency / frequency / monetary): each purchasing user
    * scored 1–5 on all three axes against the population's exact quintile
    * cutoffs, rolled up to segment cells. The scalable shape deliberately
    * avoids the textbook global ntile (a single-reducer sort of every user):
    * users fold once on user_id, the twelve quintile cutoffs fold to ONE
    * broadcast row, and scoring is then map-side arithmetic — the winsorize
    * pattern applied to segmentation, two shuffles total at any event
    * volume. Recency is scored inverted (recent = 5); per-user monetary is
    * rounded before the cutoff fold so both engines quantile identical
    * inputs.
    */
  val rfm = Declared(
    "events_rfm",
    (s, dir) => {
      // localCheckpoint: perUser feeds BOTH the cutoff fold and the scoring
      // pass, and the two consumers' plans don't exchange-reuse — without it
      // the events scan + user fold runs twice (seen in the executed plan).
      // The materialized set is one row per purchasing user, the table a
      // production pipeline would persist anyway.
      val perUser = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(
          datediff(expr("date'2024-01-31'"), max(col("ts")).cast("date")).as("rec_days"),
          count(lit(1)).as("freq"),
          round(sum(col("value")), 2).as("mon"))
        .localCheckpoint()
      val q = (c: String, p: Double) => expr(s"percentile(CAST($c AS DOUBLE), $p)")
      val cuts = perUser.agg(
        q("rec_days", 0.2).as("r20"), q("rec_days", 0.4).as("r40"),
        q("rec_days", 0.6).as("r60"), q("rec_days", 0.8).as("r80"),
        q("freq", 0.2).as("f20"), q("freq", 0.4).as("f40"),
        q("freq", 0.6).as("f60"), q("freq", 0.8).as("f80"),
        q("mon", 0.2).as("m20"), q("mon", 0.4).as("m40"),
        q("mon", 0.6).as("m60"), q("mon", 0.8).as("m80"))
      def steps(c: String, cuts: Seq[String]): org.apache.spark.sql.Column =
        cuts.map(ct => (col(c) >= col(ct)).cast("int")).reduce(_ + _)
      perUser.crossJoin(broadcast(cuts))
        .select(
          col("rec_days"), col("freq"), col("mon"),
          (lit(5) - steps("rec_days", Seq("r20", "r40", "r60", "r80"))).as("r_score"),
          (lit(1) + steps("freq", Seq("f20", "f40", "f60", "f80"))).as("f_score"),
          (lit(1) + steps("mon", Seq("m20", "m40", "m60", "m80"))).as("m_score"))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(
          count(lit(1)).as("n_users"),
          round(avg(col("rec_days").cast("double")), 4).as("avg_rec"),
          round(avg(col("freq").cast("double")), 4).as("avg_freq"),
          round(avg(col("mon")), 4).as("avg_mon"))
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
    },
    Some("""WITH per_user AS (
        SELECT user_id,
          date_diff('day', CAST(max(ts) AS DATE), DATE '2024-01-31') AS rec_days,
          CAST(count(*) AS BIGINT) AS freq,
          round(sum(value), 2) AS mon
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      cuts AS (
        SELECT
          quantile_cont(CAST(rec_days AS DOUBLE), 0.2) AS r20,
          quantile_cont(CAST(rec_days AS DOUBLE), 0.4) AS r40,
          quantile_cont(CAST(rec_days AS DOUBLE), 0.6) AS r60,
          quantile_cont(CAST(rec_days AS DOUBLE), 0.8) AS r80,
          quantile_cont(CAST(freq AS DOUBLE), 0.2) AS f20,
          quantile_cont(CAST(freq AS DOUBLE), 0.4) AS f40,
          quantile_cont(CAST(freq AS DOUBLE), 0.6) AS f60,
          quantile_cont(CAST(freq AS DOUBLE), 0.8) AS f80,
          quantile_cont(CAST(mon AS DOUBLE), 0.2) AS m20,
          quantile_cont(CAST(mon AS DOUBLE), 0.4) AS m40,
          quantile_cont(CAST(mon AS DOUBLE), 0.6) AS m60,
          quantile_cont(CAST(mon AS DOUBLE), 0.8) AS m80
        FROM per_user),
      scored AS (
        SELECT rec_days, freq, mon,
          5 - ((rec_days >= r20)::INT + (rec_days >= r40)::INT
             + (rec_days >= r60)::INT + (rec_days >= r80)::INT) AS r_score,
          1 + (freq >= f20)::INT + (freq >= f40)::INT
            + (freq >= f60)::INT + (freq >= f80)::INT AS f_score,
          1 + (mon >= m20)::INT + (mon >= m40)::INT
            + (mon >= m60)::INT + (mon >= m80)::INT AS m_score
        FROM per_user CROSS JOIN cuts)
      SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_users,
        round(avg(CAST(rec_days AS DOUBLE)), 4) AS avg_rec,
        round(avg(CAST(freq AS DOUBLE)), 4) AS avg_freq,
        round(avg(mon), 4) AS avg_mon
      FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** Gap interpolation: densify the per-type hourly series over the full
    * calendar spine (the q_gap_fill shape) and LINEARLY interpolate the
    * missing buckets between their nearest observed neighbors — the
    * time-series repair step upstream of any model that assumes a regular
    * grid. The neighbor search is two running windows (last/first with
    * ignoreNulls), not a self-join: state per (type) partition is one value
    * + one index in each direction, and the series the windows run over is
    * the O(types × hours) FOLD of the fact table, never the events
    * themselves. Edge gaps (before the first / after the last observation)
    * fall back to nearest-value extension. The whole interpolation runs in
    * exact integer MICRO-UNITS (the graph_pagerank discipline): a float
    * formula rounds half-way values differently across engines at tie
    * boundaries (one row of the first cut proved it), while
    * (pm·(nh−hi) + nm·(hi−ph)) div (nh−ph) is a single integer everywhere.
    */
  val interpolate = Declared(
    "events_interpolate",
    (s, dir) => {
      // ONE fact scan: the hourly fold is checkpointed (O(types × hours)
      // rows) and the spine's type list and bounds both derive from it —
      // without this the events table is scanned three times (hourly +
      // types + bounds branches, seen in the executed plan)
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(floor(avg(col("value")) * 1e6 + 0.5).cast("long").as("v"))
        .localCheckpoint()
      val bounds = hourly.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val types = hourly.select(col("event_type")).distinct()
      // cast to timestamp_ntz: sequence() resolves its bounds through the
      // session tz, and a session-tz `h` in the result is the exact
      // schema-drift class TimestampNtzAuditSpec pins (q_gap_fill, r4)
      val spine = types.crossJoin(broadcast(bounds))
        .select(col("event_type"), explode(expr("sequence(h0, h1, interval 1 hour)")).as("h_raw"))
        .select(col("event_type"), col("h_raw").cast("timestamp_ntz").as("h"))
      val joined = spine.join(hourly, Seq("event_type", "h"), "left")
        .withColumn("hi",
          expr("timestampdiff(HOUR, timestamp_ntz'2024-01-01 00:00:00', h)"))
      val wPrev = Window.partitionBy(col("event_type")).orderBy(col("hi"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the next known value is the previous one in descending `hi` order
      // (`hi` is unique per type): a running frame, linear per type, where
      // first() over (current row, unbounded following) re-aggregates the
      // whole tail for every row
      val wNext = Window.partitionBy(col("event_type")).orderBy(col("hi").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      joined
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("ph", last(when(col("v").isNotNull, col("hi")), ignoreNulls = true).over(wPrev))
        .withColumn("nv", last(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("nh", last(when(col("v").isNotNull, col("hi")), ignoreNulls = true).over(wNext))
        .select(
          col("event_type"), col("h"), col("v").isNull.as("was_missing"),
          when(col("v").isNotNull, col("v"))
            // Spark `div` truncates toward zero; DuckDB `//` floors. The
            // denominator nh - ph is always positive (next-known hour index
            // strictly after prev-known), so exact integer FLOOR division is
            // trunc minus one when the remainder is negative — matching `//`
            // for negative metric series too, not just the fixture's
            // positive values.
            .when(col("pv").isNotNull && col("nv").isNotNull,
              expr("""(pv * (nh - hi) + nv * (hi - ph)) div (nh - ph)
                      - (CASE WHEN (pv * (nh - hi) + nv * (hi - ph)) % (nh - ph) < 0
                         THEN 1 ELSE 0 END)"""))
            .when(col("pv").isNotNull, col("pv"))
            .otherwise(col("nv")).as("v_micro"))
        .orderBy(col("event_type"), col("h"))
    },
    Some("""WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
          CAST(floor(avg(value) * 1000000 + 0.5) AS BIGINT) AS v
        FROM events GROUP BY 1, 2),
      bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
      spine AS (
        SELECT t.event_type, g.h
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                    FROM bounds) g),
      joined AS (
        SELECT s.event_type, s.h,
          date_diff('hour', TIMESTAMP '2024-01-01', s.h) AS hi, v
        FROM spine s LEFT JOIN hourly USING (event_type, h)),
      ctx AS (
        SELECT event_type, h, hi, v,
          last_value(v IGNORE NULLS) OVER w_prev AS pv,
          last_value(CASE WHEN v IS NOT NULL THEN hi END IGNORE NULLS) OVER w_prev AS ph,
          first_value(v IGNORE NULLS) OVER w_next AS nv,
          first_value(CASE WHEN v IS NOT NULL THEN hi END IGNORE NULLS) OVER w_next AS nh
        FROM joined
        WINDOW
          w_prev AS (PARTITION BY event_type ORDER BY hi
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_next AS (PARTITION BY event_type ORDER BY hi
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT event_type, h, (v IS NULL) AS was_missing,
        CASE
          WHEN v IS NOT NULL THEN v
          WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN (pv * (nh - hi) + nv * (hi - ph)) // (nh - ph)
          WHEN pv IS NOT NULL THEN pv ELSE nv END AS v_micro
      FROM ctx ORDER BY event_type, h"""))

  /** Bot-likeness by inter-event regularity: humans arrive with bursty,
    * high-variance gaps; schedulers and scrapers tick — so the coefficient
    * of variation of a user's inter-event gaps is the classic web-data bot
    * signal, and the 10 most regular high-activity users are the review
    * queue this query emits. One lag window per user (state = one previous
    * timestamp per key) folds to exact integer second-gaps, per-user
    * (n, Σd, Σd²) stay exact longs, and cv derives from those sums in one
    * fixed IEEE sequence — no online variance whose fold order could
    * diverge; the top-10 is a TakeOrderedAndProject.
    */
  val botDetection = Declared(
    "events_bot_detection",
    (s, dir) => {
      val us = expr("unix_micros(CAST(ts AS TIMESTAMP))")
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), us.as("t_us"))
        .withColumn("d", expr("(t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY ts, event_id)) div 1000000"))
        .filter(col("d").isNotNull)
      val st = gaps.groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("d")).as("s1"),
          sum(col("d") * col("d")).as("s2"))
        .filter(col("n") >= 20)
      val mean = col("s1").cast("double") / col("n")
      // Perfectly regular gaps (the bot case itself) make s2 - s1²/n cancel
      // to ~0; once s1² passes 2^53 the cancellation can land epsilon-negative
      // and sqrt would NaN. Clamp at 0 on BOTH engines (GREATEST in the
      // oracle) so the exact-zero-variance bot never diverges.
      val variance = greatest(
        (col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("n")) /
          (col("n") - 1),
        lit(0.0))
      st.select(
          col("user_id"), col("n").as("n_gaps"),
          round(mean, 2).as("mean_gap_s"),
          round(sqrt(variance) / mean, 4).as("cv"))
        .orderBy(col("cv"), col("user_id"))
        .limit(10)
    },
    Some("""WITH g AS (
        SELECT user_id,
          (epoch_us(ts) - lag(epoch_us(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS d
        FROM events),
      st AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(d) AS BIGINT) AS s1, CAST(sum(d * d) AS BIGINT) AS s2
        FROM g WHERE d IS NOT NULL GROUP BY 1 HAVING count(*) >= 20)
      SELECT user_id, n AS n_gaps,
        round(CAST(s1 AS DOUBLE) / n, 2) AS mean_gap_s,
        round(sqrt(GREATEST(
            (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1), 0.0))
          / (CAST(s1 AS DOUBLE) / n), 4) AS cv
      FROM st ORDER BY cv, user_id LIMIT 10"""))

  /** Survival curve for repeat purchase: the fraction of purchasers still
    * WITHOUT a second purchase after d days, for d = 0..30 — the
    * time-to-repeat readout behind churn and re-engagement decisions
    * (events_retention's cohort triangle answers "who came back on day k";
    * this answers "how long until they convert again"). Per-user first two
    * purchase timestamps fold in one window + one aggregate (user-bounded
    * state), the 31-day spine broadcasts over that per-user table, and the
    * curve is a 31-row hash aggregate — never a cumulative window over an
    * unbounded series. Users with no second purchase survive every day
    * (right-censored at the fixture horizon; the scaladoc's honesty note:
    * a production KM estimator would censor at each user's observation
    * end, which this 30-day fixed window makes equivalent).
    */
  val survival = Declared(
    "events_survival",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gaps = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .groupBy(col("user_id"))
        .agg(datediff(
          max(when(col("rn") === 2, col("ts"))).cast("date"),
          max(when(col("rn") === 1, col("ts"))).cast("date")).as("gap_days"))
      val spine = s.range(0, 31).select(col("id").cast("int").as("day"))
      val survives = col("gap_days").isNull || col("gap_days") > col("day")
      gaps.crossJoin(broadcast(spine))
        .groupBy(col("day"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(when(survives, 1L).otherwise(0L)).as("n_surviving"),
          round(avg(when(survives, 1.0).otherwise(0.0)), 4).as("surviving_frac"))
        .orderBy(col("day"))
    },
    Some("""WITH p AS (
        SELECT user_id, ts,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'),
      gaps AS (
        SELECT user_id,
          date_diff('day',
            CAST(max(CASE WHEN rn = 1 THEN ts END) AS DATE),
            CAST(max(CASE WHEN rn = 2 THEN ts END) AS DATE)) AS gap_days
        FROM p WHERE rn <= 2 GROUP BY user_id),
      spine AS (SELECT CAST(unnest(range(0, 31)) AS INTEGER) AS day)
      SELECT day, CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(CASE WHEN gap_days IS NULL OR gap_days > day THEN 1 ELSE 0 END) AS BIGINT)
          AS n_surviving,
        round(avg(CASE WHEN gap_days IS NULL OR gap_days > day THEN 1.0 ELSE 0.0 END), 4)
          AS surviving_frac
      FROM gaps CROSS JOIN spine
      GROUP BY day ORDER BY day"""))

  /** Hour-of-week seasonality profile — per event type, the top-3 busiest
    * (day-of-week, hour) buckets and their share of the type's traffic: the
    * readout behind load forecasting and "is this bot traffic diurnal"
    * checks. Day-of-week computed from epoch days ((d+4) % 7, 0 = Sunday;
    * 1970-01-01 was a Thursday) — NOT the engines' dayofweek() functions,
    * whose numbering conventions differ (Spark 1=Sunday, DuckDB 0=Sunday).
    * One fold to O(types × 168) rows, ranking windows over that tiny
    * aggregate, all-integer until the final share division of two exact
    * longs.
    */
  val seasonality = Declared(
    "events_seasonality",
    (s, dir) => {
      val byType = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      val rkWin = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("n").desc, col("dow"), col("hour"))
      t(s, dir, "events")
        .select(col("event_type"),
          ((datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) + 4) % 7)
            .as("dow"),
          hour(col("ts")).as("hour"))
        .groupBy(col("event_type"), col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(byType))
        .withColumn("rk", row_number().over(rkWin))
        .filter(col("rk") <= 3)
        .select(col("event_type"), col("rk"), col("dow"), col("hour"), col("n"),
          round(col("n").cast("double") / col("total"), 6).as("share"))
        .orderBy(col("event_type"), col("rk"))
    },
    Some("""WITH b AS (
        SELECT event_type,
          (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7 AS dow,
          hour(ts) AS hour, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3),
      r AS (
        SELECT event_type, dow, hour, n,
          sum(n) OVER (PARTITION BY event_type) AS total,
          row_number() OVER (PARTITION BY event_type
            ORDER BY n DESC, dow, hour) AS rk
        FROM b)
      SELECT event_type, CAST(rk AS INTEGER) AS rk, CAST(dow AS INTEGER) AS dow,
        CAST(hour AS INTEGER) AS hour, n,
        round(CAST(n AS DOUBLE) / total, 6) AS share
      FROM r WHERE rk <= 3 ORDER BY event_type, rk"""))

  /** Sequential-pattern mining (the PrefixSpan-lite readout): the most
    * common CONTIGUOUS 3-event paths users take, with user support — the
    * next step past [[transitions]]' 2-grams, and the behavioral signature
    * a funnel designer or a bot-filter both read. Two `lead`s over the same
    * per-user (ts, event_id)-total-ordered window fold each event into its
    * forward triple in ONE window pass (bounded per-key state, co-partitioned
    * on user_id — never a self-join); the triple catalog is bounded by
    * |types|³ so the count aggregate combines map-side, user support rides
    * the same aggregate as a count-distinct, and the top-15 is a
    * TakeOrderedAndProject — no global sort at any scale.
    */
  val sequenceMining = Declared(
    "events_sequence_mining",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val e = t(s, dir, "events")
      val nUsers = e.agg(countDistinct(col("user_id")).as("n_users"))
      e.withColumn("b", lead(col("event_type"), 1).over(w))
        .withColumn("c", lead(col("event_type"), 2).over(w))
        .filter(col("c").isNotNull)
        .groupBy(col("event_type").as("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("support_users"))
        .crossJoin(broadcast(nUsers))
        .select(col("a"), col("b"), col("c"), col("n"), col("support_users"),
          round(col("support_users").cast("double") / col("n_users"), 6)
            .as("support"))
        .orderBy(col("support_users").desc, col("n").desc,
          col("a"), col("b"), col("c"))
        .limit(15)
    },
    Some("""WITH triples AS (
        SELECT user_id, event_type AS a,
          lead(event_type, 1) OVER w AS b,
          lead(event_type, 2) OVER w AS c
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
      m AS (
        SELECT a, b, c, CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT user_id) AS BIGINT) AS support_users
        FROM triples WHERE c IS NOT NULL GROUP BY a, b, c)
      SELECT a, b, c, n, support_users,
        round(CAST(support_users AS DOUBLE) / n.n_users, 6) AS support
      FROM m CROSS JOIN n
      ORDER BY support_users DESC, n DESC, a, b, c LIMIT 15"""))

  /** Events per (event_type, calendar day d) as `n`. */
  private def dailyCounts(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))

  /** CUSUM changepoint detection per event type — "when did this metric's
    * level shift?" (a deploy, an outage, a bot wave): the day where the
    * cumulative deviation of daily counts from the per-type mean peaks.
    * The CUSUM statistic runs in EXACT integer arithmetic — scaling by
    * n_days turns Σ(n_i − total/n_days) into n_days·cum_n − idx·total, all
    * longs — so there is no float accumulation to diverge between engines.
    * One O(types × days) daily fold, then three windows sharing the same
    * per-type partitioning (one exchange, Catalyst reuses it), and the
    * argmax is a per-type top-1 window — never a global sort. State is
    * bounded by the calendar, not the event count.
    */
  val changepoint = Declared(
    "events_changepoint",
    (s, dir) => {
      val daily = dailyCounts(s, dir)
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val wAll = Window.partitionBy(col("event_type"))
      val cum = daily
        .withColumn("idx", row_number().over(wOrd).cast("long"))
        .withColumn("cum_n", sum(col("n")).over(wOrd))
        .withColumn("total", sum(col("n")).over(wAll))
        .withColumn("n_days", count(lit(1)).over(wAll))
        .withColumn("s",
          col("n_days") * col("cum_n") - col("idx") * col("total"))
      val wPick = Window.partitionBy(col("event_type"))
        .orderBy(abs(col("s")).desc, col("d"))
      cum.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("d").as("changepoint_day"),
          col("s").as("cusum_scaled"),
          round(col("s").cast("double") / col("n_days"), 4).as("cusum"),
          col("n_days"))
        .orderBy(col("event_type"))
    },
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      c AS (
        SELECT event_type, d, n,
          CAST(row_number() OVER w AS BIGINT) AS idx,
          CAST(sum(n) OVER w AS BIGINT) AS cum_n,
          CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total,
          CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      s AS (
        SELECT *, n_days * cum_n - idx * total AS s FROM c),
      r AS (
        SELECT *, row_number() OVER (
          PARTITION BY event_type ORDER BY abs(s) DESC, d) AS rn
        FROM s)
      SELECT event_type, d AS changepoint_day, CAST(s AS BIGINT) AS cusum_scaled,
        round(CAST(s AS DOUBLE) / n_days, 4) + 0.0 AS cusum, n_days
      FROM r WHERE rn = 1 ORDER BY event_type"""))

  /** STL-lite decomposition — seasonal-strength per event type (Cleveland's
    * trend/seasonal/residual split, reduced to the one statistic an anomaly
    * pipeline keys on: 1 − var(residual)/var(detrended)): trend is a
    * centered 7-day moving sum over the daily fold (interior days only, so
    * the window always holds exactly 7 rows and detrended = 7n − Σwin is an
    * EXACT long — no division until the readout); the day-of-week seasonal
    * mean stays rational (det·cnt_dow − Σ_dow over 7·cnt_dow) and converts
    * to milli-longs in one deterministic round — provably tie-free: the
    * denominators 21/28 are incommensurate with halves — so both variances
    * fold from exact integer sums. Day-of-week is epoch-day mod 7 (both
    * engines agree; the named dayofweek() functions do NOT share an origin).
    * O(types × days) state throughout; milli scaling documented: daily
    * counts up to ~10⁶ keep the squared sums inside a long — normalize
    * counts first beyond that.
    */
  val stlDecompose = Declared(
    "events_stl_decompose",
    (s, dir) => {
      val daily = dailyCounts(s, dir)
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val wAll = Window.partitionBy(col("event_type"))
      val det = daily
        .withColumn("sum_win", sum(col("n")).over(wOrd.rowsBetween(-3, 3)))
        .withColumn("cnt_win", count(lit(1)).over(wOrd.rowsBetween(-3, 3)))
        .filter(col("cnt_win") === 7)
        .withColumn("det7", col("n") * 7L - col("sum_win"))
        .withColumn("dow", datediff(col("d"), lit("1970-01-01")) % 7)
      val dowMeans = det.groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("cnt_dow"), sum(col("det7")).as("sum_dow"))
      det.join(dowMeans, Seq("event_type", "dow"))
        .withColumn("det_milli",
          round(col("det7") * 1000.0 / 7.0).cast("long"))
        .withColumn("res_milli",
          round((col("det7") * col("cnt_dow") - col("sum_dow")) * 1000.0 /
            (lit(7.0) * col("cnt_dow"))).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("det_milli")).as("sd"),
          sum(col("det_milli") * col("det_milli")).as("ssd"),
          sum(col("res_milli")).as("sr"),
          sum(col("res_milli") * col("res_milli")).as("ssr"))
        .select(col("event_type"), col("n_days"),
          round((col("n_days") * col("ssd") - col("sd") * col("sd"))
            .cast("double") / (col("n_days") * col("n_days")) / 1e6, 4)
            .as("var_detrended"),
          round(greatest(lit(0.0), lit(1.0) -
            (col("n_days") * col("ssr") - col("sr") * col("sr")).cast("double") /
              greatest((col("n_days") * col("ssd") - col("sd") * col("sd"))
                .cast("double"), lit(1.0))), 4).as("seasonal_strength"))
        .orderBy(col("event_type"))
    },
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      win AS (
        SELECT event_type, d, n,
          CAST(sum(n) OVER w AS BIGINT) AS sum_win,
          CAST(count(*) OVER w AS BIGINT) AS cnt_win
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      det AS (
        SELECT event_type, d, n * 7 - sum_win AS det7,
          (d - DATE '1970-01-01') % 7 AS dow
        FROM win WHERE cnt_win = 7),
      dm AS (
        SELECT event_type, dow, CAST(count(*) AS BIGINT) AS cnt_dow,
          CAST(sum(det7) AS BIGINT) AS sum_dow
        FROM det GROUP BY 1, 2),
      scored AS (
        SELECT det.event_type,
          CAST(round(det7 * 1000.0 / 7.0) AS BIGINT) AS det_milli,
          CAST(round((det7 * cnt_dow - sum_dow) * 1000.0 / (7.0 * cnt_dow))
            AS BIGINT) AS res_milli
        FROM det JOIN dm USING (event_type, dow)),
      agg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(det_milli) AS BIGINT) AS sd,
          CAST(sum(det_milli * det_milli) AS BIGINT) AS ssd,
          CAST(sum(res_milli) AS BIGINT) AS sr,
          CAST(sum(res_milli * res_milli) AS BIGINT) AS ssr
        FROM scored GROUP BY event_type)
      SELECT event_type, n_days,
        round(CAST(n_days * ssd - sd * sd AS DOUBLE) / (n_days * n_days) / 1e6, 4)
          AS var_detrended,
        round(greatest(0.0, 1.0 - CAST(n_days * ssr - sr * sr AS DOUBLE) /
          greatest(CAST(n_days * ssd - sd * sd AS DOUBLE), 1.0)), 4)
          AS seasonal_strength
      FROM agg ORDER BY event_type"""))

  /** Interval–interval OVERLAP join (q_range_join covers point-in-interval;
    * this joins two interval SETS — "which user activity windows overlapped
    * an error burst", the incident-attribution query): user-day activity
    * intervals [first event, last event] against error-burst hours (hours
    * with ≥ 3 errors, half-open [h, h+1)). The scale discipline is
    * BUCKETING, the standard interval-join decomposition: each activity
    * interval explodes to its covered hour buckets (≤ 24 per day — bounded
    * fan-out), bursts sit in exactly their own bucket, the join is a plain
    * equi-join on the bucket, and the exact overlap predicate then dedups
    * the candidates — never an unbounded theta join. The oracle IS the
    * naive theta join, so the decomposition's exactness (superset +
    * filter ≡ overlap) is hash-checked.
    */
  val intervalOverlap = Declared(
    "q_interval_overlap_join",
    (s, dir) => {
      val e = t(s, dir, "events")
      val act = e.groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(min(col("ts")).as("a_start"), max(col("ts")).as("a_end"))
      val bursts = e.filter(col("event_type") === "error")
        .groupBy(date_trunc("hour", col("ts")).as("b_start"))
        .agg(count(lit(1)).as("nb")).filter(col("nb") >= 3)
        .select(col("b_start"),
          (col("b_start") + expr("INTERVAL 1 HOUR")).as("b_end"))
      val aBuck = act.select(col("user_id"), col("a_start"), col("a_end"),
        explode(expr(
          "sequence(date_trunc('hour', a_start), date_trunc('hour', a_end), INTERVAL 1 HOUR)"))
          .as("h"))
      val cand = aBuck.join(bursts.withColumn("h", col("b_start")), "h")
        .filter(col("a_start") < col("b_end") && col("a_end") >= col("b_start"))
        .select(col("user_id"), col("a_start"), col("b_start")).distinct()
      cand.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          countDistinct(col("b_start")).as("n_bursts"),
          // UTC-pinned session ⇒ the NTZ cast is value-preserving (the
          // fixture timestamp convention; CI bans session-tz outputs)
          expr("CAST(min(b_start) AS TIMESTAMP_NTZ)").as("first_burst"))
        .orderBy(col("user_id"))
    },
    Some("""WITH act AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
          min(ts) AS a_start, max(ts) AS a_end
        FROM events GROUP BY 1, 2),
      bursts AS (
        SELECT date_trunc('hour', ts) AS b_start,
          date_trunc('hour', ts) + INTERVAL 1 HOUR AS b_end
        FROM events WHERE event_type = 'error'
        GROUP BY 1 HAVING count(*) >= 3),
      pairs AS (
        SELECT DISTINCT a.user_id, a.a_start, b.b_start
        FROM act a JOIN bursts b
          ON a.a_start < b.b_end AND a.a_end >= b.b_start)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_overlaps,
        CAST(count(DISTINCT b_start) AS BIGINT) AS n_bursts,
        min(b_start) AS first_burst
      FROM pairs GROUP BY user_id ORDER BY user_id"""))

  /** Incident extraction + MTTR — the ops readout built on
    * [[intervalOverlap]]'s burst definition: hours whose error count
    * exceeds 2× the average hourly error rate (a broadcast scalar, so the
    * threshold adapts to scale instead of hard-coding a count) merge into
    * INCIDENTS via gaps-and-islands (island key = hour − row_number hours,
    * one ordered window over the tiny burst-hour table), and each incident
    * reports its span and peak. This is sessionization's exact shape on the
    * monitoring domain — the state is O(burst hours), never O(events) —
    * and the mean-time-to-recovery the pager report quotes is one aggregate
    * over the incident table.
    */
  val mttr = Declared(
    "events_mttr",
    (s, dir) => {
      val hourly = t(s, dir, "events")
        .filter(col("event_type") === "error")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      val thr = hourly.agg((sum(col("n")) * 2.0 / count(lit(1))).as("thr"))
      val bursts = hourly.crossJoin(broadcast(thr))
        .filter(col("n") > col("thr"))
      val w = Window.orderBy(col("h"))
      bursts
        .withColumn("island",
          col("h") - expr("make_interval(0, 0, 0, 0, CAST(row_number() OVER (ORDER BY h) AS INT), 0, 0)"))
        .groupBy(col("island"))
        .agg(
          // UTC-pinned session ⇒ NTZ casts are value-preserving (fixture
          // timestamp convention; CI bans session-tz outputs)
          expr("CAST(min(h) AS TIMESTAMP_NTZ)").as("start_hour"),
          expr("CAST(max(h) AS TIMESTAMP_NTZ)").as("end_hour"),
          count(lit(1)).as("n_hours"),
          max(col("n")).as("peak_errors"))
        .drop("island")
        .orderBy(col("start_hour"))
    },
    Some("""WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
        FROM events WHERE event_type = 'error' GROUP BY 1),
      thr AS (SELECT sum(n) * 2.0 / count(*) AS thr FROM hourly),
      bursts AS (
        SELECT h, n FROM hourly CROSS JOIN thr WHERE n > thr.thr),
      isl AS (
        SELECT h, n,
          h - to_hours(row_number() OVER (ORDER BY h)) AS island
        FROM bursts)
      SELECT min(h) AS start_hour, max(h) AS end_hour,
        CAST(count(*) AS BIGINT) AS n_hours,
        CAST(max(n) AS BIGINT) AS peak_errors
      FROM isl GROUP BY island ORDER BY start_hour"""))

  /** Lagged autocorrelation of hourly event volume — the periodicity
    * DETECTOR upstream of [[seasonality]]'s profile and [[forecastSma]]'s
    * horizon choice: per event type, the Pearson correlation between the
    * hourly series and itself shifted by 24 h (daily rhythm) and 168 h
    * (weekly rhythm). A strong r_24 says hour-of-day features/windows are
    * the right model; r≈0 says the volume is memoryless at that lag.
    *
    * Scale shape: the fact table folds ONCE to the O(types × hours) hourly
    * grid; each lag is then an equi-join of that tiny series against its
    * exact timestamp shift (never a window over a dense spine — missing
    * hours simply pair nowhere, the standard irregular-series treatment),
    * and each (type, lag) folds to one row of exact integer sums
    * (n, Σx, Σy, Σxy, Σx², Σy²). r is computed from those longs in one
    * fixed IEEE sequence — n·Σxy−Σx·Σy over sqrt of the two matching
    * variance terms — so no floating accumulation order exists anywhere;
    * degenerate lags (either side constant) emit NULL rather than a 0/0.
    */
  val autocorr = Declared(
    "events_autocorr",
    (s, dir) => {
      val hourlyN = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // O(types × hours); joined against itself per lag
      val lagged = Seq(24, 168).map { lag =>
        hourlyN.select(col("event_type"), col("h"), col("n").as("x"))
          .join(hourlyN.select(col("event_type"),
            (col("h") - expr(s"INTERVAL $lag HOURS")).as("h"),
            col("n").as("y")), Seq("event_type", "h"))
          .withColumn("lag_hours", lit(lag))
      }.reduce(_ union _)
      lagged.groupBy(col("event_type"), col("lag_hours"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("lag_hours"), col("n_pairs"),
          round(
            (col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt(nullif(
                (col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double") *
                  (col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double"),
                lit(0.0))),
            6).as("r"))
        .orderBy(col("event_type"), col("lag_hours"))
    },
    Some(s"""WITH $hourlyCountsCte,
      lagged AS (
        SELECT a.event_type, CAST(24 AS INT) AS lag_hours, a.n AS x, b.n AS y
        FROM hourly a JOIN hourly b
          ON a.event_type = b.event_type AND a.h = b.h - INTERVAL 24 HOURS
        UNION ALL
        SELECT a.event_type, CAST(168 AS INT) AS lag_hours, a.n AS x, b.n AS y
        FROM hourly a JOIN hourly b
          ON a.event_type = b.event_type AND a.h = b.h - INTERVAL 168 HOURS),
      sums AS (
        SELECT event_type, lag_hours, CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * y) AS BIGINT) AS sxy,
          CAST(sum(x * x) AS BIGINT) AS sxx,
          CAST(sum(y * y) AS BIGINT) AS syy
        FROM lagged GROUP BY 1, 2)
      SELECT event_type, lag_hours, n_pairs,
        round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
          sqrt(nullif(CAST(n_pairs * sxx - sx * sx AS DOUBLE) *
            CAST(n_pairs * syy - sy * sy AS DOUBLE), 0.0)), 6) + 0.0 AS r
      FROM sums ORDER BY event_type, lag_hours"""))

  /** CUPED variance reduction (Deng et al. 2013) — the follow-up [[abTest]]
    * needs in practice: the experiment's outcome metric (post-period
    * purchases per user) is adjusted by each user's PRE-period covariate
    * (total events before the split date), removing the between-user
    * variance the covariate explains. θ = cov(x, y)/var(x) is fitted pooled
    * (the covariate predates the treatment, so pooling is unbiased), the
    * adjusted arm difference is diff_raw − θ·(x̄_a − x̄_b) (the x̄_all
    * terms cancel), and ρ² is the variance fraction removed — the readout
    * that says how much smaller the experiment could have been.
    *
    * Scale shape: one per-user conditional fold (x, y per user in a single
    * hash aggregate over the fact scan), then ONE global aggregate folds
    * every moment and both arms' sums into a single row — two shuffles at
    * any event volume, the [[abTest]] discipline. Determinism: all sums are
    * exact longs; θ, the means, and ρ² are computed from those longs in one
    * fixed IEEE sequence mirrored operand-for-operand in the oracle (ρ²'s
    * numerator squares in double — the long square would overflow).
    */
  val cuped = Declared(
    "events_cuped",
    (s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
        .agg(
          sum(when(expr("ts < TIMESTAMP '2024-01-16 00:00:00'"), 1L)
            .otherwise(0L)).as("x"),
          sum(when(expr("ts >= TIMESTAMP '2024-01-16 00:00:00'") &&
            col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val wide = perUser.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("x")).otherwise(0L)).as("sxa"),
        sum(when(col("variant") === 0, col("y")).otherwise(0L)).as("sya"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("x")).otherwise(0L)).as("sxb"),
        sum(when(col("variant") === 1, col("y")).otherwise(0L)).as("syb"))
      val covNum = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val varX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val varY = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      val theta = covNum / varX
      val diffRaw = col("sya").cast("double") / col("n_a") -
        col("syb").cast("double") / col("n_b")
      val diffX = col("sxa").cast("double") / col("n_a") -
        col("sxb").cast("double") / col("n_b")
      wide.select(
        col("n_a"), col("n_b"),
        round(diffRaw, 6).as("diff_raw"),
        round(theta, 6).as("theta"),
        round(diffRaw - theta * diffX, 6).as("diff_cuped"),
        round(covNum * covNum / (varX * varY), 6).as("rho2"))
    },
    Some("""WITH per_user AS (
        SELECT user_id % 2 AS variant, user_id,
          CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
            THEN 1 ELSE 0 END) AS BIGINT) AS x,
          CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
            AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      wide AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          CAST(sum(x * y) AS BIGINT) AS sxy,
          CAST(sum(x * x) AS BIGINT) AS sxx,
          CAST(sum(y * y) AS BIGINT) AS syy,
          CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sxa,
          CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sya,
          CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
          CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sxb,
          CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS syb
        FROM per_user)
      SELECT n_a, n_b,
        round(CAST(sya AS DOUBLE) / n_a - CAST(syb AS DOUBLE) / n_b, 6) + 0.0
          AS diff_raw,
        round(CAST(n * sxy - sx * sy AS DOUBLE) /
          CAST(n * sxx - sx * sx AS DOUBLE), 6) + 0.0 AS theta,
        round((CAST(sya AS DOUBLE) / n_a - CAST(syb AS DOUBLE) / n_b) -
          (CAST(n * sxy - sx * sy AS DOUBLE) /
            CAST(n * sxx - sx * sx AS DOUBLE)) *
          (CAST(sxa AS DOUBLE) / n_a - CAST(sxb AS DOUBLE) / n_b), 6) + 0.0
          AS diff_cuped,
        round(CAST(n * sxy - sx * sy AS DOUBLE) *
          CAST(n * sxy - sx * sy AS DOUBLE) /
          (CAST(n * sxx - sx * sx AS DOUBLE) *
            CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho2
      FROM wide"""))

  /** OHLC bar resampling — the finance-style open/high/low/close roll-up of
    * the event value series per (type, hour), the standard reduction that
    * turns a raw tick stream into chartable/modellable bars. Open/close are
    * POSITIONAL (first/last value by time), which is where distributed
    * determinism usually leaks; here they ride two STACKED hash aggregates:
    * the first folds each exact timestamp to its (event_id-tiebroken) first
    * and last value via min_by/max_by — so duplicate timestamps resolve
    * deterministically — and the second picks per-hour open/close by
    * timestamp via min_by/max_by again (arg_min/arg_max in the oracle).
    * No window pass, no sort of the fact table, exact double pass-through
    * (values are selected, never summed). High/low/n ride the same folds.
    */
  val ohlc = Declared(
    "events_ohlc",
    (s, dir) => {
      val byTs = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          col("ts"))
        .agg(
          min_by(col("value"), col("event_id")).as("vf"),
          max_by(col("value"), col("event_id")).as("vl"),
          max(col("value")).as("hi"), min(col("value")).as("lo"),
          count(lit(1)).as("n"))
      byTs.groupBy(col("event_type"), col("h"))
        .agg(
          min_by(col("vf"), col("ts")).as("open"),
          max(col("hi")).as("high"), min(col("lo")).as("low"),
          max_by(col("vl"), col("ts")).as("close"),
          sum(col("n")).as("n_events"))
        .select(col("event_type"), col("h").cast("timestamp_ntz").as("h"),
          col("open"), col("high"), col("low"), col("close"), col("n_events"))
        .orderBy(col("event_type"), col("h"))
    },
    Some("""WITH by_ts AS (
        SELECT event_type, date_trunc('hour', ts) AS h, ts,
          arg_min(value, event_id) AS vf, arg_max(value, event_id) AS vl,
          max(value) AS hi, min(value) AS lo,
          CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3)
      SELECT event_type, h,
        arg_min(vf, ts) AS open, max(hi) AS high, min(lo) AS low,
        arg_max(vl, ts) AS close, CAST(sum(n) AS BIGINT) AS n_events
      FROM by_ts GROUP BY 1, 2
      ORDER BY event_type, h"""))

  /** Experiment power analysis — the design readout [[abTest]] and
    * [[cuped]] feed into: from the observed arm sizes and pooled conversion
    * rate, (a) the minimum detectable absolute effect at 80% power / 5%
    * two-sided α with the CURRENT sample, and (b) the per-arm sample size a
    * 2-point absolute lift would require — the "how long must this test
    * run" number. Same two-stacked-aggregate fold as abTest (per-user
    * conversion, then one row of exact longs); the z quantiles are literal
    * constants (1.959964, 0.841621 — never an engine's inverse-normal), so
    * every double op is one fixed IEEE sequence over exact integers.
    */
  val power = Declared(
    "events_power",
    (s, dir) => {
      val wide = abWide(s, dir)
      // z_{0.975} + z_{0.80} pre-summed as ONE literal (2.801585): an
      // engine-side double ADDITION of the two quantiles could differ in
      // the last ulp from the parsed sum; a single decimal→double literal
      // conversion cannot
      val zsum = lit(2.801585)
      val pp = (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b"))
      wide.select(
        col("n_a"), col("n_b"),
        round(pp, 6).as("pooled_rate"),
        round(zsum * sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6).as("mde_abs"),
        expr("""CAST(ceil(CAST(2.801585 AS DOUBLE) * CAST(2.801585 AS DOUBLE) *
          CAST(2.0 AS DOUBLE) * (CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
          (CAST(1.0 AS DOUBLE) - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) /
          CAST(0.0004 AS DOUBLE)) AS BIGINT)""")
          .as("n_req_per_arm"))
    },
    Some(s"""$abWideCtes
      SELECT n_a, n_b,
        round(CAST(x_a + x_b AS DOUBLE) / (n_a + n_b), 6) AS pooled_rate,
        round(CAST(2.801585 AS DOUBLE) *
          sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
            (CAST(1.0 AS DOUBLE) - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
            (CAST(1.0 AS DOUBLE) / n_a + CAST(1.0 AS DOUBLE) / n_b)), 6)
          AS mde_abs,
        CAST(ceil(CAST(2.801585 AS DOUBLE) * CAST(2.801585 AS DOUBLE) *
          CAST(2.0 AS DOUBLE) * (CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
          (CAST(1.0 AS DOUBLE) - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) /
          CAST(0.0004 AS DOUBLE)) AS BIGINT) AS n_req_per_arm
      FROM wide"""))

  /** DAU/MAU stickiness — the engagement ratio every consumer product
    * reports: per calendar day, distinct daily actives over distinct
    * trailing-30-day actives. Exact distinct counting over a sliding window
    * is the trap (a naive distinct-over-range re-scans the fact table per
    * day); the scale shape folds events ONCE to the (user, day) grid, then
    * each user-day contributes itself to the ≤30 future report days whose
    * MAU window contains it — a calendar-bounded explode of the FOLDED
    * table (30×|user-days|, never touching raw events again) — and one
    * distinct aggregate per report day closes it. Report days are the
    * observed days (no spine padding), so both engines enumerate the same
    * rows; stickiness is one double division of two exact longs.
    */
  val stickiness = Declared(
    "events_stickiness",
    (s, dir) => {
      val userDays = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .localCheckpoint() // O(users × days); consumed by DAU and MAU
      // userDays is distinct on (user_id, day): a plain count of non-NULL
      // user_ids is the distinct count
      val dau = userDays.groupBy(col("day").as("d"))
        .agg(count(col("user_id")).as("dau"))
      // the final join with dau keeps only the observed report days
      val mau = userDays
        .select(col("user_id"),
          explode(expr("sequence(day, date_add(day, 29))")).as("d"))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("mau"))
      dau.join(mau, "d")
        .select(col("d"), col("dau"), col("mau"),
          round(col("dau").cast("double") / col("mau"), 6).as("stickiness"))
        .orderBy(col("d"))
    },
    Some("""WITH user_days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      dau AS (
        SELECT day AS d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM user_days GROUP BY 1),
      spread AS (
        SELECT u.user_id, CAST(unnest(generate_series(u.day, u.day + 29,
          INTERVAL 1 DAY)) AS DATE) AS d
        FROM user_days u),
      mau AS (
        SELECT s.d, CAST(count(DISTINCT s.user_id) AS BIGINT) AS mau
        FROM spread s JOIN dau ON s.d = dau.d GROUP BY 1)
      SELECT d, dau.dau, mau.mau,
        round(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
      FROM dau JOIN mau USING (d) ORDER BY d"""))

  /** Linear multi-touch attribution — the equal-credit counterpart to
    * [[attribution]]'s last-touch model: each purchase splits one unit of
    * credit equally across the purchase-preceding touches by TYPE. The
    * per-purchase state is NOT the touch list (that join is quadratic in
    * user activity) but the per-type running counts: five conditional
    * running sums share ONE user-keyed window pass, and at each purchase
    * the type's credit is `(1e9·cnt_type) div cnt_total` — integer
    * nano-units, so the final per-type fold sums exact longs. Purchases
    * with no preceding touch credit 'direct'. Shares are each purchase's
    * exact rational; Σ credit ≈ purchases × 1e9 (off only by per-purchase
    * div truncation, spec-bounded).
    */
  val attributionLinear = Declared(
    "events_attribution_linear",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touchTypes = Seq("click", "error", "signup", "view")
      val counted = t(s, dir, "events")
        .select(Seq(col("user_id"), col("ts"), col("event_id"), col("event_type")) ++
          touchTypes.map(tt =>
            // empty preceding frame (a user's first event) sums to NULL
            coalesce(
              sum(when(col("event_type") === tt, 1L).otherwise(0L)).over(w),
              lit(0L)).as(s"c_$tt")): _*)
        .filter(col("event_type") === "purchase")
        .withColumn("c_total", touchTypes.map(tt => col(s"c_$tt")).reduce(_ + _))
      val credits = touchTypes.map { tt =>
        counted.select(lit(tt).as("touch"),
          when(col("c_total") > 0,
            expr(s"(1000000000L * c_$tt) div c_total")).otherwise(0L).as("credit"))
      }.reduce(_ unionByName _)
        .unionByName(counted.select(lit("direct").as("touch"),
          when(col("c_total") === 0, 1000000000L).otherwise(0L).as("credit")))
      credits.groupBy(col("touch"))
        .agg(sum(col("credit")).as("credit_nano"),
          sum(when(col("credit") > 0, 1L).otherwise(0L)).as("n_purchases_credited"))
        .orderBy(col("touch"))
    },
    Some("""WITH counted AS (
        SELECT event_type,
          sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            OVER w - CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c_click,
          sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            OVER w - CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS c_error,
          sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
            OVER w - CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS c_signup,
          sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            OVER w - CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS c_view
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      purchases AS (
        SELECT c_click, c_error, c_signup, c_view,
          c_click + c_error + c_signup + c_view AS c_total
        FROM counted WHERE event_type = 'purchase'),
      credits AS (
        SELECT 'click' AS touch, CASE WHEN c_total > 0
          THEN (1000000000 * c_click) // c_total ELSE 0 END AS credit FROM purchases
        UNION ALL
        SELECT 'error', CASE WHEN c_total > 0
          THEN (1000000000 * c_error) // c_total ELSE 0 END FROM purchases
        UNION ALL
        SELECT 'signup', CASE WHEN c_total > 0
          THEN (1000000000 * c_signup) // c_total ELSE 0 END FROM purchases
        UNION ALL
        SELECT 'view', CASE WHEN c_total > 0
          THEN (1000000000 * c_view) // c_total ELSE 0 END FROM purchases
        UNION ALL
        SELECT 'direct', CASE WHEN c_total = 0 THEN 1000000000 ELSE 0 END
        FROM purchases)
      SELECT touch, CAST(sum(credit) AS BIGINT) AS credit_nano,
        CAST(sum(CASE WHEN credit > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_purchases_credited
      FROM credits GROUP BY touch ORDER BY touch"""))

  /** Cohort lifetime-value curves — the growth-analytics readout every
    * subscription/commerce pipeline maintains: users are cohorted by their
    * FIRST-SEEN day, and each cohort's cumulative purchase revenue per
    * member is tracked across account age. The fixture's events span one
    * month, so the cohort grain is the day (a production run would cohort
    * by week/month — one `date_trunc` swap).
    *
    * Shapes, all keyed: first-seen is a per-user min fold; the cohort join
    * back onto the event scan is on user_id (the key the fold already
    * shuffled on); the (cohort, age) rollup is one hash aggregate whose
    * output is O(days²/2) rows regardless of corpus size; and the
    * cumulative sum is a window over that TINY rollup, partitioned by
    * cohort — never a window over raw events. Revenue folds in exact
    * micro-unit longs (one round per event, summed exactly — the
    * established cross-engine float discipline), and the per-member LTV is
    * integer division by the cohort's member count (values non-negative,
    * so trunc ≡ floor on both engines). Ages with zero cohort activity
    * emit no row (the curve is over OBSERVED ages; gap-filling is
    * [[gapFill]]'s job and composes).
    */
  val cohortLtv = Declared(
    "events_cohort_ltv",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"),
          when(col("event_type") === "purchase",
            expr("CAST(round(value * 1e6) AS BIGINT)"))
            .otherwise(0L).as("rev_micro"))
      val firstDay = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
      val cohortSize = firstDay.groupBy(col("cohort"))
        .agg(count(lit(1)).as("cohort_users"))
      val daily = ev.join(firstDay, "user_id")
        .groupBy(col("cohort"),
          datediff(col("d"), col("cohort")).cast("long").as("age"))
        .agg(count_distinct(col("user_id")).as("n_active"),
          sum(col("rev_micro")).as("rev_micro"))
      daily.join(cohortSize, "cohort")
        .withColumn("cum_rev_micro",
          sum(col("rev_micro")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("cohort")).orderBy(col("age"))))
        .select(col("cohort"), col("age"), col("n_active"),
          col("cohort_users"), col("cum_rev_micro"),
          expr("cum_rev_micro div cohort_users").as("ltv_micro"))
        .orderBy(col("cohort"), col("age"))
    },
    Some("""WITH ev AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
          CASE WHEN event_type = 'purchase'
               THEN CAST(round(value * 1e6) AS BIGINT) ELSE 0 END AS rev_micro
        FROM events),
      fd AS (SELECT user_id, min(d) AS cohort FROM ev GROUP BY user_id),
      csize AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
        FROM fd GROUP BY cohort),
      daily AS (
        SELECT f.cohort, CAST(date_diff('day', f.cohort, e.d) AS BIGINT) AS age,
          CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
          CAST(sum(e.rev_micro) AS BIGINT) AS rev_micro
        FROM ev e JOIN fd f ON e.user_id = f.user_id
        GROUP BY 1, 2),
      curved AS (
        SELECT d.cohort, d.age, d.n_active, s.cohort_users,
          CAST(sum(d.rev_micro) OVER (
            PARTITION BY d.cohort ORDER BY d.age) AS BIGINT) AS cum_rev_micro
        FROM daily d JOIN csize s ON d.cohort = s.cohort)
      SELECT cohort, age, n_active, cohort_users, cum_rev_micro,
        cum_rev_micro // cohort_users AS ltv_micro
      FROM curved ORDER BY cohort, age"""))

  /** Point-in-time feature backfill — the leakage-free feature-store
    * materialization every training pipeline runs: at each PURCHASE event,
    * the user's trailing-window activity counts/spend as they stood
    * strictly BEFORE that instant (frames end at `−1 s`, so same-second
    * peers and the labeled event itself are excluded — the lookahead-leak
    * the split_temporal family guards against, enforced here per row).
    *
    * Scale shapes: ONE shuffle on user_id serves every feature — both
    * range frames (1 d, 7 d) share the partitioning/ordering, so Catalyst
    * stacks them in window passes over the same exchange; bounded-preceding
    * RANGE frames evaluate incrementally (sliding two pointers per
    * partition, never O(rows × frame)); the purchase filter runs AFTER the
    * windows (features must see all event types) but the frame state is
    * O(window span) per user regardless. Spend folds in exact micro-unit
    * longs; empty frames are coalesced to 0 on both engines.
    */
  val featureBackfill = Declared(
    "events_feature_backfill",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("sec"),
          expr("CAST(round(value * 1e6) AS BIGINT)").as("v_micro"))
      val base = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      val w7 = base.rangeBetween(-604800L, -1L)
      val w1 = base.rangeBetween(-86400L, -1L)
      val isP = (col("event_type") === "purchase").cast("long")
      ev
        .withColumn("n_events_7d", count(lit(1)).over(w7))
        .withColumn("n_purch_7d", coalesce(sum(isP).over(w7), lit(0L)))
        .withColumn("spend_7d_micro",
          coalesce(sum(when(col("event_type") === "purchase", col("v_micro"))
            .otherwise(0L)).over(w7), lit(0L)))
        .withColumn("n_events_1d", count(lit(1)).over(w1))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("sec"), col("v_micro"),
          col("n_events_7d"), col("n_purch_7d"), col("spend_7d_micro"),
          col("n_events_1d"))
        .orderBy(col("user_id"), col("sec"), col("event_id"))
    },
    Some("""WITH ev AS (
        SELECT event_id, user_id, event_type,
          CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT) AS sec,
          CAST(round(value * 1e6) AS BIGINT) AS v_micro
        FROM events),
      feat AS (
        SELECT event_id, user_id, event_type, sec, v_micro,
          CAST(count(*) OVER w7 AS BIGINT) AS n_events_7d,
          CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
            ELSE 0 END) OVER w7, 0) AS BIGINT) AS n_purch_7d,
          CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN v_micro
            ELSE 0 END) OVER w7, 0) AS BIGINT) AS spend_7d_micro,
          CAST(count(*) OVER w1 AS BIGINT) AS n_events_1d
        FROM ev
        WINDOW
          w7 AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING),
          w1 AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id, sec, v_micro, n_events_7d, n_purch_7d,
        spend_7d_micro, n_events_1d
      FROM feat WHERE event_type = 'purchase'
      ORDER BY user_id, sec, event_id"""))

  /** Stationary distribution of the event-type Markov chain — where user
    * attention CONVERGES if the observed [[transitions]] dynamics keep
    * running (the PageRank idea applied to the behavioral state machine;
    * the readout product teams sanity-check funnels against). Four power-
    * iteration rounds π' = πP from the uniform start, unrolled identically
    * on both engines ([[graph_sssp]]'s chained-CTE discipline).
    *
    * Scale shapes: the event scan folds through ONE user-keyed window pass
    * into an O(types²) transition matrix — type catalogs are dozens, so
    * after that aggregate everything is broadcast-sized no matter the event
    * volume; matrix and catalog are localCheckpointed once (tiny tables,
    * each feeding all four rounds). All arithmetic is exact integers:
    * row-normalized probabilities are nano-unit longs (one div), each
    * round's contribution is `(π_a · p_ab) div 1e9` (products ≤ 1e18,
    * no overflow), and truncation loses mass monotonically (≤ types² nano
    * per round) rather than ever diverging — types with no outgoing
    * transitions simply leak their mass, the standard absorbing-drain
    * treatment, identical on both engines by construction.
    */
  val markovStationary = Declared(
    "events_markov_stationary",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cat = t(s, dir, "events").select(col("event_type")).distinct()
        .localCheckpoint()
      val mat = t(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("a"), col("next_type").as("b"))
        .agg(count(lit(1)).as("c"))
        .withColumn("r", sum(col("c")).over(Window.partitionBy(col("a"))))
        .select(col("a"), col("b"), expr("(1000000000L * c) div r").as("p_nano"))
        .localCheckpoint()
      val pi0 = cat.crossJoin(broadcast(
          cat.agg(count(lit(1)).as("n_types"))))
        .select(col("event_type").as("t"),
          expr("1000000000L div n_types").as("v"))
      val pi4 = (1 to 4).foldLeft(pi0) { (pi, _) =>
        pi.join(mat, pi("t") === mat("a"))
          .groupBy(col("b").as("bt"))
          .agg(sum(expr("(v * p_nano) div 1000000000L")).as("nv"))
          .select(col("bt").as("t"), col("nv").as("v"))
      }
      cat.join(pi4, cat("event_type") === pi4("t"), "left")
        .select(col("event_type"), coalesce(col("v"), lit(0L)).as("pi_nano"))
        .orderBy(col("event_type"))
    },
    Some("""WITH cat AS (SELECT DISTINCT event_type FROM events),
      steps AS (
        SELECT event_type AS a,
          lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS b
        FROM events),
      cnt AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS c
        FROM steps WHERE b IS NOT NULL GROUP BY a, b),
      m AS (
        SELECT a, b,
          CAST((1000000000 * c) // sum(c) OVER (PARTITION BY a) AS BIGINT)
            AS p_nano
        FROM cnt),
      pi0 AS (
        SELECT event_type AS t, CAST(1000000000 // n AS BIGINT) AS v
        FROM cat CROSS JOIN (SELECT count(*) AS n FROM cat)),
      r1 AS (SELECT m.b AS t, CAST(sum((pi.v * m.p_nano) // 1000000000)
               AS BIGINT) AS v FROM pi0 pi JOIN m ON pi.t = m.a GROUP BY m.b),
      r2 AS (SELECT m.b AS t, CAST(sum((pi.v * m.p_nano) // 1000000000)
               AS BIGINT) AS v FROM r1 pi JOIN m ON pi.t = m.a GROUP BY m.b),
      r3 AS (SELECT m.b AS t, CAST(sum((pi.v * m.p_nano) // 1000000000)
               AS BIGINT) AS v FROM r2 pi JOIN m ON pi.t = m.a GROUP BY m.b),
      r4 AS (SELECT m.b AS t, CAST(sum((pi.v * m.p_nano) // 1000000000)
               AS BIGINT) AS v FROM r3 pi JOIN m ON pi.t = m.a GROUP BY m.b)
      SELECT c.event_type, CAST(coalesce(r4.v, 0) AS BIGINT) AS pi_nano
      FROM cat c LEFT JOIN r4 ON c.event_type = r4.t
      ORDER BY c.event_type"""))

  /** Churn-label training-set assembly — the forward-looking half of
    * [[featureBackfill]]'s point-in-time discipline: features may only see
    * BEFORE the cutoff, the label may only see AFTER it, and the population
    * is fixed at the cutoff (users with any pre-cutoff history). One
    * mislabeled boundary row poisons a churn model silently, so the
    * boundary semantics are explicit: features read [cutoff−7d, cutoff),
    * the label reads [cutoff, cutoff+14d). Both targets a production
    * pipeline trains against are emitted: the regression target
    * `n_purch_label` (future purchase count) and the classification label
    * `at_risk` (fewer than 5 purchases in the window — a declared business
    * threshold; the fixture's synthetic users are uniformly active, so
    * absolute zero-activity churn never occurs and a 0-threshold label
    * would be vacuously single-class). The cutoff is a declared constant
    * (fixture spans 2024-01); production re-runs the same query per
    * snapshot date.
    *
    * Scale shape: the entire table assembles in ONE conditional-sum hash
    * aggregate per user on a single event scan — no join between the
    * feature and label sides, because both are predicates over the same
    * partition. All boundaries are half-open NTZ literals (identical on
    * both engines); spend folds in exact micro-units.
    */
  val labelChurn = Declared(
    "events_label_churn",
    (s, dir) => {
      val cut = "TIMESTAMP_NTZ '2024-01-15 00:00:00'"
      val featLo = "TIMESTAMP_NTZ '2024-01-08 00:00:00'"
      val labHi = "TIMESTAMP_NTZ '2024-01-29 00:00:00'"
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(expr(s"CAST(ts < $cut AS BIGINT)")).as("n_hist"),
          sum(expr(s"CAST(ts >= $featLo AND ts < $cut AS BIGINT)"))
            .as("n_events_7d"),
          sum(expr(s"CAST(ts >= $featLo AND ts < $cut AND " +
            "event_type = 'purchase' AS BIGINT)")).as("n_purch_7d"),
          sum(expr(s"CASE WHEN ts >= $featLo AND ts < $cut AND " +
            "event_type = 'purchase' THEN CAST(round(value * 1e6) AS BIGINT) " +
            "ELSE 0L END")).as("spend_7d_micro"),
          sum(expr(s"CAST(ts >= $cut AND ts < $labHi AND " +
            "event_type = 'purchase' AS BIGINT)")).as("n_purch_label"))
        .filter(col("n_hist") > 0)
        .select(col("user_id"), col("n_events_7d"), col("n_purch_7d"),
          col("spend_7d_micro"), col("n_purch_label"),
          (col("n_purch_label") < 5L).as("at_risk"))
        .orderBy(col("user_id"))
    },
    Some("""WITH agged AS (
        SELECT user_id,
          CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hist,
          CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-08'
            AND ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_events_7d,
          CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-08'
            AND ts < TIMESTAMP '2024-01-15'
            AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_purch_7d,
          CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-08'
            AND ts < TIMESTAMP '2024-01-15' AND event_type = 'purchase'
            THEN CAST(round(value * 1e6) AS BIGINT) ELSE 0 END) AS BIGINT)
            AS spend_7d_micro,
          CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
            AND ts < TIMESTAMP '2024-01-29'
            AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_purch_label
        FROM events GROUP BY user_id)
      SELECT user_id, n_events_7d, n_purch_7d, spend_7d_micro, n_purch_label,
        (n_purch_label < 5) AS at_risk
      FROM agged WHERE n_hist > 0 ORDER BY user_id"""))

  /** Holt double-exponential smoothing (level + TREND) per event type —
    * what [[ewma]] cannot see: a steadily growing series reads as a
    * permanent "spike" to a level-only smoother, while Holt's paired
    * recurrence l' = (x + l + b)/2, b' = (l' − l + b)/2 (α = β = 1/2)
    * tracks the slope and forecasts next = l + b.
    *
    * The engineering point is the STATE: the recurrence threads a (level,
    * trend) pair, but both engines' fold primitives carry ONE value — and
    * DuckDB's `list_reduce` seeds with the raw first element. So the pair
    * packs into one long, `level·2³² + (trend + 2³¹)`, and every series
    * element is PRE-PACKED as (x, trend 0) — which makes the seed exactly
    * the correct initial state (l₀ = x₀, b₀ = 0) on both engines with no
    * special-casing. Inside the lambda all div-by-2 and unpack steps are
    * ARITHMETIC SHIFTS (floor semantics for negative trends in both
    * engines — Spark `div` truncates toward zero while DuckDB `//` floors,
    * the events_interpolate lesson, so plain division is banned here).
    * Counts scale to milli-units: level ≤ 2³¹ holds until a single type
    * logs 2 million events/hour, and the pack is exact below that
    * (documented bound; wider series shard the hour key).
    *
    * Scale shape: identical to [[ewma]] — one hash aggregate to O(types ×
    * hours), then a calendar-bounded per-group fold inside a distributed
    * aggregate.
    */
  val holt = Declared(
    "events_holt",
    (s, dir) => {
      hourlySeries(s, dir)
        .select(col("event_type"),
          expr("transform(series, p -> p.n * 1000L * 4294967296L + 2147483648L)")
            .as("arr"))
        .select(col("event_type"), size(col("arr")).as("n_hours"),
          expr("element_at(arr, -1) div 4294967296L div 1000L").as("last_n"),
          expr(s"aggregate(slice(arr, 2, greatest(size(arr) - 1, 0)), element_at(arr, 1), $holtFold)")
            .as("st"))
        .select(col("event_type"), col("n_hours"), col("last_n"),
          expr("shiftright(st, 32)").as("level_milli"),
          expr("(st & 4294967295L) - 2147483648L").as("trend_milli"))
        .withColumn("forecast_milli", col("level_milli") + col("trend_milli"))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH $hourlyCountsCte,
      series AS (
        SELECT event_type,
          list(n * 1000 * 4294967296 + 2147483648 ORDER BY h) AS arr
        FROM hourly GROUP BY event_type),
      folded AS (
        SELECT event_type,
          CAST(len(arr) AS INTEGER) AS n_hours,
          CAST(arr[-1] // 4294967296 // 1000 AS BIGINT) AS last_n,
          list_reduce(arr, (s, e) -> ((((e >> 32) + (s >> 32)
            + ((s & 4294967295) - 2147483648)) >> 1) * 4294967296)
            + (((((((e >> 32) + (s >> 32) + ((s & 4294967295) - 2147483648))
                >> 1)) - (s >> 32) + ((s & 4294967295) - 2147483648)) >> 1)
              + 2147483648)) AS st
        FROM series)
      SELECT event_type, n_hours, last_n,
        CAST(st >> 32 AS BIGINT) AS level_milli,
        CAST((st & 4294967295) - 2147483648 AS BIGINT) AS trend_milli,
        CAST((st >> 32) + (st & 4294967295) - 2147483648 AS BIGINT)
          AS forecast_milli
      FROM folded ORDER BY event_type"""))

  /** Walk-forward forecast backtest — the evaluation that DECIDES between
    * [[forecastSma]]'s flat average and [[holt]]'s level+trend model
    * instead of trusting either: at every hour t ≥ 9 of each type's
    * series, both models predict x_t from ONLY the prefix x_1..x_{t−1}
    * (SMA-4 = mean of the last four; Holt = level+trend of the prefix
    * fold), and the mean absolute one-step error decides the winner.
    * Walk-forward prefix discipline is the time-series analogue of
    * [[labelChurn]]'s point-in-time rule — a backtest that peeks even one
    * step ahead flatters every model.
    *
    * Scale shape: the event scan folds to O(types × hours) once; the
    * backtest is then a per-group nested lambda — O(hours²) prefix folds
    * per type, but hours are CALENDAR-BOUNDED (8.8 k/year ⇒ ≤ 39 M fused
    * integer ops per type-year, microseconds of CPU) so the quadratic
    * never meets corpus size. Every prediction and error is exact-integer
    * (milli-unit SMA with div-4, [[holt]]'s packed shift fold), so the
    * model ranking cannot split the engines.
    */
  val forecastBacktest = Declared(
    "events_forecast_backtest",
    (s, dir) => {
      hourlySeries(s, dir)
        .select(col("event_type"),
          expr("transform(series, p -> p.n * 1000L)").as("arr"))
        .filter(size(col("arr")) >= 9)
        .select(col("event_type"), size(col("arr")).as("n_hours"),
          expr("""transform(sequence(9, size(arr)), t ->
                 abs(element_at(arr, t) -
                     (element_at(arr, t-4) + element_at(arr, t-3)
                      + element_at(arr, t-2) + element_at(arr, t-1)) div 4L))""")
            .as("es"),
          expr(s"""transform(sequence(9, size(arr)), t ->
                 abs(element_at(arr, t) -
                     ((shiftright(aggregate(slice(transform(arr,
                           x -> x * 4294967296L + 2147483648L), 2, t - 2),
                         element_at(arr, 1) * 4294967296L + 2147483648L,
                         $holtFold), 32))
                      + ((aggregate(slice(transform(arr,
                            x -> x * 4294967296L + 2147483648L), 2, t - 2),
                          element_at(arr, 1) * 4294967296L + 2147483648L,
                          $holtFold) & 4294967295L) - 2147483648L))))""")
            .as("eh"))
        .select(col("event_type"), col("n_hours"),
          size(col("es")).cast("long").as("n_eval"),
          expr("aggregate(es, 0L, (a, e) -> a + e) div size(es)")
            .as("mae_sma_milli"),
          expr("aggregate(eh, 0L, (a, e) -> a + e) div size(eh)")
            .as("mae_holt_milli"))
        .withColumn("holt_better", col("mae_holt_milli") < col("mae_sma_milli"))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH $hourlyCountsCte,
      series AS (
        SELECT event_type, list(n * 1000 ORDER BY h) AS arr
        FROM hourly GROUP BY event_type HAVING count(*) >= 9),
      packed AS (
        SELECT event_type, arr,
          list_transform(arr, x -> x * 4294967296 + 2147483648) AS arrp
        FROM series),
      errs AS (
        SELECT event_type,
          CAST(len(arr) AS INTEGER) AS n_hours,
          list_transform(range(9, len(arr) + 1), t ->
            abs(arr[CAST(t AS INTEGER)] -
                (arr[CAST(t AS INTEGER) - 4] + arr[CAST(t AS INTEGER) - 3]
                 + arr[CAST(t AS INTEGER) - 2] + arr[CAST(t AS INTEGER) - 1])
                  // 4)) AS es,
          list_transform(range(9, len(arr) + 1), t ->
            abs(arr[CAST(t AS INTEGER)] -
                ((list_reduce(arrp[1:CAST(t AS INTEGER) - 1],
                    (s, e) -> ((((e >> 32) + (s >> 32)
                      + ((s & 4294967295) - 2147483648)) >> 1) * 4294967296)
                      + (((((((e >> 32) + (s >> 32)
                          + ((s & 4294967295) - 2147483648)) >> 1))
                          - (s >> 32) + ((s & 4294967295) - 2147483648)) >> 1)
                        + 2147483648)) >> 32)
                 + ((list_reduce(arrp[1:CAST(t AS INTEGER) - 1],
                    (s, e) -> ((((e >> 32) + (s >> 32)
                      + ((s & 4294967295) - 2147483648)) >> 1) * 4294967296)
                      + (((((((e >> 32) + (s >> 32)
                          + ((s & 4294967295) - 2147483648)) >> 1))
                          - (s >> 32) + ((s & 4294967295) - 2147483648)) >> 1)
                        + 2147483648)) & 4294967295) - 2147483648)))) AS eh
        FROM packed)
      SELECT event_type, n_hours,
        CAST(len(es) AS BIGINT) AS n_eval,
        CAST(list_reduce(list_prepend(0, es), (a, e) -> a + e) // len(es)
          AS BIGINT) AS mae_sma_milli,
        CAST(list_reduce(list_prepend(0, eh), (a, e) -> a + e) // len(eh)
          AS BIGINT) AS mae_holt_milli,
        (list_reduce(list_prepend(0, eh), (a, e) -> a + e) // len(eh)
          < list_reduce(list_prepend(0, es), (a, e) -> a + e) // len(es))
          AS holt_better
      FROM errs ORDER BY event_type"""))

  /** Difference-in-differences — the causal estimator for a LAUNCH (every
    * user crosses the 2024-01-15 cutover together, so a plain post-vs-pre
    * delta confounds the launch with seasonality; subtracting the control
    * arm's delta removes every shock common to both arms). Completes the
    * experimentation family: [[abTest]] tests a proportion, [[cuped]]
    * variance-reduces, [[power]] sizes, DiD estimates under the
    * parallel-trends assumption (declared, as in any DiD readout).
    *
    * Panel discipline: the outcome is per-user purchase spend per period
    * with ZERO-activity user-periods kept (dropping them biases the means
    * — the panel is users × {pre, post}, built by exploding the user
    * dimension, never by trusting event presence). Shapes: one event scan
    * folds to per-(user, period) spend; the user dimension explodes ×2 and
    * left-joins it keyed; four cell means and the DiD fold into ONE
    * conditional aggregate row. Cell means are micro-unit integer divs;
    * the estimate subtracts four exact longs.
    */
  val did = Declared(
    "events_did",
    (s, dir) => {
      val cut = "TIMESTAMP_NTZ '2024-01-15 00:00:00'"
      val spend = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), expr(s"CAST(ts >= $cut AS INT)").as("period"))
        .agg(sum(expr("CAST(round(value * 1e6) AS BIGINT)")).as("sp"))
      val panel = t(s, dir, "events").select(col("user_id")).distinct()
        .select(col("user_id"), explode(expr("array(0, 1)")).as("period"))
        .join(spend, Seq("user_id", "period"), "left")
        .select((col("user_id") % 2).as("variant"), col("period"),
          coalesce(col("sp"), lit(0L)).as("sp"))
      def cell(v: Int, p: Int, c: String) =
        sum(when(col("variant") === v && col("period") === p,
          col(c).cast("long")).otherwise(0L))
      panel
        .select(col("variant"), col("period"), col("sp"), lit(1L).as("one"))
        .agg(
          cell(0, 0, "sp").as("s00"), cell(0, 0, "one").as("n00"),
          cell(0, 1, "sp").as("s01"), cell(0, 1, "one").as("n01"),
          cell(1, 0, "sp").as("s10"), cell(1, 0, "one").as("n10"),
          cell(1, 1, "sp").as("s11"), cell(1, 1, "one").as("n11"))
        .select(
          expr("s00 div n00").as("mean_ctrl_pre_micro"),
          expr("s01 div n01").as("mean_ctrl_post_micro"),
          expr("s10 div n10").as("mean_treat_pre_micro"),
          expr("s11 div n11").as("mean_treat_post_micro"),
          expr("""(s11 div n11 - s10 div n10)
                 - (s01 div n01 - s00 div n00)""").as("did_micro"))
    },
    Some("""WITH spend AS (
        SELECT user_id,
          CAST(CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15' AS INTEGER)
            AS period,
          CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sp
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      grid AS (
        SELECT user_id, unnest([0, 1]) AS period
        FROM (SELECT DISTINCT user_id FROM events)),
      panel AS (
        SELECT g.user_id % 2 AS variant, g.period,
          coalesce(s.sp, 0) AS sp
        FROM grid g LEFT JOIN spend s
          ON g.user_id = s.user_id AND g.period = s.period),
      cells AS (
        SELECT
          CAST(sum(CASE WHEN variant=0 AND period=0 THEN sp ELSE 0 END) AS BIGINT) AS s00,
          CAST(sum(CASE WHEN variant=0 AND period=0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
          CAST(sum(CASE WHEN variant=0 AND period=1 THEN sp ELSE 0 END) AS BIGINT) AS s01,
          CAST(sum(CASE WHEN variant=0 AND period=1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
          CAST(sum(CASE WHEN variant=1 AND period=0 THEN sp ELSE 0 END) AS BIGINT) AS s10,
          CAST(sum(CASE WHEN variant=1 AND period=0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
          CAST(sum(CASE WHEN variant=1 AND period=1 THEN sp ELSE 0 END) AS BIGINT) AS s11,
          CAST(sum(CASE WHEN variant=1 AND period=1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
        FROM panel)
      SELECT
        CAST(s00 // n00 AS BIGINT) AS mean_ctrl_pre_micro,
        CAST(s01 // n01 AS BIGINT) AS mean_ctrl_post_micro,
        CAST(s10 // n10 AS BIGINT) AS mean_treat_pre_micro,
        CAST(s11 // n11 AS BIGINT) AS mean_treat_post_micro,
        CAST((s11 // n11 - s10 // n10) - (s01 // n01 - s00 // n00) AS BIGINT)
          AS did_micro
      FROM cells"""))

  /** Oracle CTEs of the strict view → click → purchase funnel: v, c, p hold
    * each user's first view, first click after it, and first purchase after
    * that click (vt, ct, pt). events_funnel_time and stream_pattern_detect
    * read them. */
  def funnelStepCtes: String = """WITH v AS (
        SELECT user_id, min(ts) AS vt FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (
        SELECT e.user_id, min(e.ts) AS ct FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY e.user_id),
      p AS (
        SELECT e.user_id, min(e.ts) AS pt FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY e.user_id)"""

  /** Conversion LATENCY distribution — the companion readout to the funnel
    * COUNTS (events_funnel says how many users converted; this says how
    * long each hop takes, which is what sets attribution windows and
    * abandonment cutoffs). Per step of the greedy first-match
    * view → click → purchase path (stream_pattern_detect's semantics),
    * the converting-user count and the median / p90 hop latency in
    * seconds, quantized once to nano longs (the dq_skew_report percentile
    * discipline — the 0.9 interpolation is generally inexact, so raw
    * doubles would couple the hash to bit-identical IEEE sequences).
    *
    * Scale shapes: three first-timestamp folds keyed by user (each one
    * hash aggregate over the ever-shrinking converting population), hop
    * latencies as exact integer seconds (micros div 1e6 — timezone shifts
    * cancel in the difference), a 3-way stacked union that is user-
    * dimension-sized, and one exact percentile per step over that
    * user-sized table (the documented 100 TB swap is percentile_approx
    * on the identical plan).
    */
  val funnelTime = Declared(
    "events_funnel_time",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("vt"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("vt"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("ct"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("ct"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("pt"))
      def secs(a: String, b: String) = expr(
        s"""(unix_micros(CAST($b AS TIMESTAMP))
           - unix_micros(CAST($a AS TIMESTAMP))) div 1000000""")
      val lat = c.join(v, "user_id")
        .select(lit("1_view->click").as("step"), secs("vt", "ct").as("sec"))
        .unionByName(p.join(c, "user_id")
          .select(lit("2_click->purchase").as("step"), secs("ct", "pt").as("sec")))
        .unionByName(p.join(v, "user_id")
          .select(lit("3_view->purchase").as("step"), secs("vt", "pt").as("sec")))
      lat.groupBy(col("step"))
        .agg(count(lit(1)).as("n_users"),
          expr("""CAST(round(percentile(CAST(sec AS DOUBLE), 0.5) * 1e9)
                 AS BIGINT)""").as("med_sec_nano"),
          expr("""CAST(round(percentile(CAST(sec AS DOUBLE), 0.9) * 1e9)
                 AS BIGINT)""").as("p90_sec_nano"))
        .orderBy(col("step"))
    },
    Some(s"""$funnelStepCtes,
      lat AS (
        SELECT '1_view->click' AS step,
          CAST(date_diff('microsecond', v.vt, c.ct) // 1000000 AS BIGINT) AS sec
        FROM c JOIN v USING (user_id)
        UNION ALL
        SELECT '2_click->purchase',
          CAST(date_diff('microsecond', c.ct, p.pt) // 1000000 AS BIGINT)
        FROM p JOIN c USING (user_id)
        UNION ALL
        SELECT '3_view->purchase',
          CAST(date_diff('microsecond', v.vt, p.pt) // 1000000 AS BIGINT)
        FROM p JOIN v USING (user_id))
      SELECT step, CAST(count(*) AS BIGINT) AS n_users,
        CAST(round(quantile_cont(CAST(sec AS DOUBLE), 0.5) * 1e9) AS BIGINT)
          AS med_sec_nano,
        CAST(round(quantile_cont(CAST(sec AS DOUBLE), 0.9) * 1e9) AS BIGINT)
          AS p90_sec_nano
      FROM lat GROUP BY step ORDER BY step"""))

  /** Sequenced conversion funnel over the events stream: first view →
    * first click AFTER that view → first purchase AFTER that click, per
    * user. All three step timestamps come from windows over the SAME
    * user_id partitioning, so the whole funnel costs exactly one shuffle of
    * the events table; the final stage counts are a 1-row global aggregate.
    * The strict ts ordering between steps is what distinguishes a funnel
    * from three independent filters.
    */
  val eventsFunnel = Declared(
    "events_funnel",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("vt",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("ct",
          min(when(col("event_type") === "click" && col("ts") > col("vt"), col("ts"))).over(w))
        .withColumn("pt",
          min(when(col("event_type") === "purchase" && col("ts") > col("ct"), col("ts"))).over(w))
        .agg(
          count_distinct(when(col("vt").isNotNull, col("user_id"))).as("n_view"),
          count_distinct(when(col("ct").isNotNull, col("user_id"))).as("n_click"),
          count_distinct(when(col("pt").isNotNull, col("user_id"))).as("n_purchase"))
    },
    Some("""WITH v AS (
        SELECT user_id, min(ts) AS vt FROM events WHERE event_type = 'view' GROUP BY user_id),
      c AS (
        SELECT e.user_id, min(e.ts) AS ct FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.vt GROUP BY e.user_id),
      p AS (
        SELECT e.user_id, min(e.ts) AS pt FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.ct GROUP BY e.user_id)
      SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
             CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
             CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase"""))

  val all: Seq[Declared] = Seq(
    dateBin, jsonExtract, hourly, sessionize, sessionWindow, asof, pivot,
    rangeJoin, variantAgg, gapFill, intervalArith, retention, anomaly,
    transitions, cooccurrence, attribution, abTest, winsorize, forecastSma,
    rfm, interpolate, asofTolerance, botDetection, survival, seasonality,
    sequenceMining, changepoint, stlDecompose, intervalOverlap, mttr,
    autocorr, cuped, ohlc, power, stickiness, attributionLinear, ewma,
    cohortLtv, featureBackfill, markovStationary, labelChurn, holt,
    forecastBacktest, did, funnelTime,
    eventsFunnel)
}
