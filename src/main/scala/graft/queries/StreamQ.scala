package graft.queries

import graft.Declared
import graft.streaming.StreamingOps

/** The Structured Streaming queries: each runs a real streaming query
  * through [[graft.streaming.StreamingOps]] (the operator layer: sources,
  * memory sinks, state) and is checked against the equivalent batch oracle.
  */
object StreamQ {

  /** Structured Streaming: tumbling 1-hour windows per event type, computed
    * by a real streaming query (memory sink, complete mode) and checked
    * against the batch oracle.
    */
  val streamWindow = Declared(
    "stream_window_agg",
    (s, dir) => StreamingOps.windowedTypeCounts(s, dir),
    Some("""SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS h,
      event_type, count(*) AS n, round(sum(value), 2) AS total
      FROM events GROUP BY h, event_type ORDER BY h, event_type"""))

  /** Sliding 1-hour windows advancing every 15 minutes — every event belongs
    * to exactly 4 windows. The oracle reproduces Spark's window assignment
    * arithmetic: starts are the event's 15-minute bucket minus k×15 min for
    * k = 0..3 (window length ÷ slide = 4 overlapping windows, all of which
    * contain the event).
    */
  val streamWindowSliding = Declared(
    "stream_window_sliding",
    (s, dir) => StreamingOps.slidingTypeCounts(s, dir),
    Some("""WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events),
      x AS (
        SELECT time_bucket(INTERVAL 15 MINUTE, t)
            - k.k * (INTERVAL 15 MINUTE) AS ws, event_type, value
        FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k)
      SELECT ws, event_type, count(*) AS n, round(sum(value), 2) AS total
      FROM x GROUP BY ws, event_type ORDER BY ws, event_type"""))

  /** Append-mode windowed counts with a 10-minute watermark — the unbounded
    * deployment mode: each window emitted once when the watermark passes its
    * end. The oracle applies the same cutoff (windows ending ≤ max(ts) − 10
    * min), so exactly-once emission semantics are hash-checked.
    */
  val streamWindowAppend = Declared(
    "stream_window_append",
    (s, dir) => StreamingOps.windowedTypeCountsAppend(s, dir),
    Some("""WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events),
      wm AS (SELECT max(t) - INTERVAL 10 MINUTE AS w FROM e)
      SELECT time_bucket(INTERVAL 1 HOUR, t) AS h, event_type,
        CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total
      FROM e CROSS JOIN wm
      GROUP BY h, event_type, wm.w
      HAVING h + INTERVAL 1 HOUR <= wm.w
      ORDER BY h, event_type"""))

  /** Streaming exact dedup (state-bounded dropDuplicates) — the oracle is
    * the batch distinct count per type over the same content key.
    */
  val streamDedup = Declared(
    "stream_dedup",
    (s, dir) => StreamingOps.dedupStream(s, dir),
    Some("""SELECT event_type, count(*) AS n_unique FROM (
        SELECT DISTINCT event_type,
          md5(CAST(user_id AS VARCHAR) || '|' || event_type || '|' || props) AS ck
        FROM events)
      GROUP BY event_type ORDER BY event_type"""))

  /** Stream-static enrichment join — oracle is the equivalent batch join. */
  val streamStaticJoin = Declared(
    "stream_static_join",
    (s, dir) => StreamingOps.enrichedTypeCounts(s, dir),
    Some("""SELECT c_mktsegment, event_type,
        CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment, event_type
      ORDER BY c_mktsegment, event_type"""))

  /** Stream-stream interval join (attribution): every click-purchase pair
    * by the same user within 30 minutes, from two unbounded sides with
    * watermark-bounded join state ([[StreamingOps.clickPurchaseJoin]]).
    * Oracle is the equivalent batch interval join.
    */
  val streamStreamJoin = Declared(
    "stream_stream_join",
    (s, dir) => StreamingOps.clickPurchaseJoin(s, dir),
    Some("""SELECT c.user_id AS user_id, c.ts AS click_ts, p.ts AS purchase_ts
      FROM events c JOIN events p ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      ORDER BY user_id, click_ts, purchase_ts"""))

  /** Stream-stream LEFT OUTER interval join — null rows for expired
    * unmatched clicks, emitted only when the watermark proves no future
    * match can arrive ([[StreamingOps.clickPurchaseJoinOuter]]). The oracle
    * is the batch left join with the SAME expiry cutoff: unmatched clicks
    * qualify only below min(max click ts, max purchase ts) − 10 min −
    * 30 min (per-side watermark tracks each side's own max; the global
    * watermark is their minimum).
    */
  val streamStreamOuter = Declared(
    "stream_stream_outer",
    (s, dir) => StreamingOps.clickPurchaseJoinOuter(s, dir),
    Some("""WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                    - INTERVAL 10 MINUTE AS w),
      matched AS (
        SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
        FROM c JOIN p ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
      unmatched AS (
        SELECT c.user_id, c.ts AS click_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
        FROM c CROSS JOIN wm
        WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
            AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
          AND c.ts + INTERVAL 30 MINUTE < wm.w)
      SELECT * FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
      ORDER BY user_id, click_ts, purchase_ts NULLS FIRST"""))

  /** Custom-state streaming: flatMapGroupsWithState sessionization driven as
    * a real streaming query; oracle is the batch gaps-and-islands SQL (same
    * 30-min gap as q_sessionize, without the per-user seq column).
    */
  val streamSessionize = Declared(
    "stream_sessionize",
    (s, dir) => StreamingOps.sessionStream(s, dir),
    Some(s"""${EventsQ.sessionCtes("> 1800.0")}
      SELECT user_id,
        CAST(min(ts) AS TIMESTAMP) AS session_start,
        CAST(max(ts) AS TIMESTAMP) AS session_end,
        count(*) AS n_events,
        round(sum(value), 2) AS session_value
      FROM numbered GROUP BY user_id, session_seq
      ORDER BY user_id, session_start"""))

  /** Streaming incremental dedup — a document stream anti-joined in-flight
    * against the static fingerprint index (stateless stream-static anti
    * join; the index owns the memory, not the stream engine). Oracle is the
    * equivalent batch anti join. The fixture split has no cross-split dups,
    * so everything passes — StreamingIncrementalDedupSpec proves the
    * rejection path on a synthetic overlap.
    */
  val streamIncrementalDedup = Declared(
    "stream_incremental_dedup",
    (s, dir) => StreamingOps.incrementalDedupStream(s, dir),
    Some("""WITH fps AS (
        SELECT doc_id, lang,
          md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
        FROM documents),
      idx AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 < 8)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_new, min(doc_id) AS first_doc
      FROM fps b
      WHERE doc_id % 10 >= 8
        AND NOT EXISTS (SELECT 1 FROM idx i WHERE i.fp = b.fp)
      GROUP BY lang ORDER BY lang"""))

  /** Streaming trending top-k: daily per-type counts maintained by the
    * stream (Complete mode), top-3 per day ranked at readout — the
    * dashboard-over-state split ([[StreamingOps.trendingTopK]]). Oracle is
    * the equivalent batch count + row_number.
    */
  val streamTopk = Declared(
    "stream_topk",
    (s, dir) => StreamingOps.trendingTopK(s, dir),
    Some("""WITH c AS (
        SELECT time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)) AS d,
          event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT d, event_type, n,
          row_number() OVER (PARTITION BY d ORDER BY n DESC, event_type) AS rk
        FROM c)
      SELECT d, CAST(rk AS INTEGER) AS rk, event_type, n
      FROM r WHERE rk <= 3 ORDER BY d, rk"""))

  /** foreachBatch keyed upsert — each micro-batch MERGEs into a running
    * "latest event per user" table ([[StreamingOps.foreachBatchUpsert]]).
    * Oracle is the batch argmax per user over the same events.
    */
  /** Streaming data-quality gate ([[StreamingOps.qualityGate]]): per-batch
    * rule scoring merged into a running violation ledger; row-local rules
    * make sum-over-batches ≡ whole-table evaluation, which is what the
    * oracle recomputes.
    */
  val streamQualityGate = Declared(
    "stream_quality_gate",
    (s, dir) => StreamingOps.qualityGate(s, dir),
    Some("""WITH scan AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN event_type NOT IN
            ('click','error','purchase','signup','view') THEN 1 ELSE 0 END)
            AS BIGINT) AS v_type,
          CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ts,
          CAST(sum(CASE WHEN user_id <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_uid,
          CAST(sum(CASE WHEN value < 0 OR value > 100 THEN 1 ELSE 0 END)
            AS BIGINT) AS v_range
        FROM events),
      ledger AS (
        SELECT 'event_type_known' AS check_name, n AS n_checked, v_type AS n_violations FROM scan
        UNION ALL SELECT 'ts_not_null', n, v_ts FROM scan
        UNION ALL SELECT 'user_id_positive', n, v_uid FROM scan
        UNION ALL SELECT 'value_in_0_100', n, v_range FROM scan)
      SELECT check_name, n_checked, n_violations,
        n_violations = 0 AS passed
      FROM ledger ORDER BY check_name"""))

  /** Streaming distinct-user HLL ([[StreamingOps.distinctUsersStream]]):
    * per-batch sketch partials unioned into O(types × 2^lgK) state; the
    * oracle recomputes the exact counts and pins the 5% estimate contract
    * (DuckDB has no Datasketches HLL — q_hll_sketch's convention).
    */
  val streamHllUsers = Declared(
    "stream_hll_users",
    (s, dir) => StreamingOps.distinctUsersStream(s, dir),
    Some("""SELECT event_type,
      CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      true AS est_within_5pct
      FROM events GROUP BY event_type ORDER BY event_type"""))

  val streamUpsert = Declared(
    "stream_upsert",
    (s, dir) => StreamingOps.foreachBatchUpsert(s, dir),
    Some("""WITH ranked AS (
        SELECT user_id, event_type, ts,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn,
          count(*) OVER (PARTITION BY user_id) AS n_events
        FROM events)
      SELECT user_id, event_type AS last_type, CAST(ts AS TIMESTAMP) AS last_ts,
        CAST(n_events AS BIGINT) AS n_events
      FROM ranked WHERE rn = 1 ORDER BY user_id"""))

  val streamCdcApply = Declared(
    "stream_cdc_apply",
    (s, dir) => StreamingOps.foreachBatchCdc(s, dir),
    Some("""WITH ranked AS (
        SELECT user_id,
          CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
          CAST(round(value * 100) AS BIGINT) AS cents,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT
        CAST(sum(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_live_users,
        round(CAST(sum(CASE WHEN op <> 'D' THEN cents ELSE 0 END) AS BIGINT)
          / 100.0, 2) AS total_value,
        CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tombstoned
      FROM ranked WHERE rn = 1"""))

  /** Streaming NEAR-dup gate ([[StreamingOps.simhashDedupStream]]): incoming
    * docs fingerprint in-flight and any simhash band collision with the
    * batch-owned index marks them suspect — stream_incremental_dedup's exact
    * gate generalized to the near-dup radius. Oracle recomputes the identical
    * fingerprints, index, and per-language ledger in one batch pass.
    */
  val streamSimhashDedup = Declared(
    "stream_simhash_dedup",
    (s, dir) => StreamingOps.simhashDedupStream(s, dir),
    Some {
      val sh = graft.operators.SimHash.unorderedOracleSql()
      s"""WITH sh AS ($sh),
      idx AS (SELECT DISTINCT bucket FROM (
          SELECT 'L' || CAST(simhash & 65535 AS VARCHAR) AS bucket
          FROM sh WHERE doc_id % 10 < 8
          UNION ALL
          SELECT 'H' || CAST((simhash >> 16) & 65535 AS VARCHAR)
          FROM sh WHERE doc_id % 10 < 8)),
      flag AS (
        SELECT s.doc_id, d.lang,
          (('L' || CAST(s.simhash & 65535 AS VARCHAR)) IN (SELECT bucket FROM idx)
           OR ('H' || CAST((s.simhash >> 16) & 65535 AS VARCHAR)) IN (SELECT bucket FROM idx))
            AS suspect
        FROM sh s JOIN documents d USING (doc_id)
        WHERE s.doc_id % 10 >= 8)
      SELECT lang,
        CAST(sum(CASE WHEN suspect THEN 0 ELSE 1 END) AS BIGINT) AS n_novel,
        CAST(sum(CASE WHEN suspect THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
        min(CASE WHEN NOT suspect THEN doc_id END) AS first_novel
      FROM flag GROUP BY lang ORDER BY lang"""
    })

  /** Streaming drift monitor ([[StreamingOps.driftPsiStream]]): the current
    * window arrives as a stream and bins against broadcast reference edges;
    * PSI read out over the bounded state grid. Counts are
    * batching-invariant, so the oracle is IDENTICAL to dq_drift_psi's —
    * one adjudication for both the batch and streaming shapes.
    */
  val streamDriftPsi = Declared(
    "stream_drift_psi",
    (s, dir) => StreamingOps.driftPsiStream(s, dir),
    QualityQ.driftPsi.oracle)

  /** Streaming CEP pattern detection ([[StreamingOps.patternDetect]]): first
    * strictly-ordered view → click → purchase per user through a custom
    * flatMapGroupsWithState machine (O(1) state per key, idempotent emission
    * via the done flag). Greedy first-match ≡ events_funnel's per-user
    * logic, so the batch SQL adjudicates the stream; the microsecond
    * conversion delay folds through exact integer division on both sides.
    */
  val streamPatternDetect = Declared(
    "stream_pattern_detect",
    (s, dir) => StreamingOps.patternDetectStream(s, dir),
    Some(s"""${EventsQ.funnelStepCtes}
      SELECT p.user_id, v.vt AS view_ts, c.ct AS click_ts, p.pt AS purchase_ts,
        CAST(date_diff('microsecond', v.vt, p.pt) // 1000000 AS BIGINT)
          AS secs_to_convert
      FROM p JOIN c USING (user_id) JOIN v USING (user_id)
      ORDER BY user_id"""))

  /** Continuous top-k ([[StreamingOps.topkPurchasersStream]]): the
    * "biggest spenders right now" dashboard as a streaming aggregate.
    * Totals fold to exact cents in-stream, so the batch SQL adjudicates
    * the streamed state exactly — batching-invariant by construction.
    */
  val streamTopkPurchasers = Declared(
    "stream_topk_purchasers",
    (s, dir) => StreamingOps.topkPurchasersStream(s, dir),
    Some("""SELECT CAST(rnk AS INTEGER) AS rnk, user_id, n_purchases,
        total_cents FROM (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
            AS total_cents,
          row_number() OVER (
            ORDER BY sum(CAST(round(value * 100) AS BIGINT)) DESC, user_id)
            AS rnk
        FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      WHERE rnk <= 10 ORDER BY rnk"""))

  val all: Seq[Declared] = Seq(
    streamWindow, streamWindowSliding, streamWindowAppend, streamDedup,
    streamStaticJoin, streamStreamJoin, streamStreamOuter, streamSessionize,
    streamIncrementalDedup, streamTopk, streamQualityGate, streamHllUsers,
    streamUpsert, streamCdcApply, streamSimhashDedup, streamDriftPsi,
    streamPatternDetect, streamTopkPurchasers)
}
