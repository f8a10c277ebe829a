package graft.queries

import graft.{Declared, SharedArtifact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recommendation primitives over the implicit-feedback matrix implied by
  * the fixture's purchase history (customer × part through lineitem ⋈
  * orders). The classic serving stack's batch half: co-occurrence counting
  * and neighborhood models, declared as keyed joins + hash aggregates so
  * Catalyst owns the physical strategy — the same pair-counting discipline
  * as [[GraphQ]]'s wedge queries, pointed at "what should this user see
  * next" instead of "how is the graph shaped".
  *
  * The capped-basket table and the scored item–item pair table are SHARED
  * across the family ([[itemCf]] reads the pairs; [[topN]] reads both) via
  * one localCheckpointed [[graft.SharedArtifact]] — in production the
  * neighbor table is materialized once per training run and every consumer
  * reads the artifact, so the family amortizing the build is the honest
  * accounting.
  */
object RecQ {
  import Tables.t

  /** ONE lineitem ⋈ orders pass feeds BOTH model families: the full-model
    * baskets ([[cfShared]] projects distinct (u, i) from it) and the eval
    * split ([[evalShared]] filters it by era flag). Orders are tagged with
    * their per-user last-order flag FIRST — a row_number window over the
    * ORDERS dimension alone — so the lineitem fan-out picks the flag up in
    * the same single orderkey-keyed join the plain basket build already
    * paid. The r12 shape ran the lineitem ⋈ orders scan TWICE (once per
    * family) and the eval side additionally re-shuffled the full (u, ok, i)
    * fan-out on u to join the last-order table; both costs are gone (the
    * graph_cc_incremental pairsByEra trick applied to the rec family).
    *
    * Equivalences (oracle SQL unchanged, hash-checked): per order,
    * rn = 1 ⇔ o_orderkey = the user's last order key under the identical
    * (o_orderdate DESC, o_orderkey DESC) order, so is_test matches the old
    * lastOrder join row-for-row; and distinct (u, i) over this table is
    * exactly the old full-basket set (a pair bought in both eras keeps one
    * row per flag and collapses under the projection's distinct).
    */
  private[graft] val taggedBaskets = new SharedArtifact("rec_tagged_baskets")((s, dir) => {
    val taggedOrders = t(s, dir, "orders")
      .select(col("o_custkey").as("u"), col("o_orderkey").as("ok"),
        col("o_orderdate").as("od"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("u")).orderBy(col("od").desc, col("ok").desc)))
      .select(col("u"), col("ok"), (col("rn") === 1).as("is_test"))
    t(s, dir, "lineitem")
      .join(taggedOrders, col("l_orderkey") === col("ok"))
      .select(col("u"), col("l_partkey").as("i"), col("is_test"))
      .distinct()
      .localCheckpoint()
  })

  /** Builds (capped user–item baskets, scored item–item pairs), both
    * localCheckpointed once per (session, dir) and reused family-wide.
    *
    * Baskets: distinct (customer, part) purchases with power-users (> 100
    * distinct items) excluded from pair generation — a power-user's basket
    * approximates the popularity list and adds noise to item neighborhoods
    * (the documented practice in the item-to-item CF literature); the cap
    * is a declared semantic, identical in the oracle.
    *
    * Pairs: the candidate stream is Σ basket² rows (268M at the sf1 probe)
    * of ~95% unique pair keys — the aggregate IS the family's cost. A
    * two-column (i1, i2) groupBy pays generic-hash-map partial aggregation
    * that overflows to sort on every map task (measured 95–198 s at sf1);
    * PACKING the pair into one long turns both agg passes into Spark's
    * vectorized long-key fast hash map and the shuffle rows into 16 bytes
    * (measured 8.6 s — 11–23× off the same plan shape). The pack is exact
    * while ids < 2^31 (i1·2^32 + i2; wider catalogs shard the id space or
    * keep the composite key), and the unpack is exact integer div/mod on
    * the non-negative domain. Pairs below support 2 are dropped before
    * scoring — the standard min-support threshold: a pair two long-tail
    * items share with ONE user scores a perfect-but-meaningless cosine of
    * 1.0, and at real sparsity support-1 pairs are the bulk of the pair
    * table (measured here: ~15M of ~20M candidates at sf0.1). An item
    * pair's cosine over binary interaction vectors is `c / sqrt(d_i · d_j)`
    * (Linden et al., IEEE Internet Computing 2003) — exact integer work
    * plus one sqrt on exact-integer-valued doubles, rounded ONCE to
    * nano-units (the established cross-engine float discipline). Degrees
    * join back keyed (the degree table is item-dimension-sized, NOT
    * broadcast — item catalogs at 100 TB are billions).
    */
  private val cfShared = new SharedArtifact("rec_cf_model")((s, dir) => {
    // distinct (u, i) projection of the family-shared tagged basket
    // table — the lineitem ⋈ orders scan runs once per (session, dir)
    // across BOTH model families ([[taggedBaskets]]); the projection's
    // distinct collapses the per-era duplicate rows and is a slim
    // (long, long) exchange, not a corpus-sized one
    val baskets = taggedBaskets(s, dir)
      .select(col("u"), col("i"))
      .distinct()
    val (capped, byUser, scored) = buildCf(baskets)
    // the serving pass is itself a materialized production artifact
    // (the per-user top-3 table every online request reads — Linden et
    // al.'s offline phase ends here), and TWO readouts consume it
    // verbatim ([[topN]], [[metrics]]); r12 measured each serveTop3 pass
    // at 3.4 s (sf0.1, 32 cores), so sharing it removes one full pass
    // per suite run — the same honest-accounting argument as the model
    // snapshot itself
    val recs = serveTop3(capped, byUser, scored).localCheckpoint()
    (capped, byUser, scored, recs)
  })

  /** The model build on an arbitrary (u, i) basket table — extracted so
    * [[evalHitRate]] can train the SAME model (identical cap/support/score
    * semantics) on the leave-last-order-out split without duplicating the
    * packed-pair aggregate.
    */
  private[graft] def buildCf(baskets: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val small = baskets.groupBy(col("u"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= 100)
      .select(col("u"))
    // consumed by the degree fold, the per-user array fold and the serving
    // join: checkpoint so the basket derivation runs once
    val capped = baskets.join(small, "u").localCheckpoint()
    val deg = capped.groupBy(col("i")).agg(count(lit(1)).as("d"))
    // ONE u-keyed exchange folds each user's basket into a sorted item
    // array (≤ 100 elements by the cap) — serving's owned-item membership
    // filter ([[serveTop3]]) and the pop-baseline exclusion read it.
    // (An r12 attempt ALSO generated the CF pairs from this array via
    // nested transform/slice/flatten lambdas; it measured ~4 s SLOWER than
    // the SMJ self-join at sf0.1 because higher-order array functions
    // don't participate in whole-stage codegen while the join+packed-agg
    // path is fully code-generated — reverted, guide §1 measure-first.)
    val byUser = capped.groupBy(col("u"))
      .agg(collect_list(col("i")).as("items")) // capped rows are distinct (u,i)
      .localCheckpoint()
    val pairs = capped.select(col("u"), col("i").as("i1"))
      .join(capped.select(col("u"), col("i").as("i2")), "u")
      .filter(col("i1") < col("i2"))
      .select((col("i1") * 4294967296L + col("i2")).as("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= 2)
      .select(expr("pk div 4294967296L").as("i1"),
        expr("pk % 4294967296L").as("i2"), col("n_co"))
    val scored = pairs
      .join(deg.select(col("i").as("i1"), col("d").as("d1")), "i1")
      .join(deg.select(col("i").as("i2"), col("d").as("d2")), "i2")
      .select(col("i1"), col("i2"), col("n_co"),
        expr("""CAST(round(CAST(n_co AS DOUBLE) * 1e9
               / sqrt(CAST(d1 * d2 AS DOUBLE))) AS BIGINT)""")
          .as("cos_nano"))
      .localCheckpoint()
    (capped, byUser, scored)
  }

  /** The serving pipeline on a built model: top-10 neighbor truncation →
    * vote sums → owned-item exclusion → per-user top-3 (see [[topN]]'s
    * scaladoc for the scale argument). Returns unordered (u, rnk, item,
    * score_nano, n_nbr) — callers add their own total order.
    */
  private[graft] def serveTop3(
      capped: DataFrame, byUser: DataFrame, scored: DataFrame): DataFrame = {
    val nbrs = scored.select(col("i1").as("i"), col("i2").as("j"), col("cos_nano"))
      .union(scored.select(col("i2").as("i"), col("i1").as("j"), col("cos_nano")))
    val topNbrs = nbrs
      .withColumn("nr", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("cos_nano").desc, col("j"))))
      .filter(col("nr") <= 10)
      .select(col("i"), col("j"), col("cos_nano"))
    // the vote aggregate is |basket|×10 rows per user of ~unique (u, j)
    // keys — the same shape whose two-column groupBy bent the pair build
    // (generic hash map overflowing to sort per map task); packing the key
    // into one long keeps both agg passes on the vectorized long-key fast
    // map (sf10 probe: 210 s → 173 s; the rest of the second-decade cost
    // is genuine volume — ~1B neighbor-window rows + 600M votes through
    // three shuffles on 32 fixed cores — not a plan defect: raising
    // shuffle partitions 32→256 moved it only to 150 s. Same 2³¹-id bound
    // and sharding note as the pair key.)
    val votes = capped.join(topNbrs, "i")
      .select((col("u") * 4294967296L + col("j")).as("uj"), col("cos_nano"))
      .groupBy(col("uj"))
      .agg(sum(col("cos_nano")).as("score_nano"), count(lit(1)).as("n_nbr"))
      .select(expr("uj div 4294967296L").as("u"),
        expr("uj % 4294967296L").as("j"), col("score_nano"), col("n_nbr"))
    // owned-item exclusion as a u-keyed membership filter against the
    // ≤100-element per-user item array, NOT a (u, j) anti-join: the anti
    // join exchanged the vote stream a second time on (u, j) and capped a
    // third time, then the top-3 window exchanged the survivors AGAIN on u
    // (r12 before-plan: 3 exchanges of the vote stream). Joining on u alone
    // leaves the output hash-partitioned by u, which the window reuses —
    // one exchange of votes total after the vote aggregate, bit-identical
    // survivors (array membership ≡ anti-join on the same distinct basket).
    votes
      .join(byUser, "u")
      .filter(!array_contains(col("items"), col("j")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("u")).orderBy(col("score_nano").desc, col("j"))))
      .filter(col("rnk") <= 3)
      .select(col("u"), col("rnk"), col("j").as("item"),
        col("score_nano"), col("n_nbr"))
  }

  /** The oracle's model-build CTE chain on a caller-supplied basket SQL —
    * kept in ONE place so the Spark build and every family oracle state the
    * identical semantics (cap 100, support ≥ 2, nano-rounded cosine).
    * `prefix` lets a caller define its own upstream CTEs (the eval split).
    */
  private def cfCtes(prefix: String, basketsSql: String) = s"""WITH $prefix
      baskets AS ($basketsSql),
      small AS (
        SELECT u FROM baskets GROUP BY u HAVING count(*) <= 100),
      capped AS (SELECT b.u, b.i FROM baskets b JOIN small USING (u)),
      deg AS (SELECT i, CAST(count(*) AS BIGINT) AS d
              FROM capped GROUP BY i),
      pairs AS (
        SELECT a.i AS i1, b.i AS i2, CAST(count(*) AS BIGINT) AS n_co
        FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 2),
      scored AS (
        SELECT i1, i2, n_co,
          CAST(round(CAST(n_co AS DOUBLE) * 1e9
            / sqrt(CAST(d1.d * d2.d AS DOUBLE))) AS BIGINT) AS cos_nano
        FROM pairs
        JOIN deg d1 ON d1.i = pairs.i1
        JOIN deg d2 ON d2.i = pairs.i2)"""

  private val cfOracleCtes = cfCtes("", """
        SELECT DISTINCT o_custkey AS u, l_partkey AS i
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey""")

  /** Oracle mirror of [[serveTop3]] — appended after a model-build chain;
    * ends in a `recs` CTE of (u, rnk, item, score_nano, n_nbr).
    */
  private val servingCtes = """,
      nbrs AS (
        SELECT i1 AS i, i2 AS j, cos_nano FROM scored
        UNION ALL
        SELECT i2 AS i, i1 AS j, cos_nano FROM scored),
      topnbrs AS (
        SELECT i, j, cos_nano FROM (
          SELECT i, j, cos_nano,
            row_number() OVER (PARTITION BY i ORDER BY cos_nano DESC, j) AS nr
          FROM nbrs) WHERE nr <= 10),
      votes AS (
        SELECT c.u, t.j, CAST(sum(t.cos_nano) AS BIGINT) AS score_nano,
          CAST(count(*) AS BIGINT) AS n_nbr
        FROM capped c JOIN topnbrs t ON c.i = t.i
        GROUP BY 1, 2),
      fresh AS (
        SELECT u, j, score_nano, n_nbr FROM votes v
        WHERE NOT EXISTS (
          SELECT 1 FROM capped c2 WHERE c2.u = v.u AND c2.i = v.j)),
      recs AS (
        SELECT u, j AS item, score_nano, n_nbr,
          row_number() OVER (PARTITION BY u ORDER BY score_nano DESC, j) AS rnk
        FROM fresh)"""

  /** Item–item collaborative filtering: the strongest item neighborhoods
    * (top-20 pairs by cosine) — the model-inspection readout over the
    * shared pair table. The top-20 is TakeOrderedAndProject, so nothing
    * global-sorts.
    */
  val itemCf = Declared(
    "rec_item_cf",
    (s, dir) => {
      val (_, _, scored, _) = cfShared(s, dir)
      scored.orderBy(col("cos_nano").desc, col("i1"), col("i2")).limit(20)
    },
    Some(cfOracleCtes + """
      SELECT i1, i2, n_co, cos_nano FROM scored
      ORDER BY cos_nano DESC, i1, i2 LIMIT 20"""),
    uses = Seq(taggedBaskets, cfShared))

  /** Per-user top-3 recommendations — the SERVING half of item-to-item CF
    * (Linden et al. 2003 §"the algorithm"): each item a user owns votes
    * for its nearest neighbors, votes sum per candidate, owned items are
    * excluded, and the top 3 by summed score are kept.
    *
    * Scale shape: neighbor lists are truncated to the top 10 per item
    * FIRST (a keyed row_number window over the pair table — the
    * neighborhood-truncation step the paper's offline phase performs), so
    * the serving join's fan-out is |basket| × 10 per user regardless of
    * how dense the pair table is; vote summing is one hash aggregate on
    * (user, candidate); the owned-item exclusion is a left-anti join on
    * the same (user, item) key the baskets already shuffled on; and the
    * per-user top-3 is a keyed window WindowGroupLimit prunes — never a
    * global sort. Scores stay in summed nano-longs (exact integer
    * addition, no float summation-order hazard).
    */
  val topN = Declared(
    "rec_topn",
    (s, dir) => {
      val (_, _, _, recs) = cfShared(s, dir)
      recs.orderBy(col("u"), col("rnk"))
    },
    Some(cfOracleCtes + servingCtes + """
      SELECT u, CAST(rnk AS INTEGER) AS rnk, item, score_nano, n_nbr
      FROM recs WHERE rnk <= 3 ORDER BY u, rnk"""),
    uses = Seq(taggedBaskets, cfShared))

  /** The complete offline-eval artifact set, built once per (session, dir)
    * and shared by every eval readout ([[evalHitRate]], [[evalMrr]]):
    * the leave-last-ORDER-out split, the model RETRAINED on its train
    * half, the served top-3 recommendations from that model, the ELIGIBLE
    * test pairs (held-out items the user does not already own in train),
    * and the eval-user denominator (users with a non-empty eligible set
    * AND a surviving train basket). In production every one of these is
    * materialized once per eval run and every metric reads the artifacts
    * — so the family amortizing the ~60 s sf1 retrain + ~15 s serving
    * pass is the honest accounting (as for [[cfShared]]), and each readout is
    * then a keyed join + a one-row fold over user-dimension-sized
    * checkpoints (recs ≤ 3 rows/user, elig ≤ held-out basket rows/user).
    *
    * The split is one slim (u, i, is_test) table. A (u, i) bought in BOTH
    * eras appears under both flags; the eligible-test anti-join here is
    * what drops it from the test side.
    */
  private[graft] val evalShared = new SharedArtifact("rec_eval_split")((s, dir) => {
    // the split table comes from the family-shared single-scan artifact
    // ([[taggedBaskets]]): the old shape re-ran the lineitem ⋈ orders join
    // here AND re-shuffled its full fan-out on u for the last-order join
    val tagged = taggedBaskets(s, dir)
    val train = tagged.filter(!col("is_test")).select(col("u"), col("i"))
    val (capped, byUser, scored) = buildCf(train)
    // eligible = held-out test pairs the user does NOT also own in train.
    // tagged carries ≤ 2 rows per (u, i) — one per era flag — so the old
    // test-anti-join-train (TWO (u, i)-keyed exchanges of the filtered
    // branches) is equivalently ONE grouped pass over the checkpointed
    // split: keep keys that appear under the test flag and never under
    // the train flag.
    val elig = tagged.groupBy(col("u"), col("i"))
      .agg(max(col("is_test")).as("has_test"),
        max(!col("is_test")).as("has_train"))
      .filter(col("has_test") && !col("has_train"))
      .select(col("u"), col("i"))
      .localCheckpoint()
    val evalUsers = elig.select(col("u")).distinct()
      .join(capped.select(col("u")).distinct(), Seq("u"), "left_semi")
      .localCheckpoint()
    val recs = serveTop3(capped, byUser, scored).localCheckpoint()
    (elig, evalUsers, recs, capped, byUser)
  })

  /** The oracle's leave-last-order-out split CTEs — the `prefix` handed to
    * [[cfCtes]] by every eval oracle, kept in ONE place so the readouts
    * can't drift on split semantics. */
  private val evalSplitCtes = """lasto AS (
        SELECT u, ok AS tok FROM (
          SELECT o_custkey AS u, o_orderkey AS ok, row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC)
            AS rn
          FROM orders) WHERE rn = 1),
      tagged AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS i,
          (o_orderkey = lasto.tok) AS is_test
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN lasto ON o_custkey = lasto.u),
      test AS (SELECT u, i FROM tagged WHERE is_test),"""

  /** Eligible-test set and eval-user denominator — the split-level readout
    * scaffolding shared by EVERY eval oracle (model-based and baseline). */
  private val evalEligCtes = """,
      elig AS (
        SELECT t.u, t.i FROM test t
        WHERE NOT EXISTS (
          SELECT 1 FROM baskets b WHERE b.u = t.u AND b.i = t.i)),
      evalu AS (
        SELECT DISTINCT e.u FROM elig e
        WHERE EXISTS (SELECT 1 FROM capped c WHERE c.u = e.u))"""

  /** Per-user first-hit rank over the MODEL's recs (appended after
    * [[servingCtes]] + [[evalEligCtes]]). */
  private val evalMinhitCte = """,
      minhit AS (
        SELECT r.u, min(r.rnk) AS mr FROM recs r
        JOIN elig e ON r.u = e.u AND r.item = e.i
        WHERE r.rnk <= 3 GROUP BY r.u)"""

  /** The hit-rate curve's oracle readout over `minhit` and `evalu`
    * (appended after the per-user first-hit CTE). */
  private val evalHitCurveSql = """,
      hk AS (
        SELECT
          CAST(coalesce(sum(CASE WHEN mr <= 1 THEN 1 END), 0) AS BIGINT) AS h1,
          CAST(coalesce(sum(CASE WHEN mr <= 2 THEN 1 END), 0) AS BIGINT) AS h2,
          CAST(coalesce(sum(CASE WHEN mr <= 3 THEN 1 END), 0) AS BIGINT) AS h3
        FROM minhit),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM evalu)
      SELECT v.k, tot.n_users,
        (CASE v.k WHEN 1 THEN hk.h1 WHEN 2 THEN hk.h2 ELSE hk.h3 END) AS n_hits,
        CAST((1000000000 * (CASE v.k WHEN 1 THEN hk.h1 WHEN 2 THEN hk.h2
          ELSE hk.h3 END)) // greatest(tot.n_users, 1) AS BIGINT)
          AS hit_rate_nano
      FROM (VALUES (1), (2), (3)) v(k)
      CROSS JOIN tot CROSS JOIN hk ORDER BY v.k"""

  /** Engine readout of the hit-rate curve: users whose first hit ranks at
    * most k, for k = 1..3, over the eval-user total, as integer nano-rates.
    * `minHit` is (u, mr = first-hit rank). */
  private def hitRateCurve(minHit: DataFrame, evalUsers: DataFrame): DataFrame = {
    val hitCounts = minHit.agg(
      sum((col("mr") <= 1).cast("long")).as("h1"),
      sum((col("mr") <= 2).cast("long")).as("h2"),
      sum((col("mr") <= 3).cast("long")).as("h3"))
    val total = evalUsers.agg(count(lit(1)).as("n_users"))
    hitCounts.crossJoin(total)
      .select(expr("explode(array(struct(1 AS k, coalesce(h1, 0L) AS n_hits)," +
        " struct(2 AS k, coalesce(h2, 0L) AS n_hits)," +
        " struct(3 AS k, coalesce(h3, 0L) AS n_hits)))").as("e"), col("n_users"))
      .select(col("e.k").as("k"), col("n_users"), col("e.n_hits").as("n_hits"),
        expr("(1000000000L * e.n_hits) div greatest(n_users, 1L)").as("hit_rate_nano"))
      .orderBy(col("k"))
  }

  /** Offline evaluation of the recommender: leave-last-ORDER-out hit rate —
    * the readout that decides whether the neighbor table ships. Each user's
    * chronologically last order (max o_orderdate, order-key tiebreak) is
    * held out; the model TRAINS only on the remaining orders (identical
    * cap/support/score semantics via the shared build); test items the user
    * already owns in train are dropped (an owned-item-excluding recommender
    * can never surface them — keeping them would deflate the metric by
    * construction); and a user counts as a hit at k if any of their top-k
    * recommendations is in the held-out set. Output is the recall@k curve
    * for k = 1..3 over users with a non-empty eligible test set AND a
    * surviving train basket.
    *
    * Scale shapes: the split is a per-user row_number over the ORDER
    * dimension alone (never the lineitem fan-out — an order with no line
    * items can be the holdout, in which case the user simply has no test
    * items and drops out of the denominator); the split table and the
    * retrained model come from [[evalShared]]'s once-per-(session, dir)
    * snapshot (the materialize-the-split-once production shape, now shared
    * with [[evalMrr]]) — and since train ≈ the full corpus, the snapshot's
    * build cost IS one model-training run (~60 s at the sf1 probe across
    * six captures, steal+GC under 10% of it — the honest price of a
    * from-scratch retrain, paid ONCE for the whole eval family);
    * hit detection is a keyed (u, item) semi-join
    * against recommendations (≤ 3 rows/user); and the final curve folds to
    * ONE row of counters crossJoined with the 1-row user total (audited
    * broadcast-spine pattern) before unpivoting to 3 rows. Rates are
    * integer nano-units (non-negative, div ≡ floor).
    */
  val evalHitRate = Declared(
    "rec_eval_hitrate",
    (s, dir) => {
      val (elig, evalUsers, recs, _, _) = evalShared(s, dir)
      val minHit = recs
        .join(elig.select(col("u"), col("i").as("item")), Seq("u", "item"), "left_semi")
        .groupBy(col("u")).agg(min(col("rnk")).as("mr"))
      hitRateCurve(minHit, evalUsers)
    },
    Some(cfCtes(evalSplitCtes, """SELECT u, i FROM tagged WHERE NOT is_test""") +
      servingCtes + evalEligCtes + evalMinhitCte + evalHitCurveSql),
    uses = Seq(taggedBaskets, evalShared))

  /** Mean reciprocal rank at 3 over the same leave-last-order-out split —
    * the position-sensitive companion to [[evalHitRate]]'s recall curve
    * (a model that always hits at rank 3 and one that always hits at rank
    * 1 have the same hit rate@3; MRR separates them). This is the second
    * consumer of [[evalShared]]'s split + retrained-model snapshot: the
    * ~one-retrain build cost amortizes across the eval family exactly as
    * it does in production, where every offline metric reads the same
    * materialized eval artifacts.
    *
    * Semantics: per eval user, the reciprocal of the FIRST hit's rank
    * (1e9 div mr — exact integer nano for mr ∈ {1,2,3}); users with no
    * hit in the top 3 contribute 0; the mean divides by the same
    * denominator as the hit-rate curve (users with a non-empty eligible
    * test set and a surviving train basket). All-integer readout: one
    * counter row crossJoined with the 1-row user total (audited
    * broadcast-spine pattern).
    */
  val evalMrr = Declared(
    "rec_eval_mrr",
    (s, dir) => {
      val (elig, evalUsers, recs, _, _) = evalShared(s, dir)
      val minHit = recs
        .join(elig.select(col("u"), col("i").as("item")), Seq("u", "item"), "left_semi")
        .groupBy(col("u")).agg(min(col("rnk")).as("mr"))
      val agg = minHit.agg(
        count(lit(1)).as("n_hit_users"),
        coalesce(sum(expr("1000000000L div mr")), lit(0L)).as("rr_sum"))
      val total = evalUsers.agg(count(lit(1)).as("n_users"))
      agg.crossJoin(total)
        .select(col("n_users"), col("n_hit_users"),
          expr("rr_sum div greatest(n_users, 1L)").as("mrr_nano"))
    },
    Some(cfCtes(evalSplitCtes, """SELECT u, i FROM tagged WHERE NOT is_test""") +
      servingCtes + evalEligCtes + evalMinhitCte + """,
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hit_users,
          CAST(coalesce(sum(1000000000 // mr), 0) AS BIGINT) AS rr_sum
        FROM minhit),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM evalu)
      SELECT tot.n_users, agg.n_hit_users,
        CAST(agg.rr_sum // greatest(tot.n_users, 1) AS BIGINT) AS mrr_nano
      FROM tot CROSS JOIN agg"""),
    uses = Seq(taggedBaskets, evalShared))

  /** Popularity-baseline hit rate on the IDENTICAL split — the control
    * every recommender eval needs: a neighborhood model that doesn't beat
    * "recommend the 3 most popular items you don't own yet" has learned
    * nothing (the standard ablation in the item-to-item CF literature).
    * Same schema, same denominator, and the same first-hit semantics as
    * [[evalHitRate]], so the lift is a row-by-row subtraction. Third
    * consumer of [[evalShared]]'s artifact snapshot.
    *
    * Scale shapes: train-popularity ranking folds to the item-dimension
    * degree table and TakeOrderedAndProject keeps only the top 50 (a
    * declared constant — enough that after excluding any user's owned
    * items ≥ 3 candidates always survive, since baskets are capped at
    * 100... formally it needs owned∩top50 ≤ 47, which the cap guarantees
    * nothing about but the readout tolerates: a user with fewer than 3
    * surviving candidates just has a shorter list, identically in both
    * engines); candidates are |eval users| × 50 rows via a broadcast of
    * the 50-row list (the one declared cross join — bounded fan-out,
    * linear in users); ownership exclusion is the same keyed anti-join
    * serving uses; per-user ranking is a keyed window WindowGroupLimit
    * prunes. All-integer readout identical to the hit-rate curve's.
    */
  val evalPopBaseline = Declared(
    "rec_eval_pop_baseline",
    (s, dir) => {
      val (elig, evalUsers, _, capped, byUser) = evalShared(s, dir)
      val top50 = capped.groupBy(col("i")).agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("i")).limit(50)
      // ownership exclusion via the u-keyed ≤100-element item array (same
      // rewrite as [[serveTop3]]): the old shape crossJoined FIRST (50×
      // fan-out), anti-joined the fanned-out rows on (u, i), then exchanged
      // the survivors a third time for the per-user window; joining
      // evalUsers to its array at 1× fan-out leaves hashpartitioning(u) in
      // place for the window — one exchange of the user stream total.
      val cand = evalUsers.join(byUser, "u")
        .crossJoin(broadcast(top50))
        .filter(!array_contains(col("items"), col("i")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("u")).orderBy(col("d").desc, col("i"))))
        .filter(col("rnk") <= 3)
        .select(col("u"), col("i"), col("rnk"))
      val minHit = cand
        .join(elig, Seq("u", "i"), "left_semi")
        .groupBy(col("u")).agg(min(col("rnk")).as("mr"))
      hitRateCurve(minHit, evalUsers)
    },
    Some(cfCtes(evalSplitCtes, """SELECT u, i FROM tagged WHERE NOT is_test""") +
      evalEligCtes + """,
      top50 AS (SELECT i, d FROM deg ORDER BY d DESC, i LIMIT 50),
      cand AS (
        SELECT u, i, rnk FROM (
          SELECT ev.u, t.i,
            row_number() OVER (PARTITION BY ev.u ORDER BY t.d DESC, t.i) AS rnk
          FROM evalu ev CROSS JOIN top50 t
          WHERE NOT EXISTS (
            SELECT 1 FROM capped c WHERE c.u = ev.u AND c.i = t.i))
        WHERE rnk <= 3),
      minhit AS (
        SELECT c.u, min(c.rnk) AS mr FROM cand c
        JOIN elig e ON c.u = e.u AND c.i = e.i
        GROUP BY c.u)""" + evalHitCurveSql),
    uses = Seq(taggedBaskets, evalShared))

  /** Beyond-accuracy serving metrics — the two readouts that catch a
    * recommender "working" by only ever pushing bestsellers: catalog
    * COVERAGE at k (what fraction of the trainable catalog ever appears in
    * a top-k list) and NOVELTY at k (mean self-information −ln(d_i/U) of
    * the recommended items' popularity — higher means the model surfaces
    * long-tail items a popularity baseline would never show; Castells et
    * al., RecSys handbook ch. 26). Both read the SHARED model snapshot and
    * the same serving pipeline [[topN]] ships.
    *
    * Scale shapes: per-item self-information is computed ONCE on the
    * item-dimension-sized degree table (one ln per item, rounded once to
    * nano), then joined keyed onto the ≤3-rows-per-user recs; the per-k
    * readout folds to three rows via one conditional aggregate; catalog
    * and user totals are 1-row broadcasts (audited spine pattern). Novelty
    * averages exact nano longs (sum div count), so no float summation
    * order exists anywhere.
    */
  val metrics = Declared(
    "rec_metrics",
    (s, dir) => {
      val (capped, _, _, recs) = cfShared(s, dir)
      val deg = capped.groupBy(col("i")).agg(count(lit(1)).as("d"))
      val nUsers = capped.select(col("u")).distinct()
        .agg(count(lit(1)).as("n_users"))
      val nCatalog = deg.agg(count(lit(1)).as("n_catalog"))
      val selfInfo = deg.crossJoin(broadcast(nUsers))
        .select(col("i").as("item"),
          expr("CAST(round(ln(CAST(n_users AS DOUBLE) / d) * 1e9) AS BIGINT)")
            .as("info_nano"))
      val recsInfo = recs.join(selfInfo, "item").localCheckpoint()
      val perK = (1 to 3).map { k =>
        recsInfo.filter(col("rnk") <= k)
          .agg(count(lit(1)).as("n_rec_rows"),
            count_distinct(col("item")).as("n_distinct_items"),
            sum(col("info_nano")).as("info_sum"))
          .select(lit(k).as("k"), col("n_rec_rows"),
            col("n_distinct_items"), col("info_sum"))
      }.reduce(_ union _)
      perK.crossJoin(broadcast(nCatalog))
        .select(col("k"), col("n_rec_rows"), col("n_distinct_items"),
          expr("(1000000000L * n_distinct_items) div n_catalog")
            .as("coverage_nano"),
          expr("info_sum div greatest(n_rec_rows, 1L)").as("avg_novelty_nano"))
        .orderBy(col("k"))
    },
    Some(cfOracleCtes + servingCtes + """,
      degi AS (SELECT i, CAST(count(*) AS BIGINT) AS d FROM capped GROUP BY i),
      nu AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_users FROM capped),
      ncat AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM degi),
      selfinfo AS (
        SELECT i AS item,
          CAST(round(ln(CAST(n_users AS DOUBLE) / d) * 1e9) AS BIGINT)
            AS info_nano
        FROM degi CROSS JOIN nu),
      ri AS (
        SELECT r.u, r.rnk, r.item, s.info_nano
        FROM recs r JOIN selfinfo s ON r.item = s.item WHERE r.rnk <= 3),
      perk AS (
        SELECT v.k,
          CAST(count(*) AS BIGINT) AS n_rec_rows,
          CAST(count(DISTINCT ri.item) AS BIGINT) AS n_distinct_items,
          CAST(sum(ri.info_nano) AS BIGINT) AS info_sum
        FROM (VALUES (1), (2), (3)) v(k) JOIN ri ON ri.rnk <= v.k
        GROUP BY v.k)
      SELECT k, n_rec_rows, n_distinct_items,
        CAST((1000000000 * n_distinct_items) // n_catalog AS BIGINT)
          AS coverage_nano,
        CAST(info_sum // greatest(n_rec_rows, 1) AS BIGINT)
          AS avg_novelty_nano
      FROM perk CROSS JOIN ncat ORDER BY k"""),
    uses = Seq(taggedBaskets, cfShared))

  val all: Seq[Declared] = Seq(itemCf, topN, evalHitRate, evalMrr,
    evalPopBaseline, metrics)
}
