package graft.queries

import graft.{Declared, SharedArtifact, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relationships implied by the TPC-H-ish
  * fixture. Complements [[graft.operators.DedupClusters]] (connected
  * components): where label propagation converges on set membership, the
  * power iteration here converges on node IMPORTANCE — the two canonical
  * shuffle-per-round Spark graph workloads. GraphX/GraphFrames execute the
  * same per-round shape (edge join + aggregate-by-destination); declaring
  * it with DataFrames keeps Catalyst in charge of the join strategy.
  */
object GraphQ {
  import Tables.t

  // Every round's shape is "static edge table ⋈ node state → aggregate by
  // the other endpoint": the edge table is hash-partitioned by the aggregate
  // key once (checkpointed) and the O(nodes) state goes through the one
  // size-gated broadcast hint, so the round is exchange-free on the edge side.
  import graft.functions.Hints.msgHint

  /** The distinct customer–supplier trade pair table (c, su) — the ONE
    * edge artifact four graph analytics derive their graph from (pagerank,
    * kcore, assortativity, label spread/modularity). Built and
    * localCheckpointed once per (session, dir): in production the trade
    * graph is materialized once and every analytic reads it (each query
    * previously re-ran the lineitem ⋈ orders distinct itself, ~1.2 s × 4
    * at sf0.1).
    */
  private val custSuppPairs = new SharedArtifact("graph_trade_pairs")((s, dir) =>
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("su"))
      .distinct()
      .localCheckpoint())

  /** The co-order part-pair graph (p1 < p2, n = co-order count, support
    * ≥ 2) — the second shared edge artifact: triangles, link_predict and
    * sssp each previously re-ran the SAME items self-join + pair aggregate
    * (the most expensive stage of all three). One checkpoint per
    * (session, dir); consumers derive their weight/selection columns from
    * (p1, p2, n) in place.
    */
  private val coPartPairs = new SharedArtifact("graph_copart_pairs")((s, dir) => {
    val items = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    items.select(col("l_orderkey"), col("l_partkey").as("p1"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("p2")),
        "l_orderkey")
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .localCheckpoint()
  })

  /** Warm hooks of perfbench's artifact probe: build one edge artifact. */
  private[graft] def warmTrade(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    custSuppPairs(s, dir)
  private[graft] def warmCoPart(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    coPartPairs(s, dir)

  /** One power-iteration round: damped rank from the previous rank vector
    * over a dst-partitioned edge table carrying outdeg. Broadcast join +
    * in-place aggregate-by-dst — R12OpsSpec pins zero ShuffleExchange in
    * this stage.
    */
  private[graft] def rankRound(
      edges: DataFrame, rank: DataFrame, nNodes: Long): DataFrame =
    edges.join(msgHint(rank, nNodes), edges("src") === rank("node"))
      .select(col("dst"), expr("rank div outdeg").as("contrib"))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("cb"))
      .select(col("dst").as("node"),
        expr("150000000L + (85L * cb) div 100L").as("rank"))

  /** PageRank over the bipartite customer–supplier graph (an edge per
    * distinct (customer, supplier) trading pair in lineitem ⋈ orders),
    * made undirected so no node dangles. Three power iterations with 0.85
    * damping; top-20 nodes reported.
    *
    * Scale shape: the edge list (with out-degrees attached) is built once,
    * hash-partitioned by dst — the per-round AGGREGATE key — and
    * localCheckpointed; each round broadcasts the O(nodes) rank vector onto
    * it ([[msgHint]]) and aggregates contributions by dst IN PLACE, so a
    * power iteration moves zero edge-sized bytes: the only per-round
    * exchange is the node-sized rank table itself. (The r7–r11 shape
    * shuffled the edge list per round — join-on-src plus aggregate-by-dst —
    * and measured 161 s at the sf10 corpus.) State is O(nodes), nothing on
    * the driver but the loop counter and the node count that gates the
    * hint. Supplier node ids are offset by
    * 10^9 to disjoint the two key spaces — deliberately NOT a
    * fixture-sized constant: the round-7 10x-scale probe corpus grew the
    * customer id range past the original 100000 offset, silently fusing
    * high customers with suppliers into one node space.
    *
    * Determinism: ranks live in integer MICRO-UNITS (1e9 = rank 1.0) and
    * every step is integer arithmetic — `rank div outdeg` per edge,
    * `0.15·1e9 + (85·sum) div 100` per node — so no floating sum order can
    * perturb the result in either engine; doubles never appear.
    */
  val pagerank = Declared(
    "graph_pagerank",
    (s, dir) => {
      val eraw = custSuppPairs(s, dir)
      val undirected = eraw
        .select(col("c").as("src"), (col("su") + 1000000000L).as("dst"))
        .union(eraw.select((col("su") + 1000000000L).as("src"), col("c").as("dst")))
      // the degree table doubles as the node dimension: it is node-sized,
      // checkpointed once, and seeds the rank vector without an extra
      // distinct over the edge list
      val deg = undirected.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        .localCheckpoint()
      val nNodes = deg.count()
      // ONE edge-sized shuffle for the whole query: attach outdeg by
      // broadcast, partition by dst (the per-round aggregate key), pin it
      val edges = undirected.join(msgHint(deg, nNodes), "src")
        .repartition(col("dst")).localCheckpoint()
      var rank = deg.select(col("src").as("node"))
        .withColumn("rank", lit(1000000000L))
      // checkpoint each round (DedupClusters' cadence): fusing all three
      // rounds into one lineage LOOKS like it saves jobs, but in a warm
      // JVM the tripled join+agg tree pays more in optimizer/codegen time
      // (measured 6.5 s fused vs 3.4 s checkpointed, same session, sf0.1)
      // than the two extra tiny materializations (O(nodes) rows each)
      // cost; in a cold JVM generic JIT warmup (~5 s) dominates either
      // way. An unbounded convergence loop needs the flat lineage anyway.
      for (_ <- 1 to 3) {
        rank = rankRound(edges, rank, nNodes).localCheckpoint()
      }
      rank
        .select(col("node"), col("rank"),
          when(col("node") >= 1000000000L, lit("supplier"))
            .otherwise(lit("customer")).as("kind"))
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
    },
    Some("""WITH eraw AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS su
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      e0 AS (
        SELECT c AS src, su + 1000000000 AS dst FROM eraw
        UNION ALL
        SELECT su + 1000000000 AS src, c AS dst FROM eraw),
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e0 GROUP BY src),
      e AS (SELECT e0.src, e0.dst, deg.outdeg FROM e0 JOIN deg USING (src)),
      r0 AS (SELECT DISTINCT src AS node, CAST(1000000000 AS BIGINT) AS rank FROM e0),
      c1 AS (SELECT e.dst AS node, CAST(sum(r.rank // e.outdeg) AS BIGINT) AS cb
             FROM e JOIN r0 r ON e.src = r.node GROUP BY e.dst),
      r1 AS (SELECT node, CAST(150000000 + (85 * cb) // 100 AS BIGINT) AS rank FROM c1),
      c2 AS (SELECT e.dst AS node, CAST(sum(r.rank // e.outdeg) AS BIGINT) AS cb
             FROM e JOIN r1 r ON e.src = r.node GROUP BY e.dst),
      r2 AS (SELECT node, CAST(150000000 + (85 * cb) // 100 AS BIGINT) AS rank FROM c2),
      c3 AS (SELECT e.dst AS node, CAST(sum(r.rank // e.outdeg) AS BIGINT) AS cb
             FROM e JOIN r2 r ON e.src = r.node GROUP BY e.dst),
      r3 AS (SELECT node, CAST(150000000 + (85 * cb) // 100 AS BIGINT) AS rank FROM c3)
      SELECT CAST(node AS BIGINT) AS node, rank,
        CASE WHEN node >= 1000000000 THEN 'supplier' ELSE 'customer' END AS kind
      FROM r3 ORDER BY rank DESC, node LIMIT 20"""),
    uses = Seq(custSuppPairs))

  /** Oracle CTEs of the co-purchase graph: items (distinct order × part)
    * and e0, the part pairs (p1 < p2) bought together in at least 2 orders. */
  private def coPartEdgeCtes: String = """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2)"""

  /** Triangle counting over the part co-purchase graph (parts are linked
    * when ≥2 distinct orders contain both — the HAVING both sparsifies the
    * graph and de-noises one-off baskets). Degree-oriented compact-forward
    * counting: every undirected edge is oriented from its lower-(degree,id)
    * endpoint to the higher one, wedges are built only among a node's
    * out-neighbors, and a wedge closes iff its (higher, highest) endpoints
    * are themselves an oriented edge. Orienting by DEGREE bounds total
    * wedge work at O(m^1.5) regardless of hubs — orienting by id alone
    * would let one popular part generate deg² wedges — and every triangle
    * is counted exactly once (its endpoints appear in one canonical order).
    *
    * Shapes: distinct-items fold, within-order pair fan-out keyed by
    * orderkey (bounded by basket size, not corpus), one degree join, wedge
    * self-join on src, closing equi-join on the wedge endpoints — all
    * shuffles on keys. The (degree, id) order is packed into one long
    * (deg·1e7 + id; id < 1e7 by fixture construction) so both engines
    * compare a single integer. The edge list is checkpointed once and
    * consumed three times (two wedge sides + the closing probe).
    */
  val triangles = Declared(
    "graph_triangles",
    (s, dir) => {
      // shared co-order pair artifact — feeds the degree fold AND the
      // keyed orientation
      val e0 = coPartPairs(s, dir).select(col("p1"), col("p2"))
      val deg = e0.select(col("p1").as("v"))
        .union(e0.select(col("p2").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val ed = e0
        .join(deg.select(col("v").as("p1"), col("d").as("d1")), "p1")
        .join(deg.select(col("v").as("p2"), col("d").as("d2")), "p2")
        .select(
          (col("d1") * 10000000L + col("p1")).as("k1"),
          (col("d2") * 10000000L + col("p2")).as("k2"),
          col("p1"), col("p2"))
        .select(
          when(col("k1") < col("k2"), col("p1")).otherwise(col("p2")).as("src"),
          greatest(col("k1"), col("k2")).as("dstkey"))
        .withColumn("dst", col("dstkey") % 10000000L)
        .localCheckpoint() // consumed three times below
      val wedges = ed.select(col("src"), col("dstkey").as("ka"), col("dst").as("a"))
        .join(ed.select(col("src"), col("dstkey").as("kb"), col("dst").as("b")), "src")
        .filter(col("ka") < col("kb"))
        .select(col("a"), col("b"))
      val nTri = wedges
        .join(ed.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e0.agg(count(lit(1)).as("n_edges")))
        .crossJoin(nTri)
    },
    Some(s"""$coPartEdgeCtes,
      deg AS (
        SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT p1 AS v FROM e0 UNION ALL SELECT p2 FROM e0) GROUP BY v),
      ed AS (
        SELECT CASE WHEN d1.d * 10000000 + p1 < d2.d * 10000000 + p2
                    THEN p1 ELSE p2 END AS src,
               greatest(d1.d * 10000000 + p1, d2.d * 10000000 + p2) AS dstkey
        FROM e0 JOIN deg d1 ON p1 = d1.v JOIN deg d2 ON p2 = d2.v),
      ed2 AS (SELECT src, dstkey, dstkey % 10000000 AS dst FROM ed),
      wedges AS (
        SELECT x.dst AS a, y.dst AS b
        FROM ed2 x JOIN ed2 y ON x.src = y.src AND x.dstkey < y.dstkey),
      tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM wedges w
        WHERE EXISTS (SELECT 1 FROM ed2 e WHERE w.a = e.src AND w.b = e.dst))
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges,
             (SELECT n_triangles FROM tri) AS n_triangles"""),
    uses = Seq(coPartPairs))

  /** One k-core peel cascade over an undirected (src, dst) edge frame:
    * `rounds` iterations of drop-every-node-with-degree-<-k. The peel is
    * tracked as a shrinking ALIVE NODE SET over a static edge table rather
    * than by re-materializing the edge list per round (the r7–r11 shape,
    * which paid three edge-sized shuffles plus an edge-sized checkpoint
    * every round and measured 288 s at the sf10 corpus): the edge table is
    * hash-partitioned by src — the degree key — ONCE and checkpointed, and
    * each round is a broadcast semi-join on the alive dst set ([[msgHint]])
    * plus an in-place degree aggregate, so a round moves zero edge-sized
    * bytes and materializes only O(nodes).
    *
    * Equivalence with the edge-filter formulation (the oracle's e1..e6 CTE
    * chain): with A_0 = all nodes and A_{r+1} = {v : |Γ(v) ∩ A_r| ≥ k},
    * induction gives A_{r+1} ⊆ A_r (a node dead at round j has
    * |Γ(v) ∩ A_r| ≤ |Γ(v) ∩ A_{j-1}| < k forever after, so filtering only
    * the DST side of the semi-join is enough — dead sources can't re-enter)
    * and E|_{A_r} = e_r exactly. Monotonicity also yields the free
    * convergence test: A_{r+1} ⊆ A_r means an unchanged COUNT proves the
    * fixed point, and every remaining round is a literal no-op — so the
    * loop early-exits with the identical result (the fixture converges in
    * 2 rounds; the crafted KCoreSpec chain keeps cascading and must not
    * exit). Exposed for KCoreSpec's crafted-chain cascade proof.
    */
  /** One peel round: alive nodes after dropping degree-<-k over the
    * subgraph induced by `alive` (None = all alive). On a src-partitioned
    * edge table the plan is one broadcast semi-join + one in-place hash
    * aggregate — R12OpsSpec pins zero ShuffleExchange in this stage.
    */
  private[graft] def peelRound(
      edges: DataFrame, alive: Option[(DataFrame, Long)], k: Int): DataFrame = {
    val live = alive match {
      case None => edges
      case Some((a, n)) =>
        edges.join(msgHint(a.select(col("node").as("dst")), n), Seq("dst"), "left_semi")
    }
    live.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("src").as("node"))
  }

  def kcorePeel(edges0: org.apache.spark.sql.DataFrame, k: Int, rounds: Int)
      : org.apache.spark.sql.DataFrame = {
    if (rounds <= 0) return edges0
    val edges = edges0.repartition(col("src")).localCheckpoint()
    var alive: Option[(DataFrame, Long)] = None // None = every node alive
    var converged = false
    var r = 0
    while (r < rounds && !converged) {
      val next = peelRound(edges, alive, k).localCheckpoint()
      val nc = next.count()
      converged = alive.exists(_._2 == nc)
      alive = Some((next, nc))
      r += 1
    }
    val (a, n) = alive.get
    edges
      .join(msgHint(a.select(col("node").as("dst")), n), Seq("dst"), "left_semi")
      .join(msgHint(a.select(col("node").as("src")), n), Seq("src"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /** k-core decomposition (k=34) of the customer–supplier trading graph —
    * the standard dense-subgraph screen (spam/bot rings, mutually-reinforcing
    * boilerplate clusters) and the classic CASCADING peel: removing a weak
    * node lowers its neighbors' degrees, which can drop them next round.
    * Peeling budgets a FIXED 6 rounds on both engines and [[kcorePeel]]
    * early-exits at the provable fixed point (the fixture converges in 2 —
    * the peel is monotone, so once the alive count stops shrinking every
    * further round is a no-op and the result is identical to running all
    * 6); the oracle unrolls the same 6 rounds as chained CTEs. Per round:
    * one broadcast semi-join + one in-place hash aggregate over the
    * src-partitioned static edge table — zero edge-sized exchanges, state
    * O(nodes), no driver payload but the loop counter and the alive count
    * that both gates the broadcast and proves convergence.
    * KCoreSpec proves a ≥4-round cascade on a crafted pendant-chain graph
    * via [[kcorePeel]]; the r10 edge-refilter shape (three edge shuffles +
    * an edge checkpoint per round, all 6 rounds always) measured 288 s at
    * the sf10 corpus — the r12 rebuild exists because that curve read
    * ~2900 s at sf100, all of it per-round edge motion the alive-set
    * formulation provably never pays.
    */
  val kcore = Declared(
    "graph_kcore",
    (s, dir) => {
      val K = 34
      val eraw = custSuppPairs(s, dir)
      val undirected = eraw
        .select(col("c").as("src"), (col("su") + 1000000000L).as("dst"))
        .union(eraw.select((col("su") + 1000000000L).as("src"), col("c").as("dst")))
      kcorePeel(undirected, K, rounds = 6)
        .groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .select(col("src").as("node"), col("degree"))
        .orderBy(col("degree").desc, col("node"))
        .limit(20)
    },
    Some {
      val peels = (1 to 6).map { r =>
        s"""k$r AS (SELECT src FROM e${r - 1} GROUP BY src HAVING count(*) >= 34),
      e$r AS (SELECT e${r - 1}.src, e${r - 1}.dst FROM e${r - 1}
        JOIN k$r a ON e${r - 1}.src = a.src JOIN k$r b ON e${r - 1}.dst = b.src)"""
      }.mkString(",\n      ")
      s"""WITH p AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS su
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      e0 AS (
        SELECT c AS src, su + 1000000000 AS dst FROM p
        UNION ALL SELECT su + 1000000000, c FROM p),
      $peels
      SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
      FROM e6 GROUP BY src ORDER BY degree DESC, node LIMIT 20"""
    },
    uses = Seq(custSuppPairs))

  /** Semi-supervised label propagation over the same customer–supplier
    * trade graph [[pagerank]] ranks — the weak-supervision primitive a
    * labeling pipeline runs when 10% of nodes carry ground truth and the
    * graph must vote the rest (Zhu & Ghahramani 2002, hard-clamp variant):
    * seeds (every 10th customer, labeled by nation) stay clamped; two
    * propagation rounds give every node the MAJORITY label of its labeled
    * neighbors (exact integer votes, ties to the smallest label — fully
    * deterministic, no float weights). Round 1 labels suppliers from their
    * seeded customers, round 2 flows those back to unlabeled customers —
    * the bipartite diameter-2 shape that makes two rounds the natural
    * budget. Each round is one shuffle-join + one vote aggregate + a
    * per-node top-1 window (O(edges) work, O(nodes) state,
    * localCheckpointed like the pagerank cadence). Output is the per-label
    * coverage ledger plus the unlabeled remainder (label −1).
    */
  /** The undirected trade graph + final 2-round propagated labels shared by
    * [[labelSpread]] (coverage ledger) and [[modularity]] (partition
    * quality), localCheckpointed ONCE per (session, dir) — in production
    * the propagated labeling is materialized once per training run and
    * every consumer reads the artifact. */
  private val tradeLabelSpread = new SharedArtifact("graph_spread_labels")(buildLabelSpread)

  private def buildLabelSpread(
      s: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val eraw = custSuppPairs(s, dir)
    // partitioned by src — the key of the per-round vote aggregate AND its
    // top-1 window — so each propagation round broadcasts the node-sized
    // label map onto the pinned edge layout ([[msgHint]]) and elects
    // in place: zero edge-sized exchanges per round (the pagerank shape)
    val und = eraw
      .select(col("c").as("src"), (col("su") + 1000000000L).as("dst"))
      .union(eraw.select((col("su") + 1000000000L).as("src"), col("c").as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    val seeds = t(s, dir, "customer")
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("node"),
        col("c_nationkey").cast("long").as("label"))
    var labels = seeds
    var nLab = seeds.count()
    for (_ <- 1 to 2) {
      val votes = und
        .join(msgHint(labels.select(col("node").as("dst"), col("label")), nLab), "dst")
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("v"))
      val wVote = Window.partitionBy(col("src"))
        .orderBy(col("v").desc, col("label"))
      val elected = votes.withColumn("rn", row_number().over(wVote))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("label"))
      labels = seeds.unionByName(
        elected.join(seeds.select(col("node")), Seq("node"), "left_anti"))
        .localCheckpoint()
      nLab = labels.count()
    }
    (und, labels)
  }

  /** The eraw/und/seeds/v1..l2 CTE chain both spread oracles share. */
  private val spreadCtesSql: String = """eraw AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS su
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      und AS (
        SELECT c AS src, su + 1000000000 AS dst FROM eraw
        UNION ALL
        SELECT su + 1000000000 AS src, c AS dst FROM eraw),
      seeds AS (
        SELECT c_custkey AS node, CAST(c_nationkey AS BIGINT) AS label
        FROM customer WHERE c_custkey % 10 = 0),
      v1 AS (
        SELECT und.src, l.label, count(*) AS v
        FROM und JOIN seeds l ON l.node = und.dst GROUP BY 1, 2),
      e1 AS (
        SELECT src AS node, label FROM (
          SELECT src, label,
            row_number() OVER (PARTITION BY src ORDER BY v DESC, label) AS rn
          FROM v1) WHERE rn = 1),
      l1 AS (
        SELECT * FROM seeds
        UNION ALL
        SELECT * FROM e1 WHERE node NOT IN (SELECT node FROM seeds)),
      v2 AS (
        SELECT und.src, l.label, count(*) AS v
        FROM und JOIN l1 l ON l.node = und.dst GROUP BY 1, 2),
      e2 AS (
        SELECT src AS node, label FROM (
          SELECT src, label,
            row_number() OVER (PARTITION BY src ORDER BY v DESC, label) AS rn
          FROM v2) WHERE rn = 1),
      l2 AS (
        SELECT * FROM seeds
        UNION ALL
        SELECT * FROM e2 WHERE node NOT IN (SELECT node FROM seeds))"""

  val labelSpread = Declared(
    "graph_label_spread",
    (s, dir) => {
      val (und, labels) = tradeLabelSpread(s, dir)
      val nodes = und.select(col("src").as("node")).distinct()
      val total = nodes.agg(count(lit(1)).as("n_nodes"))
      val labeled = nodes.join(labels, "node")
      val unl = nodes.join(labels.select(col("node")), Seq("node"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit(-1L).as("label"), col("n"))
      labeled.groupBy(col("label")).agg(count(lit(1)).as("n"))
        .unionByName(unl)
        .crossJoin(broadcast(total))
        .select(col("label"), col("n"),
          round(col("n").cast("double") / col("n_nodes"), 6).as("share"))
        .orderBy(col("label"))
    },
    Some(s"""WITH $spreadCtesSql,
      nodes AS (SELECT DISTINCT src AS node FROM und),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
      m AS (
        SELECT l2.label, CAST(count(*) AS BIGINT) AS n
        FROM nodes JOIN l2 USING (node) GROUP BY l2.label
        UNION ALL
        SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT)
        FROM nodes WHERE node NOT IN (SELECT node FROM l2))
      SELECT label, n, round(CAST(n AS DOUBLE) / tot.n_nodes, 6) AS share
      FROM m CROSS JOIN tot ORDER BY label"""),
    uses = Seq(custSuppPairs, tradeLabelSpread))

  /** Modularity of the propagated partition — the quality score that says
    * whether [[labelSpread]]'s communities are REAL structure or noise
    * (Newman's Q: Σ_c [in_c/2m − (deg_c/2m)²], positive when communities
    * hold more internal edges than a degree-preserving random graph would):
    * one pass over the labeled edge list folds per-community internal-edge
    * and degree totals (the undirected list carries both directions, so 2m
    * is simply its row count and every sum is an exact long), and each
    * community's Q term is one deterministic double expression over those
    * longs, rounded ONCE to integer nano-units (`q_term_nano`) — the
    * repo-wide cross-engine float discipline ([[assortativity]]'s
    * `r_nano`). Round 7 shipped this as `round(q, 6)` of the raw double
    * and a community whose raw term was −1.45e-07 rounded to −0.0 in
    * DuckDB but +0.0 in Spark, splitting the hash on the sign bit of
    * zero; nano-ints have a single zero, closing that class here.
    * O(edges) total, readout O(communities); unlabeled endpoints
    * fold into community −1 rather than silently dropping edges.
    */
  val modularity = Declared(
    "graph_modularity",
    (s, dir) => {
      val (und, labels) = tradeLabelSpread(s, dir)
      // both endpoint-tag joins ship the node-sized label map to the
      // src-pinned edge table ([[msgHint]]): no edge-sized exchange before
      // the per-community fold
      val nLab = labels.count()
      val tagged = und
        .join(msgHint(labels.select(col("node").as("src"), col("label").as("sl")), nLab),
          Seq("src"), "left")
        .join(msgHint(labels.select(col("node").as("dst"), col("label").as("dl")), nLab),
          Seq("dst"), "left")
        .select(coalesce(col("sl"), lit(-1L)).as("sl"),
          coalesce(col("dl"), lit(-1L)).as("dl"))
      val total = tagged.agg(count(lit(1)).as("n2m"))
      tagged.groupBy(col("sl").as("label"))
        .agg(count(lit(1)).as("deg_sum"),
          sum(when(col("sl") === col("dl"), 1L).otherwise(0L)).as("in_ordered"))
        .crossJoin(broadcast(total))
        .select(col("label"),
          expr("in_ordered DIV 2").as("in_edges"),
          col("deg_sum"),
          expr("""CAST(round((CAST(in_ordered AS DOUBLE) / n2m -
                 (CAST(deg_sum AS DOUBLE) / n2m) *
                 (CAST(deg_sum AS DOUBLE) / n2m)) * 1e9) AS BIGINT)""")
            .as("q_term_nano"))
        .orderBy(col("label"))
    },
    Some(s"""WITH $spreadCtesSql,
      tagged AS (
        SELECT coalesce(ls.label, -1) AS sl, coalesce(ld.label, -1) AS dl
        FROM und
        LEFT JOIN l2 ls ON ls.node = und.src
        LEFT JOIN l2 ld ON ld.node = und.dst),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n2m FROM tagged),
      m AS (
        SELECT sl AS label, CAST(count(*) AS BIGINT) AS deg_sum,
          CAST(sum(CASE WHEN sl = dl THEN 1 ELSE 0 END) AS BIGINT) AS in_ordered
        FROM tagged GROUP BY sl)
      SELECT label, in_ordered // 2 AS in_edges, deg_sum,
        CAST(round((CAST(in_ordered AS DOUBLE) / tot.n2m -
          (CAST(deg_sum AS DOUBLE) / tot.n2m) *
          (CAST(deg_sum AS DOUBLE) / tot.n2m)) * 1e9) AS BIGINT) AS q_term_nano
      FROM m CROSS JOIN tot ORDER BY label"""),
    uses = Seq(custSuppPairs, tradeLabelSpread))

  /** Link prediction over the part co-purchase graph (the "parts bought
    * together but never yet in the same basket pair" recommender readout):
    * each non-adjacent pair (x, y) scored by the Resource-Allocation index
    * RA = Σ_{z ∈ Γ(x)∩Γ(y)} 1/deg(z) (Zhou et al. 2009) — the
    * common-neighbor family's member whose terms are exact rationals, so
    * the whole score lives in integer NANO-UNITS via `1e9 div deg` and no
    * float summation order exists in either engine (Adamic–Adar's 1/ln(deg)
    * would drag libm in). Candidate generation is the wedge join: both
    * oriented copies of the edge list joined on the shared neighbor z, the
    * x<y filter canonicalizes pairs, and a LEFT ANTI join against the edge
    * list keeps only NON-edges — prediction, not re-discovery.
    *
    * Scale shape: wedge fan-out through z is deg(z)², so super-hubs are
    * capped out (deg ≤ 64) BEFORE the self-join — the standard RA truncation
    * (a hub's per-wedge contribution is ≤ 1/65 while its cost is quadratic;
    * dropping it changes scores by at most the tail mass it carried, and the
    * cap is part of the declared semantics, applied identically in the
    * oracle). Everything else is keyed joins + one hash aggregate over the
    * bounded wedge set; top-20 is TakeOrderedAndProject.
    */
  val linkPredict = Declared(
    "graph_link_predict",
    (s, dir) => {
      // shared co-order pair artifact — consumed by degrees, wedges, and
      // the anti probe
      val e0 = coPartPairs(s, dir).select(col("p1"), col("p2"))
      val und = e0.select(col("p1").as("z"), col("p2").as("v"))
        .union(e0.select(col("p2").as("z"), col("p1").as("v")))
      val deg = und.groupBy(col("z")).agg(count(lit(1)).as("d"))
      val hub = und.join(deg.filter(col("d") <= 64), "z")
      val cand = hub.select(col("z"), col("d"), col("v").as("x"))
        .join(hub.select(col("z"), col("v").as("y")), "z")
        .filter(col("x") < col("y"))
        .groupBy(col("x"), col("y"))
        .agg(sum(expr("1000000000L div d")).as("ra_nano"),
          count(lit(1)).as("n_common"))
      cand
        .join(e0.select(col("p1").as("x"), col("p2").as("y")),
          Seq("x", "y"), "left_anti")
        .orderBy(col("ra_nano").desc, col("x"), col("y"))
        .limit(20)
    },
    Some(s"""$coPartEdgeCtes,
      und AS (
        SELECT p1 AS z, p2 AS v FROM e0
        UNION ALL SELECT p2 AS z, p1 AS v FROM e0),
      deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY z),
      hub AS (SELECT und.z, und.v, deg.d FROM und
        JOIN deg ON und.z = deg.z AND deg.d <= 64),
      cand AS (
        SELECT a.v AS x, b.v AS y,
          CAST(sum(1000000000 // a.d) AS BIGINT) AS ra_nano,
          CAST(count(*) AS BIGINT) AS n_common
        FROM hub a JOIN hub b ON a.z = b.z AND a.v < b.v
        GROUP BY 1, 2)
      SELECT x, y, ra_nano, n_common FROM cand
      WHERE NOT EXISTS (
        SELECT 1 FROM e0 WHERE e0.p1 = cand.x AND e0.p2 = cand.y)
      ORDER BY ra_nano DESC, x, y LIMIT 20"""),
    uses = Seq(coPartPairs))

  /** Hop-bounded single-source shortest paths (4 Bellman–Ford rounds) over
    * the weighted part co-purchase graph — the proximity readout the other
    * graph queries don't give: not "is there a path" (q_recursive_cte) or
    * "how important is the node" ([[pagerank]]) but "how CLOSE is it".
    * Edges reuse [[triangles]]' sparsified co-purchase construction
    * (parts sharing ≥2 distinct orders); the edge weight is an integer
    * dissimilarity `1e6 div n_shared` — frequently co-bought parts are
    * near, and the division is exact on the positive domain so no float
    * ever appears. Source = min node id of the edge list, derived by an
    * aggregate (one O(1) row, never a collect).
    *
    * Scale shape: each round is ONE shuffle-on-src join plus one min-by-node
    * aggregate — O(edges) work and O(nodes) state per round, the label-
    * propagation cadence ([[kcorePeel]], [[pagerank]]) with min-plus instead
    * of sum-times; the frontier table is localCheckpointed per round so the
    * lineage stays flat. Rounds are FIXED at 4 on both engines (the oracle
    * unrolls 4 relaxations as chained CTEs): distances are exact for paths
    * of ≤4 hops — the bounded-neighborhood semantics a trillion-edge run
    * would also pick (unbounded Bellman–Ford is O(V) rounds worst-case);
    * R7OpsSpec re-derives the fixture's top-20 by a driver-side replay of
    * the same four relaxation rounds.
    */
  val sssp = Declared(
    "graph_sssp",
    (s, dir) => {
      // shared co-order pair artifact; the inverse-support weight derives
      // in place from its count column
      val e0 = coPartPairs(s, dir)
        .select(col("p1"), col("p2"), expr("1000000L div n").as("w"))
      // consumed once per relaxation round; the frontier table is O(reached
      // nodes), so each round broadcasts it onto the static edge list
      // ([[msgHint]]) — a relaxation moves only edges INCIDENT to the
      // frontier, never the full edge set
      val edges = e0.select(col("p1").as("src"), col("p2").as("dst"), col("w"))
        .union(e0.select(col("p2").as("src"), col("p1").as("dst"), col("w")))
        .localCheckpoint()
      var dist = edges.agg(min(col("src")).as("node"))
        .select(col("node"), lit(0L).as("dist"))
        .localCheckpoint()
      var nDist = 1L
      for (_ <- 1 to 4) {
        val relaxed = edges.join(msgHint(dist, nDist), edges("src") === dist("node"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        dist = dist.union(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .localCheckpoint()
        nDist = dist.count()
      }
      dist.orderBy(col("dist"), col("node")).limit(20)
    },
    Some {
      val relax = (1 to 4).map { r =>
        s"""d$r AS (
          SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM d${r - 1}
            UNION ALL
            SELECT e.dst AS node, p.dist + e.w AS dist
            FROM e JOIN d${r - 1} p ON e.src = p.node)
          GROUP BY node)"""
      }.mkString(",\n      ")
      s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2,
          CAST(1000000 // count(*) AS BIGINT) AS w
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2),
      e AS (
        SELECT p1 AS src, p2 AS dst, w FROM e0
        UNION ALL SELECT p2 AS src, p1 AS dst, w FROM e0),
      d0 AS (SELECT min(src) AS node, CAST(0 AS BIGINT) AS dist FROM e),
      $relax
      SELECT node, dist FROM d4 ORDER BY dist, node LIMIT 20"""
    },
    uses = Seq(coPartPairs))

  /** Incremental connected components — the daily-ingest maintenance of a
    * component labeling ([[graft.operators.DedupClusters.incrementalComponents]]):
    * the nation-local trading graph (customer–supplier edges for big-lot
    * orders, l_quantity ≥ 44, within one nation — locality is what gives
    * the fixture real multi-component structure; a 100-hub bipartite graph
    * is otherwise one giant component) is labeled from scratch on the
    * PRE-2000 era, then the 2000+ edges arrive as the delta and only the
    * CONTRACTED label graph re-converges. The oracle is the from-scratch
    * recursive-CTE labeling of the FULL graph, so the hash compare itself
    * proves incremental ≡ recompute — the equivalence that makes the
    * incremental path trustworthy in production.
    *
    * Scale shape: the delta CC runs on a graph sized by TODAY'S edges (93
    * label-edges here vs 250 accumulated), so maintenance cost tracks the
    * ingest rate, not corpus age; everything else is keyed joins on the
    * node dimension. Supplier ids offset by 1e9 ([[pagerank]]'s disjoint
    * key-space discipline).
    *
    * Measured bound (r10, `probes/r10/probe_graphcc_sf{1,10}.json`): 11.0 s
    * at sf1 → 30.1 s at sf10 — 2.7× on 10× edges: strongly sub-linear, as
    * the incremental design predicts (the data-sized part is the one
    * edge-derivation scan + the from-scratch baseline fixture; the delta
    * re-convergence runs on the contracted label graph).
    */
  val ccIncremental = Declared(
    "graph_cc_incremental",
    (s, dir) => {
      val split = "TIMESTAMP_NTZ '2000-01-01 00:00:00'"
      val raw = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .filter(col("l_quantity") >= 44 &&
          col("c_nationkey") === col("s_nationkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 1000000000L).as("p"), col("o_orderdate").as("od"))
      // ONE pass splits both eras: the old shape filtered `raw` twice, so
      // the 4-table join scan and the pair-distinct shuffle each ran twice
      // (r12 isolated probe: 11.3 s; the edge derivation is the only
      // data-sized stage in this query, so paying it once matters at every
      // scale). A pair bought in both eras keeps one row per era flag —
      // exactly what the two independent distincts produced.
      val pairsByEra = raw
        .select(col("c").as("id1"), col("p").as("id2"),
          expr(s"od >= $split").as("is_new"))
        .distinct()
        .localCheckpoint()
      val oldPairs = pairsByEra.filter(!col("is_new")).select(col("id1"), col("id2"))
      val newPairs = pairsByEra.filter(col("is_new")).select(col("id1"), col("id2"))
      val oldNodes = oldPairs.select(col("id1").as("n"))
        .union(oldPairs.select(col("id2"))).distinct()
      val oldLabels = graft.operators.DedupClusters
        .connectedComponents(oldNodes, "n", oldPairs)
      val allNodes = oldNodes
        .union(newPairs.select(col("id1"))).union(newPairs.select(col("id2")))
        .distinct()
      graft.operators.DedupClusters
        .incrementalComponents(allNodes, oldLabels, newPairs)
        .select(col("id").as("node"), col("cluster_id"))
        .orderBy(col("node"))
    },
    Some("""WITH RECURSIVE pr AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS p
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE l_quantity >= 44 AND c_nationkey = s_nationkey),
      edges AS (SELECT c AS src, p AS dst FROM pr UNION SELECT p, c FROM pr),
      nodes AS (SELECT DISTINCT src AS n FROM edges),
      reach AS (
        SELECT n AS id, n AS label FROM nodes
        UNION
        SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id)
      SELECT id AS node, CAST(min(label) AS BIGINT) AS cluster_id
      FROM reach GROUP BY id ORDER BY node"""))

  /** Degree assortativity (Newman, PRL 2002) — the one-number answer to
    * "do hubs trade with hubs?" that [[modularity]] (community strength)
    * and [[triangles]] (local clustering) don't give: r > 0 means
    * high-degree nodes preferentially attach to each other (a core-prone
    * topology where hub loss is catastrophic), r < 0 the hub-and-spoke
    * shape bipartite trading graphs usually show. Over the symmetrized
    * edge list with endpoint degrees (j, k), the estimator reduces to
    * r = (4·M·Σjk − (Σ(j+k))²) / (2·M·Σ(j²+k²) − (Σ(j+k))²). The four
    * SUMS fold as exact longs (each term ≤ deg²·edges; at sf10 that is
    * ≲ 1e14, five decades inside 2^63). The numerator/denominator
    * PRODUCTS do NOT fit a long past sf≈0.3 (4·M·Σjk ≈ 1.3e19 > 2^63−1
    * already at sf1 — Spark would wrap silently while DuckDB errors), so
    * each factor is cast to DOUBLE individually and the products combine
    * in the double domain with ONE shared parenthesization on both
    * engines: identical IEEE-754 operation sequences give bit-identical
    * quotients, and the single round-to-nano happens after.
    *
    * Shapes: the edge list builds once (pagerank's disjoint-key-space
    * discipline) and joins the node-dimension degree table keyed on each
    * endpoint; everything then folds to ONE row. No window, no crossJoin.
    */
  val assortativity = Declared(
    "graph_assortativity",
    (s, dir) => {
      val eraw = custSuppPairs(s, dir)
        .select(col("c"), (col("su") + 1000000000L).as("su"))
      val edges = eraw.select(col("c").as("src"), col("su").as("dst"))
        .union(eraw.select(col("su").as("src"), col("c").as("dst")))
      // degree table is node-sized: checkpoint once, attach to BOTH
      // endpoints by broadcast ([[msgHint]]) — the two endpoint joins move
      // zero edge-sized bytes and the final fold is a global aggregate, so
      // the whole query pays exactly two edge-sized shuffles (the distinct
      // + the degree groupBy), both irreducible parts of the semantics
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .localCheckpoint()
      val nNodes = deg.count()
      edges
        .join(msgHint(deg.select(col("src"), col("d").as("j")), nNodes), "src")
        .join(msgHint(deg.select(col("src").as("dst"), col("d").as("k")), nNodes), "dst")
        .agg(count(lit(1)).as("m_edges"),
          sum(col("j") * col("k")).as("s_jk"),
          sum(col("j") + col("k")).as("s_sum"),
          sum(col("j") * col("j") + col("k") * col("k")).as("s_sq"))
        .select(col("m_edges"), col("s_jk"), col("s_sum"), col("s_sq"),
          expr("""CAST(round(
                 (CAST(4 AS DOUBLE) * m_edges * s_jk
                   - CAST(s_sum AS DOUBLE) * s_sum)
                 / (CAST(2 AS DOUBLE) * m_edges * s_sq
                   - CAST(s_sum AS DOUBLE) * s_sum)
                 * 1e9) AS BIGINT)""").as("r_nano"))
    },
    Some("""WITH pr AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000 AS su
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      edges AS (
        SELECT c AS src, su AS dst FROM pr
        UNION ALL SELECT su, c FROM pr),
      deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
              FROM edges GROUP BY src),
      joined AS (
        SELECT dj.d AS j, dk.d AS k
        FROM edges e
        JOIN deg dj ON dj.src = e.src
        JOIN deg dk ON dk.src = e.dst),
      sums AS (
        SELECT CAST(count(*) AS BIGINT) AS m_edges,
          CAST(sum(j * k) AS BIGINT) AS s_jk,
          CAST(sum(j + k) AS BIGINT) AS s_sum,
          CAST(sum(j * j + k * k) AS BIGINT) AS s_sq
        FROM joined)
      SELECT m_edges, s_jk, s_sum, s_sq,
        CAST(round(
          (CAST(4 AS DOUBLE) * m_edges * s_jk
            - CAST(s_sum AS DOUBLE) * s_sum)
          / (CAST(2 AS DOUBLE) * m_edges * s_sq
            - CAST(s_sum AS DOUBLE) * s_sum)
          * 1e9) AS BIGINT) AS r_nano
      FROM sums"""),
    uses = Seq(custSuppPairs))

  val all: Seq[Declared] = Seq(pagerank, triangles, kcore, labelSpread,
    modularity, linkPredict, sssp, ccIncremental, assortativity)
}
