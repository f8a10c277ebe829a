package graft.queries

import graft.{Declared, SharedArtifact, Tables}
import graft.functions.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (BASELINE.json north star):
  * brute-force cosine top-k as the exact baseline, sign-LSH bucketed ANN as
  * the scale path, plus a bounded all-pairs variant.
  */
object SimilarityQ {
  import Tables.t

  /** The 10 rows of `df` (vec_id, label, embedding, qv) nearest the query
    * by rounded cosine, ties by vec_id. */
  private def top10ByCosine(df: DataFrame): DataFrame =
    df.select(
        col("vec_id"), col("label"),
        round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)

  /** Brute-force cosine top-10 for one query vector (vec_id = 0).
    * The query row is a 1-row broadcast; the scan over the corpus is
    * embarrassingly parallel — THE baseline shape for exact ANN at scale
    * (one pass, top-k via TakeOrderedAndProject, no shuffle of the corpus).
    */
  val topkBrute = Declared(
    "sim_topk_brute",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      top10ByCosine(e.crossJoin(broadcast(q)))
    },
    Some("""SELECT vec_id, label,
      round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) + 0.0 AS cos
      FROM embeddings
      CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
      ORDER BY cos DESC, vec_id LIMIT 10"""))

  private val annPlanes = Similarity.planes(nPlanes = 6, dim = 64, seed = 7L)

  /** LSH-bucketed ANN: candidates = same 6-bit sign bucket as the query,
    * exact cosine within. At 100 TB the bucket column is precomputed and
    * partitioned-by, so a query touches 1/64th of the corpus.
    *
    * Scope honestly stated: a sign-LSH cell probe retrieves HIGH-cosine
    * neighbors (near-dups collide w.h.p. — pinned by SimilaritySpec). When
    * the true neighbors are only moderately similar (cos ≲ 0.4, as for a
    * random query on this corpus) no hash family beats scanning; that regime
    * belongs to the IVF path (sim_ivf: coarse centroids, probe nearest
    * cells) or the exact sim_topk_brute scan.
    */
  val annLsh = Declared(
    "sim_ann_lsh",
    (s, dir) => {
      val e = t(s, dir, "embeddings").select(
        col("vec_id"), col("label"), col("embedding"),
        Similarity.lshBucket(col("embedding"), annPlanes).as("bucket"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), col("bucket").as("qbucket"))
      top10ByCosine(e.join(broadcast(q), col("bucket") === col("qbucket")))
    },
    Some(s"""WITH b AS (
        SELECT vec_id, label, embedding,
          ${Similarity.lshBucketSql("embedding", annPlanes)} AS bucket
        FROM embeddings),
      q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
      SELECT vec_id, label,
        round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) + 0.0 AS cos
      FROM b CROSS JOIN q WHERE bucket = qbucket
      ORDER BY cos DESC, vec_id LIMIT 10"""))

  /** 4 independent sign-LSH tables for the pair queries below: a similar
    * pair is a candidate iff it collides in ANY band (OR over tables), the
    * standard recall amplification for pairwise LSH. Each table's plane
    * count follows [[Similarity.lshPlaneCount]] (base 6 → 64 buckets up to
    * 6.4k vectors, +3 planes per tier) so per-table bucket occupancy stays
    * bounded and candidate volume stays LINEAR per decade — with the table
    * resolution frozen at 6 planes, sim_knn_graph measured 8.5 s at sf1 →
    * 1133.7 s at sf10 (133× on 10× data: ~3.1k vectors per bucket at 200k
    * corpus → ~1.2B within-bucket pairs). The OR over 4 tables is what
    * holds recall as per-table collision probability declines with p.
    */
  /** `private[graft]` (not `private`): R11OpsSpec's first-band==DISTINCT
    * equivalence pin must derive its geometry from THIS function — a copy
    * of (4 bands, base 6, seeds 101L+b) would keep passing against itself
    * if the deployed geometry ever drifted (ADVICE r11 #3).
    */
  private[graft] def pairBandsFor(n: Long): Seq[Seq[Array[Double]]] =
    (0 until 4).map(b => Similarity.planesFor(n, base = 6, dim = 64, seed = 101L + b))

  /** Top-5 most similar pairs within one label partition (the per-group
    * variant a clustering/linkage step consumes). Candidates come from a
    * banded sign-LSH bucket join — NOT all-pairs: the self-join is a plain
    * equi-join bounded by ladder-capped bucket size. Plan shape (r11, the
    * sim_knn_graph rebuild applied here): embeddings ride the banded
    * shuffle once, pairs generate in-stage, cosine scores inline, and
    * cross-band duplicates die in-stage via the first-colliding-band
    * filter (== the oracle's DISTINCT; R11OpsSpec pins the equality) —
    * only the global top-5 leaves the stage (TakeOrderedAndProject).
    * Survives a hot label at 100× where crossJoin cannot; a pathological
    * hot cell is AQE skew-split.
    */
  val pairsWithinLabel = Declared(
    "sim_pairs_label0",
    (s, dir) => {
      val e0 = t(s, dir, "embeddings").filter(col("label") === 0)
        .select(col("vec_id"), col("embedding"))
      val bands = pairBandsFor(e0.count()) // the self-joined set sizes the tier
      val nb = bands.length
      val e = e0.select(
        Seq(col("vec_id"), col("embedding")) ++
          bands.indices.map(b =>
            Similarity.lshBucket(col("embedding"), bands(b)).as(s"bk$b")): _*)
      def side(tag: String) = e.select(
        Seq(col("vec_id").as(s"id$tag"), col("embedding").as(s"e$tag")) ++
          (0 until nb).map(b => col(s"bk$b").as(s"bk$tag$b")) :+
          posexplode(array((0 until nb).map(b => col(s"bk$b")): _*))
            .as(Seq(s"band$tag", s"bucket$tag")): _*)
      val firstBand = (0 until nb - 1).map(bp =>
        col("band1") <= bp || col(s"bk1$bp") =!= col(s"bk2$bp")).reduce(_ && _)
      side("1").join(side("2"),
          col("band1") === col("band2") && col("bucket1") === col("bucket2") &&
            col("id1") < col("id2") && firstBand)
        .select(col("id1"), col("id2"),
          round(Similarity.cosine(col("e1"), col("e2")), 6).as("cos"))
        .orderBy(col("cos").desc, col("id1"), col("id2"))
        .limit(5)
    },
    Some {
      val bandSelects = (0 until 4).map { b =>
        s"SELECT vec_id, $b AS band, ${Similarity.lshBucketSqlAdaptive(
          "embedding", "SELECT count(*) FROM e", 6, 64, seed = 101L + b)} AS bucket FROM e"
      }.mkString("\n        UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
      banded AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
      SELECT id1, id2,
        round(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]), CAST(e2.embedding AS DOUBLE[])), 6) + 0.0 AS cos
      FROM cand
      JOIN e e1 ON e1.vec_id = cand.id1
      JOIN e e2 ON e2.vec_id = cand.id2
      ORDER BY cos DESC, id1, id2 LIMIT 5"""
    })

  /** Embedding preprocessing for ANN serving: L2 norm, unit-normalized
    * components, and symmetric int8 quantization (scale = max|x|/127 — the
    * standard per-vector scheme that shrinks a float32 corpus 4×). Scalar
    * per-vector outputs only (norm, first unit component, scale, first
    * quantized value): enough to pin the whole computation cross-engine
    * without emitting array columns (driver compare can't sort those).
    * Accumulation is an explicit left-to-right double fold on both engines.
    */
  val embedNormalize = Declared(
    "embed_normalize",
    (s, dir) => {
      val sq = expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
      val maxAbs = expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))")
      val e0 = element_at(col("embedding"), 1).cast("double")
      // nullif on the divisors: a zero-norm (or empty) embedding must yield
      // null, not an ANSI DIVIDE_BY_ZERO that kills the scan (same contract
      // as CosineSim); the oracle mirrors with the same nullif
      val safeNorm = nullif(sqrt(sq), lit(0.0))
      val safeScale = nullif(maxAbs / 127.0, lit(0.0))
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          round(sqrt(sq), 6).as("l2_norm"),
          round(e0 / safeNorm, 6).as("e0_unit"),
          round(maxAbs / 127.0, 8).as("q_scale"),
          // floor(x + 0.5): double->int CAST truncates in Spark but ROUNDS
          // in DuckDB, so round explicitly before the cast
          floor(e0 / safeScale + 0.5).cast("int").as("e0_q"))
        .orderBy(col("vec_id"))
    },
    Some("""SELECT vec_id,
      round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))), 6) AS l2_norm,
      round(CAST(embedding[1] AS DOUBLE)
        / nullif(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))), 0.0), 6) AS e0_unit,
      round(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0, 8) AS q_scale,
      CAST(floor(CAST(embedding[1] AS DOUBLE)
        / nullif(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0, 0.0) + 0.5) AS INTEGER) AS e0_q
      FROM embeddings ORDER BY vec_id"""))

  /** kNN label vote: classify each probe vector by majority label among its
    * 10 nearest corpus neighbors (cosine), ties broken by best similarity
    * then label. The probe side is a tiny broadcast (queries don't scale with
    * the corpus); the corpus side is one embarrassingly-parallel scan with a
    * per-probe top-k window over the 3-probe × corpus sims — the exact-kNN
    * baseline a downstream weak-labeling pipeline runs.
    */
  val knnLabelVote = Declared(
    "knn_label_vote",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("probe_id"), col("embedding").as("qv"))
      val sims = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(
          col("probe_id"), col("label"), col("vec_id").as("nb"),
          round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
      val wTop = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("nb"))
      val votes = sims
        .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 10)
        .groupBy(col("probe_id"), col("label"))
        .agg(count(lit(1)).as("votes"), max(col("cos")).as("best"))
      val wVote = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id"))
        .orderBy(col("votes").desc, col("best").desc, col("label"))
      votes.withColumn("r", row_number().over(wVote)).filter(col("r") === 1)
        .select(col("probe_id"), col("label").as("pred_label"), col("votes"),
          round(col("best"), 6).as("best"))
        .orderBy(col("probe_id"))
    },
    Some("""WITH sims AS (
        SELECT p.vec_id AS probe_id, e.label, e.vec_id AS nb,
          round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
            CAST(p.embedding AS DOUBLE[])), 6) + 0.0 AS cos
        FROM embeddings e
        CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) p
        WHERE e.vec_id <> p.vec_id),
      topk AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cos DESC, nb) AS rn FROM sims)
        WHERE rn <= 10),
      votes AS (
        SELECT probe_id, label, CAST(count(*) AS BIGINT) AS votes, max(cos) AS best
        FROM topk GROUP BY probe_id, label)
      SELECT probe_id, label AS pred_label, votes, round(best, 6) AS best
      FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY votes DESC, best DESC, label) AS r FROM votes)
      WHERE r = 1 ORDER BY probe_id"""))

  /** Metadata-filtered vector search — the #1 production vector-store op:
    * top-k cosine restricted to vectors whose DOCUMENT passes a predicate
    * (here lang = 'en'). Pre-filtering via the id equi-join prunes the
    * corpus BEFORE any similarity math (at 100 TB the doc predicate pushes
    * down to the documents scan and the join shuffles only ids + vectors);
    * post-filtering top-k-then-join would under-fill k and rescan.
    */
  val filteredSearch = Declared(
    "sim_filtered",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val keep = t(s, dir, "documents")
        .filter(col("lang") === "en").select(col("doc_id"))
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.join(keep, e("vec_id") === keep("doc_id"))
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(
          col("vec_id"), lit("en").as("lang"),
          round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    },
    Some("""SELECT e.vec_id, d.lang,
      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(p.qv AS DOUBLE[])), 6) + 0.0 AS cos
      FROM embeddings e
      JOIN documents d ON d.doc_id = e.vec_id
      CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) p
      WHERE d.lang = 'en' AND e.vec_id <> 0
      ORDER BY cos DESC, e.vec_id LIMIT 10"""))

  /** Cosine RANGE search — all neighbors above a similarity floor, the dual
    * of top-k (retrieval wants "everything relevant", not "the 10 best").
    * Same broadcast-probe scan shape as [[topkBrute]]: one corpus pass, the
    * threshold filter runs inside the scan's codegen stage, and the tiny
    * survivor set sorts after. No top-k cutoff means the result size is
    * data-dependent — exactly why a range query must NOT be served by a
    * limit-k plan.
    */
  val rangeSearch = Declared(
    "sim_range_search",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(
          col("vec_id"), col("label"),
          round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
        .filter(col("cos") >= 0.30)
        .orderBy(col("cos").desc, col("vec_id"))
    },
    Some("""SELECT vec_id, label, cos FROM (
        SELECT vec_id, label,
          round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
            CAST(q.qv AS DOUBLE[])), 6) + 0.0 AS cos
        FROM embeddings
        CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
        WHERE vec_id <> 0)
      WHERE cos >= 0.30 ORDER BY cos DESC, vec_id"""))

  /** Batched k-NN JOIN — top-3 neighbors for EVERY query in a probe set, the
    * workhorse of embedding-based labeling / retrieval-augmentation over a
    * batch. The probe batch broadcasts (queries × dim floats — fits executors
    * for any realistic batch), the corpus streams through ONE scan, and the
    * per-query top-3 is a row_number window partitioned by query id that the
    * planner prunes with WindowGroupLimit — no per-query rescans, no corpus
    * shuffle. For probe sets too big to broadcast, the LSH/IVF bucket join
    * ([[annLsh]], sim_ivf) is the same contract with candidate pruning.
    */
  val knnJoin = Declared(
    "knn_join_brute",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val win = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("q_id"))
        .select(
          col("q_id"), col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("rk"), col("vec_id"), col("cos"))
        .orderBy(col("q_id"), col("rk"))
    },
    Some("""SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id, cos FROM (
        SELECT q_id, vec_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        FROM (
          SELECT p.vec_id AS q_id, e.vec_id AS vec_id,
            round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
              CAST(p.embedding AS DOUBLE[])), 6) + 0.0 AS cos
          FROM embeddings e
          CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) p
          WHERE e.vec_id <> p.vec_id))
      WHERE rk <= 3 ORDER BY q_id, rk"""))

  /** ANN quality evaluation — recall@10 of the sign-LSH cell probe against
    * the exact brute-force top-10, plus the candidate-set size that bought
    * it, at TWO probe widths from the same scan: the single cell, and the
    * Hamming-≤1 multi-probe (own cell + the 6 cells one flipped plane away —
    * the sim_ivf_probe2 knob applied to sign-LSH: near misses land in
    * adjacent codes, so widening the probe buys recall for a bounded
    * candidate multiplier). THE readout an ANN deployment tunes against
    * (probe width vs recall vs candidates scanned); at corpus scale it runs
    * on a sampled probe set and the same one-pass scan computes the exact
    * ranking and both memberships, so evaluation costs one scan, not three.
    */
  val recallReport = Declared(
    "sim_recall_report",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(
        col("embedding").as("qv"),
        Similarity.lshBucket(col("embedding"), annPlanes).as("qb"))
      val scored = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(
          col("vec_id"),
          round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"),
          Similarity.lshBucket(col("embedding"), annPlanes).as("b"),
          col("qb"))
        .select(
          col("vec_id"), col("cos"),
          (col("b") === col("qb")).cast("long").as("in_bucket"),
          (expr("bit_count(b ^ qb)") <= 1).cast("long").as("in_probe"))
      val top = scored.orderBy(col("cos").desc, col("vec_id")).limit(10)
        .agg(
          sum(col("in_bucket")).as("n_top10_in_bucket"),
          sum(col("in_probe")).as("n_top10_in_probe"))
      scored.agg(
          sum(col("in_bucket")).as("n_candidates"),
          sum(col("in_probe")).as("n_candidates_mp"))
        .crossJoin(broadcast(top))
        .select(
          col("n_candidates"), col("n_top10_in_bucket"),
          round(col("n_top10_in_bucket") / 10.0, 6).as("recall_at_10"),
          col("n_candidates_mp"), col("n_top10_in_probe"),
          round(col("n_top10_in_probe") / 10.0, 6).as("recall_at_10_mp"))
    },
    Some(s"""WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv,
          ${Similarity.lshBucketSql("CAST(embedding AS DOUBLE[])", annPlanes)} AS qb
        FROM embeddings WHERE vec_id = 0),
      scored AS (
        SELECT vec_id, cos,
          CASE WHEN b = qb THEN 1 ELSE 0 END AS in_bucket,
          CASE WHEN bit_count(xor(b, qb)) <= 1 THEN 1 ELSE 0 END AS in_probe
        FROM (
          SELECT vec_id,
            round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 6) + 0.0 AS cos,
            ${Similarity.lshBucketSql("CAST(embedding AS DOUBLE[])", annPlanes)} AS b,
            q.qb AS qb
          FROM embeddings CROSS JOIN q WHERE vec_id <> 0)),
      top AS (
        SELECT CAST(sum(in_bucket) AS BIGINT) AS n_top10_in_bucket,
               CAST(sum(in_probe) AS BIGINT) AS n_top10_in_probe FROM (
          SELECT in_bucket, in_probe FROM scored ORDER BY cos DESC, vec_id LIMIT 10))
      SELECT CAST(sum(in_bucket) AS BIGINT) AS n_candidates,
        t.n_top10_in_bucket,
        round(t.n_top10_in_bucket / 10.0, 6) AS recall_at_10,
        CAST(sum(in_probe) AS BIGINT) AS n_candidates_mp,
        t.n_top10_in_probe,
        round(t.n_top10_in_probe / 10.0, 6) AS recall_at_10_mp
      FROM scored CROSS JOIN top t
      GROUP BY t.n_top10_in_bucket, t.n_top10_in_probe"""))

  /** DuckDB CTEs of the 4-cluster k-means seed shared by sim_ivf_train and
    * sim_cluster_silhouette: ev (vec_id, emb as DOUBLE[]) and c0, the mean
    * vector of each vec_id % 4 class. */
  private def kmeansSeedCtes: String = """WITH ev AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      init AS (
        SELECT vec_id % 4 AS cluster, CAST(i AS INTEGER) AS i,
               avg(emb[CAST(i AS INTEGER)]) AS v
        FROM ev CROSS JOIN generate_series(1, 64) t(i) GROUP BY 1, 2),
      c0 AS (SELECT cluster, list(v ORDER BY i) AS centroid FROM init GROUP BY cluster)"""

  /** IVF index TRAINING — one Lloyd (k-means) refinement round, the step
    * that turns sim_ivf's label-seeded cells into data-driven ones. Seeds
    * are deterministic (cluster = vec_id mod k, so the oracle can replay
    * them); one round then (1) averages members per seed cell into k
    * centroids, (2) re-assigns every vector to its nearest centroid by
    * squared-L2 — an argmin as `min(struct(dist, cluster))` inside ONE hash
    * aggregate, never a per-vector window sort — and (3) re-averages the new
    * members. Per cluster the report carries membership count, how many
    * vectors moved off their seed, and a centroid checksum. At 100 TB this
    * is the canonical distributed k-means iteration: centroids broadcast
    * (k rows), assignment is a map-side argmin, each re-average is one
    * shuffle keyed by (cluster, dim) — a full IVF build just loops it.
    * Distances are rounded to 6dp before the argmin so the winner never
    * hinges on cross-engine 1e-15 float-order noise (ties then break by
    * cluster id on both sides).
    */
  val ivfTrain = Declared(
    "sim_ivf_train",
    (s, dir) => {
      val k = 4
      val e = t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      def centroidsOf(members: DataFrame) =
        meanVectors(members, Seq("cluster"), col("emb"), "centroid")
          .withColumnRenamed("cluster", "c_id")
      val c0 = centroidsOf(e.withColumn("cluster", col("vec_id") % k))
      val assigned = e.crossJoin(broadcast(c0))
        .select(
          col("vec_id"), col("emb"), col("c_id"),
          round(expr(
            "aggregate(zip_with(emb, centroid, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"
          ), 6).as("d"))
        .groupBy(col("vec_id"))
        .agg(
          min(struct(col("d"), col("c_id"))).getField("c_id").as("cluster"),
          first(col("emb")).as("emb"))
        .withColumn("moved",
          (col("cluster") =!= col("vec_id") % k).cast("long"))
        // each Lloyd round's assignment feeds TWO consumers (re-average +
        // movement report) — checkpoint it so the seed-centroid pipeline
        // isn't recomputed per consumer; at scale every k-means round
        // checkpoints its assignments exactly like DedupClusters' rounds
        .localCheckpoint()
      val cent1 = centroidsOf(assigned)
        .select(
          col("c_id").as("cluster"),
          round(expr("aggregate(centroid, 0D, (a, x) -> a + x)"), 4).as("centroid_sum"))
      assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"), sum(col("moved")).as("n_moved"))
        .join(cent1, "cluster")
        .orderBy(col("cluster"))
    },
    Some(s"""$kmeansSeedCtes,
      scored AS (
        SELECT ev.vec_id, ev.emb, c0.cluster,
          round(list_distance(ev.emb, c0.centroid) ^ 2, 6) AS d
        FROM ev CROSS JOIN c0),
      assign AS (
        SELECT vec_id, emb, cluster,
          CASE WHEN cluster <> vec_id % 4 THEN 1 ELSE 0 END AS mv FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
          FROM scored)
        WHERE rn = 1),
      nc AS (
        SELECT cluster, CAST(i AS INTEGER) AS i, avg(emb[CAST(i AS INTEGER)]) AS v
        FROM assign CROSS JOIN generate_series(1, 64) t(i) GROUP BY 1, 2),
      cent AS (SELECT cluster, round(sum(v), 4) + 0.0 AS centroid_sum FROM nc GROUP BY cluster)
      SELECT a.cluster, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(a.mv) AS BIGINT) AS n_moved, any_value(c.centroid_sum) AS centroid_sum
      FROM assign a JOIN cent c ON a.cluster = c.cluster
      GROUP BY a.cluster ORDER BY a.cluster"""))

  /** Product-quantization ANN — the memory-compression scale path: split
    * each 64-dim vector into M=4 subvectors, learn an 8-code codebook per
    * subspace (seeded deterministically as code = vec_id mod 8, averaged —
    * the replayable seeding [[ivfTrain]] uses), encode every vector as 4
    * small code ids, then answer a query by Asymmetric Distance Computation:
    * a 32-entry lookup table of query-subvector→centroid distances, summed
    * per vector over its codes. A float32 corpus becomes 4 bytes/vector
    * (16× smaller), the codebook+LUT broadcast (M×k rows), encode is a
    * map-side argmin, and the ADC scan is a tiny-LUT broadcast join + one
    * hash aggregate — no full-width vectors move after encoding. Exact
    * distances are joined back for the 10 winners only, so the report shows
    * the ADC approximation error directly. At 100 TB the codes are computed
    * once and stored; this query rebuilds them inline to stay
    * self-contained. Determinism: distances round to 6dp before the argmin
    * (ties break by code id), and the ADC sum is over 1e6-scaled LONGS so
    * no floating addition order can straddle a rounding boundary
    * cross-engine.
    */
  val pqAdc = Declared(
    "sim_pq_adc",
    (s, dir) => {
      val M = 4; val sub = 16; val k = 8
      def sqd(a: String, b: String) = expr(
        s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)")
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      val sv = e.select(
        col("vec_id"),
        posexplode(array((0 until M).map(m =>
          slice(col("emb"), m * sub + 1, sub)): _*)).as(Seq("m", "sv")))
      // codebook: per (subspace, seed code) centroid — M*k = 32 rows, the
      // whole "index". Checkpointed: encode AND the query LUT consume it.
      val cb = meanVectors(sv.withColumn("code", col("vec_id") % k),
          Seq("m", "code"), col("sv"), "centroid")
        .localCheckpoint()
      // encode: nearest code per (vector, subspace) — argmin as
      // min(struct(d, code)) inside one hash aggregate, same as ivfTrain
      val enc = sv.join(broadcast(cb), "m")
        .select(col("vec_id"), col("m"), col("code"),
          round(sqd("sv", "centroid"), 6).as("d"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d"), col("code"))).getField("code").as("code"))
      // ADC lookup table: query subvector → every centroid, as scaled longs
      val lut = sv.filter(col("vec_id") === 0)
        .select(col("m").as("qm"), col("sv").as("qsv"))
        .join(broadcast(cb), col("qm") === col("m"))
        .select(col("m"), col("code"),
          floor(round(sqd("qsv", "centroid"), 6) * 1e6 + 0.5).cast("long").as("qd"))
      val top = enc.filter(col("vec_id") =!= 0)
        .join(broadcast(lut), Seq("m", "code"))
        .groupBy(col("vec_id"))
        .agg(round(sum(col("qd")) / 1e6, 6).as("adc_d"))
        .orderBy(col("adc_d"), col("vec_id"))
        .limit(10)
      val qv = e.filter(col("vec_id") === 0).select(col("emb").as("qv"))
      top.join(e, "vec_id")
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("adc_d"),
          round(sqd("emb", "qv"), 6).as("exact_d"))
        .orderBy(col("adc_d"), col("vec_id"))
    },
    Some("""WITH ev AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      sv AS (
        SELECT vec_id, CAST(m AS INTEGER) AS m,
          emb[CAST(m AS INTEGER)*16+1 : CAST(m AS INTEGER)*16+16] AS sv
        FROM ev CROSS JOIN generate_series(0, 3) t(m)),
      cbp AS (
        SELECT m, vec_id % 8 AS code, CAST(i AS INTEGER) AS i,
          avg(sv[CAST(i AS INTEGER)]) AS cv
        FROM sv CROSS JOIN generate_series(1, 16) t(i)
        GROUP BY 1, 2, 3),
      cb AS (SELECT m, code, list(cv ORDER BY i) AS centroid FROM cbp GROUP BY m, code),
      enc AS (
        SELECT vec_id, m, code FROM (
          SELECT s.vec_id, s.m, c.code,
            row_number() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY round(list_distance(s.sv, c.centroid) ^ 2, 6), c.code) AS rn
          FROM sv s JOIN cb c ON s.m = c.m)
        WHERE rn = 1),
      lut AS (
        SELECT c.m, c.code,
          CAST(floor(round(list_distance(q.sv, c.centroid) ^ 2, 6) * 1e6 + 0.5) AS BIGINT) AS qd
        FROM cb c JOIN (SELECT m, sv FROM sv WHERE vec_id = 0) q ON q.m = c.m),
      adc AS (
        SELECT e.vec_id, round(sum(l.qd) / 1e6, 6) AS adc_d
        FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
        WHERE e.vec_id <> 0 GROUP BY e.vec_id
        ORDER BY adc_d, vec_id LIMIT 10)
      SELECT a.vec_id, a.adc_d,
        round(list_distance(ev.emb, q.emb) ^ 2, 6) AS exact_d
      FROM adc a
      JOIN ev ON ev.vec_id = a.vec_id
      CROSS JOIN (SELECT emb FROM ev WHERE vec_id = 0) q
      ORDER BY a.adc_d, a.vec_id"""))

  /** IVF-PQ — the two quantizers composed the way a production ANN index
    * composes them ([[ivfTrain]]'s coarse cells + [[pqAdc]]'s codes, on
    * RESIDUALS): each vector is assigned to its nearest coarse cell, the
    * residual (vector − cell centroid) is PQ-encoded, and a query probes
    * only its 2 nearest cells — per probed cell the query's OWN residual
    * yields a 32-entry LUT, and the ADC scan joins codes to LUT on
    * (cell, m, code). At 100 TB the cell is the partition key: the probe
    * touches 2 of kc partitions (here 2 of 4; real indexes 64 of 65k) and
    * moves only 4-byte codes, never vectors — the index shape that makes
    * billion-vector search a partition-pruned scan. Exact distances join
    * back for the 10 winners so the report shows both the compression error
    * and any probe miss. Same determinism rules as [[pqAdc]]: 6dp rounding
    * before every argmin, scaled-long ADC sums.
    */
  /** Per-group mean vector: one row per `keys` group holding the
    * element-wise average of the array column `vec` as `array<double>` in
    * position order, in column `out`. The elements are exploded with their
    * positions, averaged per (group, position) in one hash aggregate, and
    * re-assembled by sorting the (pos, v) structs. Averaging a float
    * element widens it to double, as an explicit cast would.
    */
  private def meanVectors(df: DataFrame, keys: Seq[String], vec: Column, out: String): DataFrame = {
    val k = keys.map(col)
    df.select(k :+ posexplode(vec).as(Seq("pos", "v")): _*)
      .groupBy(k :+ col("pos"): _*).agg(avg(col("v")).as("v"))
      .groupBy(k: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(k :+ expr("transform(pv, x -> x.v)").as(out): _*)
  }

  private val IvfKc = 4; private val PqM = 4; private val PqSub = 16
  private val PqK = 8

  private def sqd(a: String, b: String) = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)")

  private def embTable(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))

  /** Build the IVF-PQ index: (coarse centroids, PQ codebook, codes).
    * Shared by [[ivfPq]] (inline) and [[ivfPqStored]] (persisted fixture).
    */
  /** `train` restricts which vectors TRAIN the two quantizers (coarse
    * centroids + PQ codebook); assignment and encoding always run over the
    * whole corpus. Default = train on everything (the original build);
    * sim_ivfpq_append trains on the base corpus only and encodes the new
    * arrivals against the frozen quantizers.
    */
  private def ivfpqBuild(
      s: org.apache.spark.sql.SparkSession, dir: String,
      train: org.apache.spark.sql.Column = lit(true)) = {
    val e = embTable(s, dir)
    // coarse centroids, seeded cell = vec_id % kc (ivfTrain's replayable
    // seeding) — kc rows, the coarse quantizer; broadcast to every stage
    val cc = meanVectors(e.filter(train).withColumn("cell", col("vec_id") % IvfKc),
        Seq("cell"), col("emb"), "ccent")
      .localCheckpoint()
    // assign each vector to its nearest cell, then take the residual
    val assign = e.crossJoin(broadcast(cc))
      .select(col("vec_id"), col("emb"), col("cell"),
        round(sqd("emb", "ccent"), 6).as("d"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("cell"))).getField("cell").as("cell"),
        first(col("emb")).as("emb"))
    val res = assign.join(broadcast(cc), "cell")
      .select(col("vec_id"), col("cell"),
        expr("zip_with(emb, ccent, (x, y) -> x - y)").as("res"))
      .localCheckpoint() // consumed by the codebook build AND the encode
    val sv = res.select(col("vec_id"), col("cell"),
      posexplode(array((0 until PqM).map(m =>
        slice(col("res"), m * PqSub + 1, PqSub)): _*)).as(Seq("m", "sv")))
    // PQ codebook over residual subvectors, seeded code = vec_id % kpq
    val cb = meanVectors(sv.filter(train).withColumn("code", col("vec_id") % PqK),
        Seq("m", "code"), col("sv"), "centroid")
      .localCheckpoint()
    val enc = sv.join(broadcast(cb), "m")
      .select(col("vec_id"), col("cell"), col("m"), col("code"),
        round(sqd("sv", "centroid"), 6).as("d"))
      .groupBy(col("vec_id"), col("cell"), col("m"))
      .agg(min(struct(col("d"), col("code"))).getField("code").as("code"))
    (cc, cb, enc)
  }

  /** The probe's scaled-long lookup table: for each probed cell (qcell:
    * cell, ccent, qemb), the query residual's PqM sub-vectors against every
    * codebook centroid, as (cell, m, code, qd = round(d², 6) in micro-units). */
  private def ivfpqLut(
      qcell: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    qcell
      .select(col("cell"),
        expr("zip_with(qemb, ccent, (x, y) -> x - y)").as("qres"))
      .select(col("cell"), posexplode(array((0 until PqM).map(m =>
        slice(col("qres"), m * PqSub + 1, PqSub)): _*)).as(Seq("m", "qsv")))
      .join(broadcast(cb), "m")
      .select(col("cell"), col("m"), col("code"),
        floor(round(sqd("qsv", "centroid"), 6) * 1e6 + 0.5).cast("long").as("qd"))

  /** Probe side shared by the inline and stored variants: top-2 cells for
    * the query vector, the per-cell scaled-long LUT, the ADC aggregate over
    * `codes`, and the exact-distance readback for the 10 winners.
    */
  private def ivfpqProbe(
      e: org.apache.spark.sql.DataFrame, cc: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame, codes: org.apache.spark.sql.DataFrame) = {
    // top-2 cells as a TakeOrderedAndProject over the kc-row quantizer
    // table (not a global window — the plan audit bans those outright)
    val qcell = e.filter(col("vec_id") === 0).select(col("emb").as("qemb"))
      .crossJoin(broadcast(cc))
      .select(col("cell"), col("ccent"), col("qemb"),
        round(sqd("qemb", "ccent"), 6).as("d"))
      .orderBy(col("d"), col("cell"))
      .limit(2)
    val lut = ivfpqLut(qcell, cb)
    // ADC over the probed cells only: inner join on (cell, m, code) prunes
    // every unprobed cell before any arithmetic
    val top = codes.filter(col("vec_id") =!= 0)
      .join(broadcast(lut), Seq("cell", "m", "code"))
      .groupBy(col("vec_id"))
      .agg(first(col("cell")).as("cell"),
        round(sum(col("qd")) / 1e6, 6).as("adc_d"))
      .orderBy(col("adc_d"), col("vec_id"))
      .limit(10)
    val qv = e.filter(col("vec_id") === 0).select(col("emb").as("qv"))
    top.join(e, "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("cell"), col("adc_d"),
        round(sqd("emb", "qv"), 6).as("exact_d"))
      .orderBy(col("adc_d"), col("vec_id"))
  }

  /** DuckDB CTE block rebuilding the IVF-PQ index (ev → cc → enc + cb),
    * shared by the inline, stored, delete, recall, STREAMING and APPEND oracles so
    * the contracts can never drift apart. `trainWhere` (e.g.
    * "WHERE vec_id < 450") restricts quantizer TRAINING exactly like
    * [[ivfpqBuild]]'s `train` column; assignment/encoding always cover the
    * whole corpus.
    */
  private def ivfpqIndexCtes(trainWhere: String = ""): String = s"""ev AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      cci AS (
        SELECT vec_id % 4 AS cell, CAST(i AS INTEGER) AS i,
          avg(emb[CAST(i AS INTEGER)]) AS v
        FROM (SELECT * FROM ev $trainWhere) tev
        CROSS JOIN generate_series(1, 64) t(i) GROUP BY 1, 2),
      cc AS (SELECT cell, list(v ORDER BY i) AS ccent FROM cci GROUP BY cell),
      assign AS (
        SELECT vec_id, cell FROM (
          SELECT ev.vec_id, cc.cell,
            row_number() OVER (PARTITION BY ev.vec_id
              ORDER BY round(list_distance(ev.emb, cc.ccent) ^ 2, 6), cc.cell) AS rn
          FROM ev CROSS JOIN cc) WHERE rn = 1),
      res AS (
        SELECT a.vec_id, a.cell,
          list_transform(range(1, 65),
            i -> ev.emb[CAST(i AS INTEGER)] - c.ccent[CAST(i AS INTEGER)]) AS res
        FROM assign a JOIN ev ON ev.vec_id = a.vec_id JOIN cc c ON c.cell = a.cell),
      sv AS (
        SELECT vec_id, cell, CAST(m AS INTEGER) AS m,
          res[CAST(m AS INTEGER)*16+1 : CAST(m AS INTEGER)*16+16] AS sv
        FROM res CROSS JOIN generate_series(0, 3) t(m)),
      cbp AS (
        SELECT m, vec_id % 8 AS code, CAST(i AS INTEGER) AS i,
          avg(sv[CAST(i AS INTEGER)]) AS cv
        FROM (SELECT * FROM sv $trainWhere) tsv
        CROSS JOIN generate_series(1, 16) t(i) GROUP BY 1, 2, 3),
      cb AS (SELECT m, code, list(cv ORDER BY i) AS centroid FROM cbp GROUP BY m, code),
      enc AS (
        SELECT vec_id, cell, m, code FROM (
          SELECT s.vec_id, s.cell, s.m, c.code,
            row_number() OVER (PARTITION BY s.vec_id, s.m
              ORDER BY round(list_distance(s.sv, c.centroid) ^ 2, 6), c.code) AS rn
          FROM sv s JOIN cb c ON s.m = c.m) WHERE rn = 1)"""

  /** DuckDB CTEs of the 2-cell probe over [[ivfpqIndexCtes]]: the query
    * vector's nearest cells (qcell), its residual sub-vectors (qres, qsv),
    * the scaled-long LUT, and `adc`, the ADC top-10 (vec_id, cell, adc_d)
    * over the encoded rows that pass `candidates` (a predicate on `e`, the
    * codes). */
  private def ivfpqProbeCtes(candidates: String): String = s"""qcell AS (
        SELECT cell, ccent FROM (
          SELECT cc.cell, cc.ccent,
            row_number() OVER (
              ORDER BY round(list_distance(q.emb, cc.ccent) ^ 2, 6), cc.cell) AS rk
          FROM cc CROSS JOIN (SELECT emb FROM ev WHERE vec_id = 0) q) WHERE rk <= 2),
      qres AS (
        SELECT qc.cell,
          list_transform(range(1, 65),
            i -> q.emb[CAST(i AS INTEGER)] - qc.ccent[CAST(i AS INTEGER)]) AS res
        FROM qcell qc CROSS JOIN (SELECT emb FROM ev WHERE vec_id = 0) q),
      qsv AS (
        SELECT cell, CAST(m AS INTEGER) AS m,
          res[CAST(m AS INTEGER)*16+1 : CAST(m AS INTEGER)*16+16] AS sv
        FROM qres CROSS JOIN generate_series(0, 3) t(m)),
      lut AS (
        SELECT s.cell, s.m, c.code,
          CAST(floor(round(list_distance(s.sv, c.centroid) ^ 2, 6) * 1e6 + 0.5)
            AS BIGINT) AS qd
        FROM qsv s JOIN cb c ON s.m = c.m),
      adc AS (
        SELECT e.vec_id, any_value(e.cell) AS cell,
          round(sum(l.qd) / 1e6, 6) AS adc_d
        FROM enc e JOIN lut l ON e.cell = l.cell AND e.m = l.m AND e.code = l.code
        WHERE $candidates GROUP BY e.vec_id
        ORDER BY adc_d, vec_id LIMIT 10)"""

  /** DuckDB oracle of [[ivfpqProbe]] over the inline index: the probe's
    * top-10 with the exact squared distance read back. */
  private def ivfpqOracle(candidates: String): String =
    s"""WITH ${ivfpqIndexCtes()},
      ${ivfpqProbeCtes(candidates)}
      SELECT a.vec_id, a.cell, a.adc_d,
        round(list_distance(ev.emb, q.emb) ^ 2, 6) AS exact_d
      FROM adc a
      JOIN ev ON ev.vec_id = a.vec_id
      CROSS JOIN (SELECT emb FROM ev WHERE vec_id = 0) q
      ORDER BY a.adc_d, a.vec_id"""

  val ivfPq = Declared(
    "sim_ivfpq",
    (s, dir) => {
      val (cc, cb, enc) = ivfpqBuild(s, dir)
      ivfpqProbe(embTable(s, dir), cc, cb, enc)
    },
    Some(ivfpqOracle("e.vec_id <> 0")))

  // persisted IVF-PQ index (coarse/, codebook/, codes/ partitioned by cell),
  // written ONCE per (session, dir) — the "codes are computed once and
  // stored" deployment the inline variant's doc promises. All three
  // components are re-checked on disk before every reuse.
  private val ivfpqIndexDir = SharedArtifact.onDisk[String]("layout_ivfpq_index")(
    (_, out) => new java.io.File(s"$out/codes", "cell=0").isDirectory &&
      new java.io.File(out, "coarse").isDirectory &&
      new java.io.File(out, "codebook").isDirectory) { (s, dir) =>
    val out = Tables.scratch("ivfpq_index")
    val (cc, cb, enc) = ivfpqBuild(s, dir)
    cc.write.mode("overwrite").parquet(s"$out/coarse")
    cb.write.mode("overwrite").parquet(s"$out/codebook")
    enc.write.mode("overwrite").partitionBy("cell").parquet(s"$out/codes")
    out
  }

  /** IVF-PQ probe against the PERSISTED index: everything the query touches
    * is the stored index — the 4-row coarse quantizer, the 32-row codebook,
    * and ONLY the probed cell partitions of the codes table (plus the 10-row
    * exact readback). The two probed cell ids are collected driver-side
    * first: the coarse quantizer is index METADATA every ANN client holds in
    * memory (2 longs, not data), and turning them into an `isin` filter
    * makes the cell pruning STATIC — the codes scan lists 2 of kc partition
    * directories and never opens the rest, which at a billion vectors is
    * the difference between reading 3% and 100% of the index
    * (StoredIndexPruningSpec pins the PartitionFilters). Result — and
    * oracle — identical to [[ivfPq]] by construction.
    */
  /** Sign-bit packing shared by sim_hamming_topk and sim_rrf_fusion: the
    * embeddings with `bits` (bit i = dim i+1 > 0, dims 1..63), and the
    * one-row query side (qbits, qv) of vec_id 0. */
  private def signBits(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val packed = expr(
      """aggregate(sequence(0, 62), 0L,
         (acc, i) -> acc | IF(element_at(embedding, CAST(i + 1 AS INT)) > CAST(0 AS FLOAT),
                              shiftleft(1L, CAST(i AS INT)), 0L))""")
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      .withColumn("bits", packed)
    val q = e.filter(col("vec_id") === 0)
      .select(col("bits").as("qbits"), col("embedding").as("qv"))
    (e, q)
  }

  /** DuckDB CTEs of [[signBits]]: packed, q. */
  private def signBitsCtes: String = """WITH packed AS (
        SELECT vec_id, embedding,
          list_aggregate(list_transform(range(0, 63),
            i -> CASE WHEN embedding[CAST(i AS INTEGER) + 1] > 0
                 THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
                 ELSE 0 END), 'bit_or') AS bits
        FROM embeddings),
      q AS (SELECT bits AS qbits, embedding AS qv FROM packed WHERE vec_id = 0)"""

  /** Binary sign-bit retrieval — the 32×-compressed first stage a memory-
    * bound vector store runs before any float math ([[matryoshka]] shrinks
    * DIMENSIONS; this shrinks PRECISION to one bit per dim): each 64-dim
    * vector packs into ONE long (bit i = sign of dim i, folded with bitwise
    * OR so bit 63 can't overflow either engine), the query's Hamming
    * distance is a single `bit_count(xor)` per row — no array math at all —
    * and the top-10 rides a TakeOrderedAndProject with the exact cosine
    * attached so the bit-stage's fidelity is visible per row. 63 bits —
    * dim 64's bit stays clear so neither engine's signed left-shift can
    * overflow (mm_phash_dedup's convention). At scale the packed column is
    * 8 bytes/vector: the whole corpus's first stage fits where 1% of the
    * floats would, which is the entire point.
    */
  val hammingTopk = Declared(
    "sim_hamming_topk",
    (s, dir) => {
      val (e, q) = signBits(s, dir)
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          expr("bit_count(bits ^ qbits)").cast("int").as("hamming"),
          round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
        .orderBy(col("hamming"), col("vec_id"))
        .limit(10)
    },
    Some(s"""$signBitsCtes
      SELECT p.vec_id,
        CAST(bit_count(xor(p.bits, q.qbits)) AS INTEGER) AS hamming,
        round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
          CAST(q.qv AS DOUBLE[])), 6) + 0.0 AS cos
      FROM packed p CROSS JOIN q
      WHERE p.vec_id <> 0
      ORDER BY hamming, vec_id LIMIT 10"""))

  /** nprobe sweep — the serving-latency dial every IVF deployment tunes
    * ([[lshTuning]]'s counterpart for the vector index, and the curve behind
    * sim_ivfpq_recall's single point): probe 1, 2, 3, then all 4 cells of
    * the SAME built index and report, per setting, the candidate volume the
    * ADC pass scans and recall@10 against the exact top-10 — the
    * latency-vs-recall trade as one table. The encoded-codes table is
    * checkpointed once and re-probed (probing is LUT-sized work; the index
    * never rebuilds), the exact truth is computed once, and every readout
    * row is a pair of 1-row aggregates. CANDIDATES are structurally
    * non-decreasing (more cells ⊇ fewer, spec-pinned, and nprobe = kc scans
    * the whole corpus); recall is NOT guaranteed monotone — extra cells add
    * candidates whose noisy ADC distances can displace true hits from the
    * top-10, and on this fixture's near-uniform vectors the curve honestly
    * shows it (the same no-signal regime sim_ivfpq_recall reports). That
    * non-monotonicity is itself the diagnostic: when probing more cells
    * doesn't lift recall, the codebook — not the cell count — is the
    * limiting factor.
    */
  val ivfNprobeCurve = Declared(
    "sim_ivf_nprobe_curve",
    (s, dir) => {
      val (cc, cb, enc0) = ivfpqBuild(s, dir)
      val enc = enc0.localCheckpoint()
      val e = embTable(s, dir)
      val qv = e.filter(col("vec_id") === 0).select(col("emb").as("qemb"))
        .localCheckpoint(true)
      val exact10 = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), round(sqd("emb", "qemb"), 6).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(10)
        .select(col("vec_id")).localCheckpoint(true)
      val cellRank = qv.crossJoin(broadcast(cc))
        .select(col("cell"), col("ccent"), col("qemb"),
          round(sqd("qemb", "ccent"), 6).as("d"))
        .orderBy(col("d"), col("cell"))
      (1 to IvfKc).map { n =>
        val qcell = cellRank.limit(n)
        val lut = ivfpqLut(qcell, cb)
        val adc10 = enc.filter(col("vec_id") =!= 0)
          .join(broadcast(lut), Seq("cell", "m", "code"))
          .groupBy(col("vec_id"))
          .agg(round(sum(col("qd")) / 1e6, 6).as("adc_d"))
          .orderBy(col("adc_d"), col("vec_id")).limit(10)
        val nCand = enc.filter(col("vec_id") =!= 0)
          .join(broadcast(qcell.select(col("cell"))), Seq("cell"))
          .agg(countDistinct(col("vec_id")).as("n_candidates"))
        val hits = adc10.join(exact10, "vec_id").agg(count(lit(1)).as("h"))
        nCand.crossJoin(broadcast(hits))
          .select(lit(n).as("nprobe"), col("n_candidates"),
            col("h").as("hits_at_10"),
            round(col("h") / 10.0, 4).as("recall_at_10"))
      }.reduce(_ unionByName _).orderBy(col("nprobe"))
    },
    Some {
      val perN = (1 to IvfKc).map { n =>
        s"""qres_$n AS (
        SELECT qc.cell,
          list_transform(range(1, 65),
            i -> q.emb[CAST(i AS INTEGER)] - qc.ccent[CAST(i AS INTEGER)]) AS res
        FROM (SELECT cell, ccent FROM qrank WHERE rk <= $n) qc
        CROSS JOIN (SELECT emb FROM ev WHERE vec_id = 0) q),
      qsv_$n AS (
        SELECT cell, CAST(m AS INTEGER) AS m,
          res[CAST(m AS INTEGER)*16+1 : CAST(m AS INTEGER)*16+16] AS sv
        FROM qres_$n CROSS JOIN generate_series(0, 3) t(m)),
      lut_$n AS (
        SELECT s.cell, s.m, c.code,
          CAST(floor(round(list_distance(s.sv, c.centroid) ^ 2, 6) * 1e6 + 0.5)
            AS BIGINT) AS qd
        FROM qsv_$n s JOIN cb c ON s.m = c.m),
      adc_$n AS (
        SELECT e.vec_id FROM (
          SELECT e.vec_id, round(sum(l.qd) / 1e6, 6) AS adc_d
          FROM enc e JOIN lut_$n l
            ON e.cell = l.cell AND e.m = l.m AND e.code = l.code
          WHERE e.vec_id <> 0 GROUP BY e.vec_id
          ORDER BY adc_d, e.vec_id LIMIT 10) e),
      row_$n AS (
        SELECT $n AS nprobe,
          (SELECT CAST(count(DISTINCT enc.vec_id) AS BIGINT) FROM enc
             WHERE enc.vec_id <> 0
               AND enc.cell IN (SELECT cell FROM qrank WHERE rk <= $n))
            AS n_candidates,
          (SELECT CAST(count(*) AS BIGINT) FROM adc_$n JOIN exact10 USING (vec_id))
            AS hits_at_10)"""
      }.mkString(",\n      ")
      val rows = (1 to IvfKc).map(n => s"SELECT * FROM row_$n")
        .mkString("\n        UNION ALL ")
      s"""WITH ${ivfpqIndexCtes()},
      exact10 AS (
        SELECT vec_id FROM (
          SELECT ev.vec_id,
            round(list_distance(ev.emb, q.emb) ^ 2, 6) AS d
          FROM ev CROSS JOIN (SELECT emb FROM ev WHERE vec_id = 0) q
          WHERE ev.vec_id <> 0 ORDER BY d, vec_id LIMIT 10)),
      qrank AS (
        SELECT cc.cell, cc.ccent,
          row_number() OVER (
            ORDER BY round(list_distance(q.emb, cc.ccent) ^ 2, 6), cc.cell) AS rk
        FROM cc CROSS JOIN (SELECT emb FROM ev WHERE vec_id = 0) q),
      $perN
      SELECT nprobe, n_candidates, hits_at_10,
        round(hits_at_10 / 10.0, 4) AS recall_at_10
      FROM (
        $rows)
      ORDER BY nprobe"""
    })

  /** DELETE from the persisted IVF-PQ index — the lifecycle verb the
    * train → encode → persist → probe → append chain was missing: the codes
    * table stays IMMUTABLE (rewriting a billion-vector index per delete
    * batch is the anti-pattern) and deletions land as a per-cell tombstone
    * id-list — the Iceberg/Lance delete-file pattern — merged at probe time
    * by a left-anti join that, like the codes scan itself, touches only the
    * probed cells' partitions. Here every vec_id ≡ 3 (mod 7) is deleted
    * (~14%); the probe result is provably tombstone-free and the oracle is
    * the inline index's SQL with the same id predicate — so a tombstone
    * leaking through ANY layer breaks the hash match. Compaction (folding
    * tombstones into rewritten cells) is the background job this layout
    * defers to, exactly as the lakehouse formats do.
    */
  val ivfPqDelete = Declared(
    "sim_ivfpq_delete",
    (s, dir) => {
      val idx = ivfpqIndexDir(s, dir)
      val cc = s.read.parquet(s"$idx/coarse")
      val cb = s.read.parquet(s"$idx/codebook")
      val e = embTable(s, dir)
      val tombPath = Tables.scratch("ivfpq_tombstones")
      s.read.parquet(s"$idx/codes")
        .filter(col("vec_id") % 7 === 3)
        .select(col("vec_id"), col("cell")).distinct()
        .write.mode("overwrite").partitionBy("cell").parquet(tombPath)
      val probed = e.filter(col("vec_id") === 0).select(col("emb").as("qemb"))
        .crossJoin(broadcast(cc))
        .select(col("cell"), round(sqd("qemb", "ccent"), 6).as("d"))
        .orderBy(col("d"), col("cell")).limit(2)
        .collect().map(_.getLong(0))
      val cellFilter = (c: org.apache.spark.sql.Column) =>
        c.isin(probed.map(java.lang.Long.valueOf): _*)
      val codes = s.read.parquet(s"$idx/codes")
        .filter(cellFilter(col("cell")))
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          col("m"), col("code"))
      val tombs = s.read.parquet(tombPath)
        .filter(cellFilter(col("cell")))
        .select(col("vec_id"))
      ivfpqProbe(e, cc, cb, codes.join(tombs, Seq("vec_id"), "left_anti"))
    },
    Some(ivfpqOracle("e.vec_id <> 0 AND e.vec_id % 7 <> 3")),
    uses = Seq(ivfpqIndexDir))

  val ivfPqStored = Declared(
    "sim_ivfpq_stored",
    (s, dir) => {
      val idx = ivfpqIndexDir(s, dir)
      val cc = s.read.parquet(s"$idx/coarse")
      val cb = s.read.parquet(s"$idx/codebook")
      val e = embTable(s, dir)
      val probed = e.filter(col("vec_id") === 0).select(col("emb").as("qemb"))
        .crossJoin(broadcast(cc))
        .select(col("cell"), round(sqd("qemb", "ccent"), 6).as("d"))
        .orderBy(col("d"), col("cell")).limit(2)
        .collect().map(_.getLong(0))
      val codes = s.read.parquet(s"$idx/codes")
        .filter(col("cell").isin(probed.map(java.lang.Long.valueOf): _*))
        .select(col("vec_id"), col("cell").cast("long").as("cell"),
          col("m"), col("code"))
      ivfpqProbe(e, cc, cb, codes)
    },
    ivfPq.oracle,
    uses = Seq(ivfpqIndexDir))

  /** Recall evaluation for the IVF-PQ probe — [[recallReport]]'s readout
    * applied to the flagship index: recall@10 of the 2-cell ADC probe
    * against the exact squared-L2 top-10, plus how many encoded vectors
    * the probe actually scanned (the candidate bound the cell pruning
    * buys). Both top-10 lists and the index come from the same build, so
    * the row is THE accuracy-vs-cost summary an index deployment monitors:
    * at 100 TB this query is the nightly index-health check — exact
    * top-10 over a sampled probe set, ADC top-10 from the live index,
    * recall joined in one tiny aggregate. `recall_cell_bound` (share of
    * the exact top-10 the probed cells even admit) separates the two
    * failure modes: a low bound says probe more cells, a big bound-vs-
    * achieved gap says refine the codebook. On this fixture's random
    * vectors it honestly reads bound 0.6 / achieved 0.0 — 4 seeded cells
    * and a 4×8 residual codebook carry no signal for near-uniform data,
    * exactly what the readout exists to expose.
    */
  val ivfPqRecall = Declared(
    "sim_ivfpq_recall",
    (s, dir) => {
      val (cc, cb, enc) = ivfpqBuild(s, dir)
      val e = embTable(s, dir)
      val probed = ivfpqProbe(e, cc, cb, enc).select(col("vec_id"))
      val qv = e.filter(col("vec_id") === 0).select(col("emb").as("qv"))
      val exact = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), round(sqd("emb", "qv"), 6).as("d"))
        .orderBy(col("d"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"))
      val qcells = e.filter(col("vec_id") === 0).select(col("emb").as("qemb"))
        .crossJoin(broadcast(cc))
        .select(col("cell"), round(sqd("qemb", "ccent"), 6).as("d"))
        .orderBy(col("d"), col("cell"))
        .limit(2)
        .select(col("cell"))
      val nCand = enc.filter(col("vec_id") =!= 0)
        .join(broadcast(qcells), "cell")
        .agg(countDistinct(col("vec_id")).as("n_candidates"))
      val hits = probed.join(exact, "vec_id")
        .agg(count(lit(1)).as("h"))
      // the diagnosis column: how much of the exact top-10 the CELL probe
      // even admits (the pruning's recall ceiling) vs what ADC ranking
      // then achieves within it — separates "probe more cells" from
      // "refine the codebook" as the fix
      val assignCells = enc.select(col("vec_id"), col("cell")).distinct()
      val bound = exact.join(assignCells, "vec_id")
        .join(broadcast(qcells), "cell")
        .agg(count(lit(1)).as("b"))
      hits.crossJoin(broadcast(nCand)).crossJoin(broadcast(bound))
        .select(
          lit(2).as("n_probed_cells"),
          col("n_candidates"),
          round(col("b").cast("double") / 10.0, 2).as("recall_cell_bound"),
          round(col("h").cast("double") / 10.0, 2).as("recall_at_10"))
    },
    Some(s"""WITH ${ivfpqIndexCtes()},
      ${ivfpqProbeCtes("e.vec_id <> 0")},
      exact10 AS (
        SELECT ev.vec_id FROM ev
        CROSS JOIN (SELECT emb FROM ev WHERE vec_id = 0) q
        WHERE ev.vec_id <> 0
        ORDER BY round(list_distance(ev.emb, q.emb) ^ 2, 6), ev.vec_id LIMIT 10)
      SELECT 2 AS n_probed_cells,
        (SELECT CAST(count(DISTINCT e.vec_id) AS BIGINT) FROM enc e
         WHERE e.vec_id <> 0 AND e.cell IN (SELECT cell FROM qcell))
          AS n_candidates,
        round((SELECT count(*) FROM exact10 JOIN assign USING (vec_id)
               WHERE assign.cell IN (SELECT cell FROM qcell)) / 10.0, 2)
          AS recall_cell_bound,
        round((SELECT count(*) FROM adc JOIN exact10 USING (vec_id)) / 10.0, 2)
          AS recall_at_10"""))

  /** One micro-batch of probes against the static index: the per-probe
    * generalization of [[ivfpqProbe]] — nearest-2-cell selection and the
    * final top-3 become probe-partitioned windows (WindowGroupLimit-prunable,
    * never global), the per-probe LUT stays broadcast-sized (probes × 2
    * cells × 32 codes), and the codes side joins on (cell, m, code) so
    * unprobed cells are pruned before any arithmetic. Identical scaled-long
    * ADC arithmetic to the batch probe, so results are batching-invariant.
    */
  private def annProbeBatch(
      batch: org.apache.spark.sql.DataFrame,
      cc: org.apache.spark.sql.DataFrame, cb: org.apache.spark.sql.DataFrame,
      codes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCell = Window.partitionBy(col("probe_id")).orderBy(col("d"), col("cell"))
    val qcell = batch.crossJoin(broadcast(cc))
      .select(col("probe_id"), col("qemb"), col("cell"), col("ccent"),
        round(sqd("qemb", "ccent"), 6).as("d"))
      .withColumn("rk", row_number().over(wCell))
      .filter(col("rk") <= 2)
    val lut = qcell
      .select(col("probe_id"), col("cell"),
        expr("zip_with(qemb, ccent, (x, y) -> x - y)").as("qres"))
      .select(col("probe_id"), col("cell"), posexplode(array((0 until PqM).map(m =>
        slice(col("qres"), m * PqSub + 1, PqSub)): _*)).as(Seq("m", "qsv")))
      .join(broadcast(cb), "m")
      .select(col("probe_id"), col("cell"), col("m"), col("code"),
        floor(round(sqd("qsv", "centroid"), 6) * 1e6 + 0.5).cast("long").as("qd"))
    val wTop = Window.partitionBy(col("probe_id")).orderBy(col("adc_d"), col("vec_id"))
    codes.join(broadcast(lut), Seq("cell", "m", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(first(col("cell")).as("cell"), round(sum(col("qd")) / 1e6, 6).as("adc_d"))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 3)
      .select(col("probe_id"), col("rnk"), col("vec_id"), col("cell"), col("adc_d"))
  }

  /** Streaming vector search: a stream of query vectors probed against the
    * PERSISTED IVF-PQ index — the serving half of the index lifecycle
    * (sim_ivfpq_stored builds and prunes it; this runs the online probe
    * path). foreachBatch hands each micro-batch of probes to the exact
    * batch ADC pipeline: coarse cells and codebook are index metadata
    * (broadcast), the codes scan touches only the probed cells' partitions,
    * and every probe answers with its top-3 by scaled-long ADC — at 100 TB
    * this is "queries arrive on a bus, each batch reads 2 of kc index
    * partitions", with state living in the index table, not the stream
    * engine. Results are batching-invariant (probes are independent rows),
    * so the oracle is simply the batch multi-probe recomputation.
    */
  def annProbeStream(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val idx = ivfpqIndexDir(s, dir)
    val cc = s.read.parquet(s"$idx/coarse")
    val cb = s.read.parquet(s"$idx/codebook")
    val codes = s.read.parquet(s"$idx/codes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("m"), col("code"))
    // drained outside runTuned: the per-batch ADC joins run at the
    // session's shuffle partitions
    val probes = graft.streaming.StreamingOps.source(s, dir, "embeddings").stream
      .filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qemb"))
    // per-probe results are batching-invariant, so the union is
    // replay-idempotent in VALUE; the batchId gate blocks the duplicate ROWS
    // a crash-replayed batch would append
    val sink = new graft.streaming.GatedSink((results, batch) => {
      val out = annProbeBatch(batch, cc, cb, codes).localCheckpoint(true)
      results.map(_.unionByName(out)).getOrElse(out)
    })
    sink.drain(probes).getOrElse(s.emptyDataFrame)
      .orderBy(col("probe_id"), col("rnk"))
  }

  val streamAnnProbe = Declared(
    "stream_ann_probe",
    (s, dir) => annProbeStream(s, dir),
    Some(s"""WITH ${ivfpqIndexCtes()},
      probes AS (SELECT vec_id AS probe_id, emb AS qemb FROM ev WHERE vec_id < 3),
      qcell AS (
        SELECT probe_id, cell, ccent, qemb FROM (
          SELECT p.probe_id, cc.cell, cc.ccent, p.qemb,
            row_number() OVER (PARTITION BY p.probe_id
              ORDER BY round(list_distance(p.qemb, cc.ccent) ^ 2, 6), cc.cell) AS rk
          FROM cc CROSS JOIN probes p) WHERE rk <= 2),
      qres AS (
        SELECT probe_id, cell,
          list_transform(range(1, 65),
            i -> qemb[CAST(i AS INTEGER)] - ccent[CAST(i AS INTEGER)]) AS res
        FROM qcell),
      qsv AS (
        SELECT probe_id, cell, CAST(m AS INTEGER) AS m,
          res[CAST(m AS INTEGER)*16+1 : CAST(m AS INTEGER)*16+16] AS sv
        FROM qres CROSS JOIN generate_series(0, 3) t(m)),
      lut AS (
        SELECT probe_id, s.cell, s.m, c.code,
          CAST(floor(round(list_distance(s.sv, c.centroid) ^ 2, 6) * 1e6 + 0.5)
            AS BIGINT) AS qd
        FROM qsv s JOIN cb c ON s.m = c.m),
      adc AS (
        SELECT probe_id, vec_id, cell, adc_d,
          row_number() OVER (PARTITION BY probe_id ORDER BY adc_d, vec_id) AS rnk
        FROM (
          SELECT l.probe_id, e.vec_id, any_value(e.cell) AS cell,
            round(sum(l.qd) / 1e6, 6) AS adc_d
          FROM enc e JOIN lut l ON e.cell = l.cell AND e.m = l.m AND e.code = l.code
          WHERE e.vec_id <> l.probe_id
          GROUP BY l.probe_id, e.vec_id))
      SELECT probe_id, CAST(rnk AS INTEGER) AS rnk, vec_id, cell, adc_d
      FROM adc WHERE rnk <= 3
      ORDER BY probe_id, rnk"""),
    uses = Seq(ivfpqIndexDir))

  /** Fixed ±1 sign for Rademacher random-projection cell (i, j): derived from
    * md5 of the cell coordinates at PLAN BUILD time (driver-side, once), so
    * both engines receive the identical literal matrix and neither hashes
    * per row.
    */
  private def rpSign(i: Int, j: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp|$i|$j".getBytes("UTF-8"))
    if ((d(0) & 1) == 0) 1 else -1
  }

  /** Johnson–Lindenstrauss random projection 64 → 4 dims with a Rademacher
    * (±1/√64) matrix (Achlioptas 2003 — database-friendly random
    * projections): out_j = Σ_i ±emb_i / 8. The projection is an unrolled
    * literal expression — 64 sign-flips and adds per output dim, fully
    * inside whole-stage codegen, no shuffle, no per-row hashing — which is
    * the map-side shape that shrinks a 100 TB float corpus 16× before any
    * downstream ANN/clustering pass. Every term is a float widened exactly
    * to double and the add order is fixed left-to-right in both engines, so
    * the projection is bit-identical cross-engine (rounded 6 dp anyway).
    */
  val embedProjectRp = Declared(
    "embed_project_rp",
    (sess, dir) => {
      def dim(j: Int) = {
        val terms = (0 until 64).map { i =>
          val e = s"CAST(element_at(embedding, ${i + 1}) AS DOUBLE)"
          if (rpSign(i, j) == 1) s"($e)" else s"(-$e)"
        }.mkString(" + ")
        round(expr(s"($terms) / 8.0"), 6).as(s"p$j")
      }
      t(sess, dir, "embeddings")
        .select(col("vec_id") +: (0 until 4).map(dim): _*)
        .orderBy(col("vec_id"))
    },
    Some {
      val dims = (0 until 4).map { j =>
        val terms = (0 until 64).map { i =>
          val e = s"CAST(embedding[${i + 1}] AS DOUBLE)"
          if (rpSign(i, j) == 1) s"($e)" else s"(-$e)"
        }.mkString(" + ")
        s"round(($terms) / 8.0, 6) AS p$j"
      }
      s"SELECT vec_id, ${dims.mkString(", ")} FROM embeddings ORDER BY vec_id"
    })

  /** One power-iteration step toward the corpus's top principal direction:
    * w = Xᵀ(X v₀) from the deterministic unit start v₀ = (1/8, …, 1/8),
    * reporting ‖w‖ (the Rayleigh-quotient eigenvalue estimate, since
    * ‖v₀‖ = 1) and the first components of w/‖w‖ — the spectral-structure
    * readout that tells you whether the embedding cloud has collapsed onto
    * one axis. Spark-first the matrix never materializes: the per-row dot
    * x·v₀ is a codegen'd fold (×0.125 is a power of two, so the scalar is
    * bit-exact cross-engine), and the 64 component sums fold map-side into
    * ONE row — a single aggregate over one scan, no shuffle of anything
    * wider than 64 doubles, the shape that iterates to convergence on a
    * billion-vector corpus at one pass per step.
    */
  val pcaPower = Declared(
    "embed_pca_power",
    (sess, dir) => {
      val dot0 = expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * 0.125)")
      val scored = t(sess, dir, "embeddings").select(col("embedding"), dot0.as("sc"))
      val sums = (0 until 64).map(i =>
        sum(element_at(col("embedding"), i + 1).cast("double") * col("sc")).as(s"w_$i"))
      val w = scored.agg(sums.head, sums.tail: _*)
      val norm = sqrt((0 until 64).map(i => col(s"w_$i") * col(s"w_$i")).reduce(_ + _))
      w.select(
        round(norm, 4).as("eig_est") +:
          (0 until 4).map(i => round(col(s"w_$i") / norm, 6).as(s"v$i")): _*)
    },
    Some {
      val wCols = (0 until 64)
        .map(i => s"sum(CAST(embedding[${i + 1}] AS DOUBLE) * sc) AS w_$i")
        .mkString(",\n          ")
      val normSql = s"sqrt(${(0 until 64).map(i => s"w_$i * w_$i").mkString(" + ")})"
      val vCols = (0 until 4).map(i => s"round(w_$i / $normSql, 6) AS v$i").mkString(", ")
      s"""WITH scored AS (
        SELECT embedding,
          list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.125)) AS sc
        FROM embeddings),
      w AS (
        SELECT
          $wCols
        FROM scored)
      SELECT round($normSql, 4) AS eig_est, $vCols FROM w"""
    })

  /** Incremental index maintenance: the day's new arrivals (vec_id ≥ 450)
    * are encoded against the FROZEN quantizers trained on the base corpus —
    * the production append path, where a nightly build would be a full
    * re-shuffle of the corpus but appending is one map-side
    * assign-and-encode pass over only the new rows (coarse cells and
    * codebook are broadcast metadata; nothing existing moves). The readout
    * is the per-cell growth ledger an index operator watches: base vs
    * appended counts and the new-fraction per cell — a skewed landing cell
    * is the signal to split or retrain. The oracle retrains nothing either:
    * the shared index CTEs take the same base-only training filter.
    */
  val ivfPqAppend = Declared(
    "sim_ivfpq_append",
    (s, dir) => {
      val (_, _, enc) = ivfpqBuild(s, dir, col("vec_id") < 450)
      enc.select(col("vec_id"), col("cell")).distinct()
        .groupBy(col("cell"))
        .agg(
          sum(when(col("vec_id") < 450, 1L).otherwise(0L)).as("n_base"),
          sum(when(col("vec_id") >= 450, 1L).otherwise(0L)).as("n_new"))
        .select(
          col("cell"), col("n_base"), col("n_new"),
          round(col("n_new").cast("double") / (col("n_base") + col("n_new")), 4)
            .as("frac_new"))
        .orderBy(col("cell"))
    },
    Some(s"""WITH ${ivfpqIndexCtes("WHERE vec_id < 450")}
      SELECT cell,
        CAST(sum(CASE WHEN vec_id < 450 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
        CAST(sum(CASE WHEN vec_id >= 450 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        round(CAST(sum(CASE WHEN vec_id >= 450 THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*), 4) AS frac_new
      FROM assign GROUP BY cell ORDER BY cell"""))

  /** Index-maintenance health: per-cell CENTROID DRIFT after appends — the
    * readout that closes the stored-index lifecycle (build →
    * [[ivfPqAppend]] → [[ivfPqDelete]] → drift → reindex): a cell whose
    * stored centroid (trained on the base corpus, vec_id < 450) has
    * drifted far from its CURRENT member mean mis-centers every residual
    * encoded against it, and recall decays silently — this is the signal
    * index services act on to schedule a retrain (the compaction/reindex
    * policy in Lance/Milvus-style stores). Per cell: base/appended member
    * counts, squared-L2 drift between stored centroid and current mean in
    * integer nano-units (round-once discipline; the raw fold noise is
    * ~1e-13, five decades under the nano half-step), and the reindex flag
    * against a declared operating point (drift² > 0.012; production
    * tunes this to its recall-decay tolerance — the point here sits
    * inside the fixture's drift spread so the flag demonstrably
    * separates the cells that absorbed the most-shifted appends from
    * the ones that didn't).
    *
    * Scale shapes: the stored index is the SAME broadcast-centroid
    * assignment [[ivfPqAppend]] audits (one map-side argmin over the
    * corpus); the current mean is one (cell, dim)-keyed aggregate — 64
    * rows per cell out of the shuffle; drift is a k-row broadcast join of
    * stored vs current centroid arrays. Nothing is corpus-sized after the
    * one assignment pass.
    */
  val centroidDrift = Declared(
    "sim_centroid_drift",
    (s, dir) => {
      val (cc, _, enc) = ivfpqBuild(s, dir, col("vec_id") < 450)
      val members = enc.select(col("vec_id"), col("cell")).distinct()
        .join(embTable(s, dir), "vec_id")
        .localCheckpoint() // two readers: current-mean fold + count fold
      val cur = meanVectors(members, Seq("cell"), col("emb"), "curcent")
      val counts = members.groupBy(col("cell")).agg(
        sum(when(col("vec_id") < 450, 1L).otherwise(0L)).as("n_base"),
        sum(when(col("vec_id") >= 450, 1L).otherwise(0L)).as("n_new"))
      cc.join(cur, "cell").join(counts, "cell")
        .select(col("cell"), col("n_base"), col("n_new"),
          expr("""CAST(round(aggregate(zip_with(ccent, curcent,
                 (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x) * 1e9)
                 AS BIGINT)""").as("drift_sq_nano"))
        .withColumn("reindex", col("drift_sq_nano") > 12000000L)
        .orderBy(col("cell"))
    },
    Some(s"""WITH ${ivfpqIndexCtes("WHERE vec_id < 450")},
      cur AS (
        SELECT a.cell, CAST(i AS INTEGER) AS i,
          avg(ev.emb[CAST(i AS INTEGER)]) AS v
        FROM assign a JOIN ev USING (vec_id)
        CROSS JOIN generate_series(1, 64) t(i) GROUP BY 1, 2),
      curc AS (SELECT cell, list(v ORDER BY i) AS curcent FROM cur GROUP BY cell),
      cnt AS (
        SELECT cell,
          CAST(sum(CASE WHEN vec_id < 450 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
          CAST(sum(CASE WHEN vec_id >= 450 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        FROM assign GROUP BY cell)
      SELECT c.cell, cnt.n_base, cnt.n_new,
        CAST(round(list_sum(list_transform(range(1, 65),
          i -> (c.ccent[CAST(i AS INTEGER)] - curc.curcent[CAST(i AS INTEGER)])
             * (c.ccent[CAST(i AS INTEGER)] - curc.curcent[CAST(i AS INTEGER)])))
          * 1e9) AS BIGINT) AS drift_sq_nano,
        (CAST(round(list_sum(list_transform(range(1, 65),
          i -> (c.ccent[CAST(i AS INTEGER)] - curc.curcent[CAST(i AS INTEGER)])
             * (c.ccent[CAST(i AS INTEGER)] - curc.curcent[CAST(i AS INTEGER)])))
          * 1e9) AS BIGINT) > 12000000) AS reindex
      FROM cc c JOIN curc USING (cell) JOIN cnt USING (cell)
      ORDER BY c.cell"""))

  /** Matryoshka-style two-stage retrieval (Kusupati et al. 2022, MRL): the
    * coarse pass ranks by cosine over only the FIRST 16 of 64 dimensions
    * (the nested-prefix property MRL encoders train for — here the slice
    * plays the structural role), keeps top-30, and the full-dimension
    * rerank reads just those 30 vectors. At 100 TB the 16-dim prefix is a
    * 4× smaller column the coarse scan streams (often from a separate
    * column file), and the full vectors page in only for the rerank set —
    * the memory-hierarchy shape adaptive-retrieval deployments use. Both
    * stages are TakeOrderedAndProject (no global sort); the output carries
    * both scores so the readout shows where coarse and full ranking
    * disagree. On these random fixtures the prefix is genuinely weakly
    * correlated with the full score — exactly the disagreement the two
    * columns expose.
    */
  val matryoshka = Declared(
    "sim_matryoshka",
    (sess, dir) => {
      val e = t(sess, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), expr("slice(embedding, 1, 16)").as("qv16"))
      val coarse = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(
          col("vec_id"), col("embedding"), col("qv"),
          round(Similarity.cosine(expr("slice(embedding, 1, 16)"), col("qv16")), 6)
            .as("cos16"))
        .orderBy(col("cos16").desc, col("vec_id"))
        .limit(30)
      coarse
        .select(
          col("vec_id"), col("cos16"),
          round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos64"))
        .orderBy(col("cos64").desc, col("vec_id"))
        .limit(10)
    },
    Some("""WITH q AS (
        SELECT embedding AS qv, embedding[1:16] AS qv16
        FROM embeddings WHERE vec_id = 0),
      coarse AS (
        SELECT vec_id, embedding, qv,
          round(list_cosine_similarity(
            CAST(embedding[1:16] AS DOUBLE[]), CAST(qv16 AS DOUBLE[])), 6) + 0.0 AS cos16
        FROM embeddings CROSS JOIN q
        WHERE vec_id <> 0
        ORDER BY cos16 DESC, vec_id LIMIT 30)
      SELECT vec_id, cos16,
        round(list_cosine_similarity(
          CAST(embedding AS DOUBLE[]), CAST(qv AS DOUBLE[])), 6) + 0.0 AS cos64
      FROM coarse
      ORDER BY cos64 DESC, vec_id LIMIT 10"""))

  /** Cluster-health readout for the IVF cells: per-cluster simplified
    * silhouette (b−a)/max(a,b) where a = distance to the own (nearest)
    * centroid and b = distance to the second-nearest — near 0 means cells
    * barely separate the data (the honest verdict for random fixtures) and
    * the "retrain or add cells" trigger in production. All distances come
    * from ONE map-side pass against the k broadcast centroids; the
    * nearest/second-nearest pair folds inside the per-vector aggregate via
    * a sorted k-element struct array (k is tiny index metadata, never the
    * corpus), and the readout is a k-row hash aggregate. Distances round
    * to 6 dp before the sort so the (d, cluster) order can't hinge on
    * last-bit noise.
    */
  val clusterSilhouette = Declared(
    "sim_cluster_silhouette",
    (sess, dir) => {
      val k = 4
      val e = embTable(sess, dir)
      val c0 = meanVectors(e.withColumn("cluster", col("vec_id") % k),
          Seq("cluster"), col("emb"), "centroid")
        .withColumnRenamed("cluster", "c_id")
      val scored = e.crossJoin(broadcast(c0))
        .select(col("vec_id"), col("c_id"), round(sqd("emb", "centroid"), 6).as("d"))
      val per = scored.groupBy(col("vec_id"))
        .agg(array_sort(collect_list(struct(col("d"), col("c_id")))).as("ds"))
        .select(
          expr("ds[0].c_id").as("cluster"),
          expr("ds[0].d").as("a"),
          expr("ds[1].d").as("b"))
      per.groupBy(col("cluster"))
        .agg(
          count(lit(1)).as("n"),
          round(avg((col("b") - col("a")) / nullif(greatest(col("a"), col("b")), lit(0.0))), 4)
            .as("mean_sil"),
          round(avg(col("a")), 4).as("mean_intra"),
          round(avg(col("b")), 4).as("mean_inter"))
        .orderBy(col("cluster"))
    },
    Some(s"""$kmeansSeedCtes,
      scored AS (
        SELECT ev.vec_id, c0.cluster AS c_id,
          round(list_distance(ev.emb, c0.centroid) ^ 2, 6) AS d
        FROM ev CROSS JOIN c0),
      r AS (
        SELECT vec_id, c_id, d,
          row_number() OVER (PARTITION BY vec_id ORDER BY d, c_id) AS rn
        FROM scored),
      per AS (
        SELECT vec_id,
          max(CASE WHEN rn = 1 THEN c_id END) AS cluster,
          max(CASE WHEN rn = 1 THEN d END) AS a,
          max(CASE WHEN rn = 2 THEN d END) AS b
        FROM r WHERE rn <= 2 GROUP BY vec_id)
      SELECT cluster, CAST(count(*) AS BIGINT) AS n,
        round(avg((b - a) / nullif(greatest(a, b), 0.0)), 4) AS mean_sil,
        round(avg(a), 4) AS mean_intra,
        round(avg(b), 4) AS mean_inter
      FROM per GROUP BY cluster ORDER BY cluster"""))

  /** Hard-negative mining — the contrastive-training data op (DPR / SimCSE
    * style): for each anchor, the most-similar vectors whose LABEL differs —
    * exactly the near-misses a retrieval or embedding model trains against.
    * [[knnJoin]] finds nearest neighbors unconditionally; the label
    * exclusion here is the semantic difference (same-label hits are the
    * positives, useless as negatives). Anchors broadcast against one corpus
    * scan; per-anchor top-3 via a rank window over the tiny candidate slice
    * (anchors × corpus rows never materialize past the filter). At corpus
    * scale the anchor set is a training batch and the scan side is the
    * IVF-pruned candidate list — same shape, pruned input.
    */
  val hardnegMine = Declared(
    "sim_hardneg_mine",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val anchors = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("label").as("q_label"))
      val win = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      e.crossJoin(broadcast(anchors))
        .filter(col("label") =!= col("q_label"))
        .select(
          col("q_id"), col("vec_id"), col("label").as("neg_label"),
          round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("rk"), col("vec_id"), col("neg_label"), col("cos"))
        .orderBy(col("q_id"), col("rk"))
    },
    Some("""SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id, neg_label, cos FROM (
        SELECT q_id, vec_id, neg_label, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        FROM (
          SELECT p.vec_id AS q_id, e.vec_id AS vec_id, e.label AS neg_label,
            round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
              CAST(p.embedding AS DOUBLE[])), 6) + 0.0 AS cos
          FROM embeddings e
          CROSS JOIN (SELECT vec_id, embedding, label FROM embeddings
                      WHERE vec_id < 8) p
          WHERE e.label <> p.label))
      WHERE rk <= 3 ORDER BY q_id, rk"""))

  /** k-NN GRAPH construction (k=3) over the whole corpus — the input every
    * graph-based pipeline stage consumes (HNSW-style navigation layers,
    * graph clustering, label propagation over embedding neighborhoods,
    * SemDeDup's neighborhood pass). [[knnJoin]] answers a query BATCH; this
    * materializes the per-node edge list for ALL nodes, so brute force is
    * off the table by construction — candidates come from the 4-table
    * sign-LSH bucket join (OR-amplified recall), each node keeps its top-3
    * by exact cosine. Neighbors are candidate-limited: a node whose true
    * neighbor never collides in any band misses it — the standard LSH
    * recall trade documented by sim_recall_report.
    *
    * Plan shape (the r11 rebuild — this is the op whose r10 shape ERRORED
    * at the third decade): the ladder keeps candidate PAIRS linear in n
    * (~n·occ/2·bands; KnnDiag measured 495M implied pairs at 2M vectors),
    * so nothing pair-sized may ever shuffle. Embeddings ride the banded
    * bucket shuffle ONCE (4n rows ≈ 4 GB at 2M vectors), pairs generate
    * inside the sort-merge join stage, cosine is scored inline, both
    * orientations explode in-stage, and the `row_number ≤ 3` filter
    * becomes a partial WindowGroupLimit (Spark 3.5+ rule) BELOW the
    * exchange — only ~3 rows per src per map partition shuffle to the
    * final window. The r10 shape instead materialized the distinct pair
    * set and re-joined the 64-dim vectors BY ID (two pair-sized shuffles
    * ~1 KB/row, then a pair-sized global window sort) — it read 89.6 s at
    * 200k vectors and died at 339 s at 2M; this shape reads 2.7 s (20k) →
    * 20.2 s (200k) → 81.1 s (2M vectors) — 7.5× then 4.0× on 10×/decade,
    * sub-linear both decades (probes/r11/probe_knnbitext_sf{1,10,100}).
    * The FOURTH decade is a cluster's, not this box's — stated with
    * measured arithmetic, not hand-waving: at 20M vectors KnnDiag reads
    * 7.56B implied pairs (p=18, 4 bands), whose two orientations are
    * ~360 GB of transient partial-limit sort — per-DECADE volume is still
    * linear (pairs ≈ n·occ/2·bands with occ ladder-bounded), so 32
    * executors each see exactly the per-core volume this host handled at
    * 2M, but one 32-core/65 GB-scratch node cannot hold the decade alone.
    * dedup_embed_cosine (single band, occ ~19 at its p=20 tier) DOES fit:
    * measured at 20M vectors in probes/r11/probe_pairjoin_sf1000e.json.
    *
    * Cross-band duplicate pairs are eliminated with ZERO shuffle by the
    * first-colliding-band rule: both sides carry their 4 bucket ids, and a
    * pair is emitted from band b only when no band b' < b also collided —
    * an inline codegen'd filter that reproduces the oracle's DISTINCT
    * exactly (each colliding pair survives from exactly one band). Skew:
    * per-cell occupancy is ladder-bounded in expectation (~100) and the
    * hottest measured cell holds 1216 members (~740k in-stage pairs,
    * milliseconds); a pathological exact-dup cell is AQE skew-split, and
    * mass duplication belongs to the dedup_* family upstream.
    */
  val knnGraph = Declared(
    "sim_knn_graph",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val nVecs = t(s, dir, "embeddings").count() // parquet metadata count
      val bands = pairBandsFor(nVecs)
      val e = t(s, dir, "embeddings").select(
        Seq(col("vec_id"), col("embedding")) ++
          bands.indices.map(b =>
            Similarity.lshBucket(col("embedding"), bands(b)).as(s"bk$b")): _*)
      val nb = bands.length
      def side(tag: String) = e.select(
        Seq(col("vec_id").as(s"id$tag"), col("embedding").as(s"e$tag")) ++
          (0 until nb).map(b => col(s"bk$b").as(s"bk$tag$b")) :+
          posexplode(array((0 until nb).map(b => col(s"bk$b")): _*))
            .as(Seq(s"band$tag", s"bucket$tag")): _*)
      // emit each colliding pair from its FIRST colliding band only: for
      // every earlier band b', buckets must differ — inline filter, no
      // DISTINCT shuffle, same pair set as the oracle's DISTINCT
      val firstBand = (0 until nb - 1).map(bp =>
        col("band1") <= bp || col(s"bk1$bp") =!= col(s"bk2$bp")).reduce(_ && _)
      val scored = side("1").join(side("2"),
          col("band1") === col("band2") && col("bucket1") === col("bucket2") &&
            col("id1") < col("id2") && firstBand)
        .select(col("id1"), col("id2"),
          round(Similarity.cosine(col("e1"), col("e2")), 6).as("cos"))
      val both = scored.select(
          explode(array(
            struct(col("id1").as("src"), col("id2").as("dst")),
            struct(col("id2").as("src"), col("id1").as("dst")))).as("sd"),
          col("cos"))
        .select(col("sd.src").as("src"), col("sd.dst").as("dst"), col("cos"))
      val win = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
      both.withColumn("rk", row_number().over(win))
        .filter(col("rk") <= 3)
        .select(col("src"), col("rk").cast("int").as("rk"), col("dst"), col("cos"))
        .orderBy(col("src"), col("rk"))
    },
    Some {
      val bandSelects = (0 until 4).map { b =>
        s"SELECT vec_id, $b AS band, ${Similarity.lshBucketSqlAdaptive(
          "embedding", "SELECT count(*) FROM embeddings", 6, 64,
          seed = 101L + b)} AS bucket FROM embeddings"
      }.mkString("\n        UNION ALL ")
      s"""WITH banded AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      scored AS (
        SELECT id1, id2,
          round(list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
            CAST(e2.embedding AS DOUBLE[])), 6) + 0.0 AS cos
        FROM cand
        JOIN embeddings e1 ON e1.vec_id = cand.id1
        JOIN embeddings e2 ON e2.vec_id = cand.id2),
      orient AS (
        SELECT id1 AS src, id2 AS dst, cos FROM scored
        UNION ALL SELECT id2, id1, cos FROM scored)
      SELECT src, CAST(rk AS INTEGER) AS rk, dst, cos FROM (
        SELECT src, dst, cos,
          row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
        FROM orient)
      WHERE rk <= 3 ORDER BY src, rk"""
    })

  /** LSH bucket-occupancy balance — the index-health readout
    * [[graft.operators.BucketJoin]]'s salting exists for: the hottest
    * buckets, their share of the corpus, and the imbalance factor (hottest
    * bucket vs the average used bucket — the probe-latency multiplier a
    * skewed index pays). sim_cluster_silhouette judges cluster QUALITY;
    * this judges cluster LOAD — the two failure modes are independent
    * (tight, well-separated clusters can still all hash into one cell).
    * One bucket fold, one 1-row stats broadcast, top-5 by occupancy.
    */
  val bucketBalance = Declared(
    "sim_bucket_balance",
    (s, dir) => {
      val counts = t(s, dir, "embeddings")
        .select(Similarity.lshBucket(col("embedding"), annPlanes).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(
        sum(col("n")).as("total"), count(lit(1)).as("n_used"),
        max(col("n")).as("max_n"))
      counts.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n"),
          round(col("n").cast("double") / col("total"), 6).as("share"),
          col("n_used"),
          round(col("max_n").cast("double") * col("n_used") / col("total"), 4)
            .as("imbalance"))
        .orderBy(col("n").desc, col("bucket"))
        .limit(5)
    },
    Some(s"""WITH b AS (
        SELECT ${Similarity.lshBucketSql("embedding", annPlanes)} AS bucket
        FROM embeddings),
      c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket),
      tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_used,
          CAST(max(n) AS BIGINT) AS max_n
        FROM c)
      SELECT bucket, n,
        round(CAST(n AS DOUBLE) / total, 6) AS share, n_used,
        round(CAST(max_n AS DOUBLE) * n_used / total, 4) AS imbalance
      FROM c, tot ORDER BY n DESC, bucket LIMIT 5"""))

  /** The retrieval-eval probe batch ranked against the corpus: every
    * vec_id ≡ 0 (mod 50) probes all other vectors by rounded cosine, and
    * `rn` is the per-probe rank (cos desc, vec_id). Shared by
    * eval_retrieval_mrr and eval_retrieval_ndcg. */
  private def retrievalRanked(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "embeddings")
    val probes = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qv"))
    val win = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
      .withColumn("rn", row_number().over(win))
  }

  /** DuckDB oracle CTEs of [[retrievalRanked]]: probes, scored, ranked. */
  private def retrievalRankedCtes: String = """WITH probes AS (
        SELECT vec_id AS qid, label AS qlabel, embedding AS qv
        FROM embeddings WHERE vec_id % 50 = 0),
      scored AS (
        SELECT p.qid, p.qlabel, e.vec_id, e.label,
          round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
            CAST(p.qv AS DOUBLE[])), 6) + 0.0 AS cos
        FROM embeddings e CROSS JOIN probes p
        WHERE e.vec_id <> p.qid),
      ranked AS (
        SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
        FROM scored)"""

  /** Retrieval-quality report (MRR + precision@5) — the evaluation harness
    * an embedding model's training loop reads: a deterministic probe batch
    * (vec_id % 50) broadcasts against ONE corpus scan (the knn_join_brute
    * shape), per-probe ranking by exact cosine (rounded to 6 before ranking
    * with a vec_id tiebreak, so rank order is engine-identical), and the
    * same-label relevance judgment yields each probe's first-hit rank.
    * Reciprocal ranks go to integer NANO-units before the per-label mean
    * (no float summation order); a probe whose label never recurs
    * contributes rr = 0, the standard MRR convention. Per-label rows keep
    * class skew visible where a single pooled mean would hide it. At scale
    * the probe batch stays O(eval set) and the corpus is scanned once —
    * ranking work rides the same WindowGroupLimit-prunable per-probe window
    * as knn_join_brute.
    */
  val retrievalMrr = Declared(
    "eval_retrieval_mrr",
    (s, dir) => {
      val perProbe = retrievalRanked(s, dir)
        .groupBy(col("qid"), col("qlabel"))
        .agg(
          min(when(col("label") === col("qlabel"), col("rn"))).as("first_rank"),
          sum(when(col("label") === col("qlabel") && col("rn") <= 5, 1L)
            .otherwise(0L)).as("hits5"))
      perProbe
        .select(col("qlabel").as("label"),
          coalesce(round(lit(1e9) / col("first_rank")).cast("long"), lit(0L))
            .as("rr_nano"),
          col("hits5"))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_probes"),
          round(sum(col("rr_nano")) / count(lit(1)) / 1e9, 6).as("mrr"),
          round(sum(col("hits5")).cast("double") / (count(lit(1)) * 5.0), 6)
            .as("p_at_5"))
        .orderBy(col("label"))
    },
    Some(s"""$retrievalRankedCtes,
      per_probe AS (
        SELECT qid, qlabel,
          min(CASE WHEN label = qlabel THEN rn END) AS first_rank,
          sum(CASE WHEN label = qlabel AND rn <= 5 THEN 1 ELSE 0 END) AS hits5
        FROM ranked GROUP BY 1, 2)
      SELECT qlabel AS label,
        CAST(count(*) AS BIGINT) AS n_probes,
        round(sum(coalesce(CAST(round(1e9 / first_rank) AS BIGINT), 0))
          / count(*) / 1e9, 6) AS mrr,
        round(CAST(sum(hits5) AS DOUBLE) / (count(*) * 5.0), 6) AS p_at_5
      FROM per_probe GROUP BY qlabel ORDER BY label"""))

  /** NDCG@10 per label — the graded companion to [[retrievalMrr]] (same
    * probe batch, same single corpus scan, same engine-identical rounded-
    * cosine ranking): discounted gains fold as integer NANO-units
    * (round(1e9/log2(rank+1)) — no float summation order anywhere), the
    * ideal DCG folds the same units over sequence(1, min(n_rel, 10)), and
    * each probe's ratio is re-scaled to a long before the per-label mean so
    * the aggregate stays exact. A probe with no recurring label scores 0.
    */
  val retrievalNdcg = Declared(
    "eval_retrieval_ndcg",
    (s, dir) => {
      retrievalRanked(s, dir).groupBy(col("qid"), col("qlabel"))
        .agg(
          sum(when(col("label") === col("qlabel") && col("rn") <= 10,
            expr("CAST(round(1e9 / log2(rn + 1)) AS BIGINT)")).otherwise(0L))
            .as("dcg_nano"),
          sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
            .as("n_rel"))
        .withColumn("idcg_nano", when(col("n_rel") > 0, expr(
          """aggregate(sequence(1L, least(n_rel, 10L)), 0L,
             (acc, i) -> acc + CAST(round(1e9 / log2(i + 1)) AS BIGINT))"""))
          .otherwise(lit(0L)))
        .withColumn("s", when(col("idcg_nano") > 0,
          round(lit(1e9) * col("dcg_nano") / col("idcg_nano")).cast("long"))
          .otherwise(lit(0L)))
        .groupBy(col("qlabel").as("label"))
        .agg(
          count(lit(1)).as("n_probes"),
          round(sum(col("s")) / count(lit(1)) / 1e9, 6).as("ndcg10"))
        .orderBy(col("label"))
    },
    Some(s"""$retrievalRankedCtes,
      per_probe AS (
        SELECT qid, qlabel,
          CAST(sum(CASE WHEN label = qlabel AND rn <= 10
            THEN CAST(round(1e9 / log2(rn + 1)) AS BIGINT) ELSE 0 END) AS BIGINT)
            AS dcg_nano,
          CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
            AS n_rel
        FROM ranked GROUP BY 1, 2),
      idcg AS (
        SELECT *, CASE WHEN n_rel = 0 THEN 0 ELSE
          list_sum(list_transform(range(1, least(n_rel, 10) + 1),
            i -> CAST(round(1e9 / log2(i + 1)) AS BIGINT))) END AS idcg_nano
        FROM per_probe),
      scaled AS (
        SELECT qlabel, CASE WHEN idcg_nano > 0
          THEN CAST(round(1e9 * dcg_nano / idcg_nano) AS BIGINT)
          ELSE 0 END AS s
        FROM idcg)
      SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_probes,
        round(sum(s) / count(*) / 1e9, 6) AS ndcg10
      FROM scaled GROUP BY qlabel ORDER BY label"""))

  /** Reciprocal-Rank Fusion (Cormack et al. 2009) of two retrievers — the
    * hybrid-search merge every production vector+lexical stack runs: here
    * the 32×-compressed sign-bit Hamming ranking ([[hammingTopk]]'s first
    * stage) fused with the exact-cosine ranking, RRF(d) = Σ 1/(60 + rank_i)
    * over the lists containing d. Fusion needs only RANKS, never comparable
    * scores — exactly why it survives heterogeneous retrievers.
    *
    * Scale shape: each ranking is a TakeOrderedAndProject top-30 over one
    * corpus scan (the packed bits + cosine are computed in the same pass;
    * Spark runs the scan once per ranking — map-side work, no shuffle);
    * the rank window then runs over the LIMITed 30 rows, so the global
    * window touches a fixed row count at any corpus size. The fusion join
    * is a 30×30 full outer on vec_id. Determinism: RRF terms are
    * `1e9 div (60 + rank)` integer nano-units — exact rationals summed as
    * longs, no float anywhere; absent ranks contribute 0 (standard RRF).
    */
  val rrfFusion = Declared(
    "sim_rrf_fusion",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val (e, q) = signBits(s, dir)
      val scored = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          expr("bit_count(bits ^ qbits)").cast("int").as("hamming"),
          round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
      val topH = scored.orderBy(col("hamming"), col("vec_id")).limit(30)
        .withColumn("rank_h",
          row_number().over(Window.orderBy(col("hamming"), col("vec_id"))))
      val topC = scored.orderBy(col("cos").desc, col("vec_id")).limit(30)
        .withColumn("rank_c",
          row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))))
      topH.select(col("vec_id"), col("rank_h"))
        .join(topC.select(col("vec_id"), col("rank_c")), Seq("vec_id"), "full_outer")
        .select(col("vec_id"), col("rank_h"), col("rank_c"),
          (coalesce(expr("1000000000L div (60 + rank_h)"), lit(0L)) +
            coalesce(expr("1000000000L div (60 + rank_c)"), lit(0L))).as("rrf_nano"))
        .orderBy(col("rrf_nano").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""$signBitsCtes,
      scored AS (
        SELECT p.vec_id,
          CAST(bit_count(xor(p.bits, q.qbits)) AS INTEGER) AS hamming,
          round(list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
            CAST(q.qv AS DOUBLE[])), 6) + 0.0 AS cos
        FROM packed p CROSS JOIN q WHERE p.vec_id <> 0),
      th AS (SELECT vec_id,
          CAST(row_number() OVER (ORDER BY hamming, vec_id) AS INTEGER) AS rank_h
        FROM scored ORDER BY hamming, vec_id LIMIT 30),
      tc AS (SELECT vec_id,
          CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INTEGER) AS rank_c
        FROM scored ORDER BY cos DESC, vec_id LIMIT 30)
      SELECT coalesce(th.vec_id, tc.vec_id) AS vec_id, rank_h, rank_c,
        coalesce(CAST(1000000000 AS BIGINT) // (60 + rank_h), 0) +
          coalesce(CAST(1000000000 AS BIGINT) // (60 + rank_c), 0) AS rrf_nano
      FROM th FULL OUTER JOIN tc ON th.vec_id = tc.vec_id
      ORDER BY rrf_nano DESC, vec_id LIMIT 10"""))

  /** Per-dimension embedding health — the table a vector-pipeline owner
    * reads before trusting ANY downstream ANN/quantization step: a DEAD
    * dimension (near-zero variance) wastes index bits and breaks PQ
    * codebook training; a DOMINANT one (variance far above the rest)
    * means distances degenerate to that axis and the embedding model
    * likely shipped unnormalized. One row per dimension with mean,
    * variance, and |max| in exact micro-units, plus the two flags against
    * declared thresholds.
    *
    * Shapes: posexplode fans each vector to 64 (dim, value) rows feeding
    * ONE partial hash aggregate — shuffle is 64 rows per map task; sums
    * quantize to micro longs first (float4 widens to double exactly,
    * round once) so no float summation order exists; variance uses the
    * integer identity (Σx² − (Σx)²/n)/n over micro sums. Bounds (ADVICE
    * r7 #2 corrected the earlier n·Σx²−(Σx)² form, whose n·Σx² ≤ n²·1e12
    * wrapped past n ≈ 3e3 worst-case): the dominant intermediate is now
    * (Σx)², worst-case n²·1e12 at |x| → 1 (n ≲ 3e3 adversarial), but for
    * the zero-mean normalized embeddings this table audits |Σx| grows as
    * √n·σ·1e6, so intermediates stay LINEAR in n — safe past 1e8 vectors.
    * The 100 TB swap for adversarial inputs is a two-level fold (shard
    * the per-dim sums, combine shard moments), same plan shape.
    */
  val embedDimStats = Declared(
    "embed_dim_stats",
    (s, dir) => {
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim"),
          expr("CAST(round(CAST(v AS DOUBLE) * 1e6) AS BIGINT)").as("vm"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("vm")).as("s1"),
          sum(col("vm") * col("vm")).as("s2"),
          max(abs(col("vm"))).as("max_abs_micro"))
        .select(col("dim"), col("n"),
          expr("s1 div n").as("mean_micro"),
          expr("(s2 - (s1 * s1) div n) div n").as("var_micro2"),
          col("max_abs_micro"))
        .withColumn("dead", col("var_micro2") < 100000000L)
        .withColumn("dominant", col("var_micro2") > 100000000000L)
        .orderBy(col("dim"))
    },
    Some("""WITH ex AS (
        SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
          CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS vm
        FROM embeddings),
      agged AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(vm) AS BIGINT) AS s1,
          CAST(sum(vm * vm) AS BIGINT) AS s2,
          CAST(max(abs(vm)) AS BIGINT) AS max_abs_micro
        FROM ex GROUP BY dim)
      SELECT dim, n,
        CAST(s1 // n AS BIGINT) AS mean_micro,
        CAST((s2 - (s1 * s1) // n) // n AS BIGINT) AS var_micro2,
        max_abs_micro,
        ((s2 - (s1 * s1) // n) // n < 100000000) AS dead,
        ((s2 - (s1 * s1) // n) // n > 100000000000) AS dominant
      FROM agged ORDER BY dim"""))

  /** The IVF coarse cells of [[simIvf]] and [[simIvfProbe2]]: one
    * (c_label, centroid) row per label.
    */
  private def labelCentroids(e: DataFrame): DataFrame =
    meanVectors(e, Seq("label"), col("embedding"), "centroid")
      .withColumnRenamed("label", "c_label")

  /** The IVF probe: the query vector (vec_id 0) visits its `probes` nearest
    * cells and ranks their members by exact cosine, top 10.
    */
  private def ivfProbe(e: DataFrame, centroids: DataFrame, probes: Int): DataFrame = {
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val nearest = centroids.crossJoin(broadcast(q))
      // centroid is array<double> (avg-built) vs float query vector: mixed
      // types take the HOF path; the codegen CosineSim is float×float only
      .select(col("c_label"), Similarity.cosineHof(col("centroid"), col("qv")).as("ccos"))
      .orderBy(col("ccos").desc, col("c_label"))
      .limit(probes)
    e.join(broadcast(nearest), e("label") === nearest("c_label"))
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"), col("label"),
        round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** DuckDB CTEs shared by the sim_ivf oracles: q (the query vector,
    * vec_id 0) and cells (each label's mean vector). */
  private def labelCellsCtes: String = """WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      cells AS (
        SELECT label, list(v ORDER BY i) AS centroid FROM (
          SELECT label, CAST(i AS INTEGER) AS i,
                 avg(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)) AS v
          FROM embeddings CROSS JOIN generate_series(1, 64) t(i)
          GROUP BY label, CAST(i AS INTEGER))
        GROUP BY label)"""

  /** IVF-flavored ANN: coarse cells = per-label centroids (computed in-query
    * — at scale they'd be a precomputed table), query probes its nearest
    * cell only, exact cosine within. Fully deterministic, so unlike the LSH
    * variant this one is oracle-checked end-to-end.
    */
  val simIvf = Declared(
    "sim_ivf",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      ivfProbe(e, labelCentroids(e), probes = 1)
    },
    Some(s"""$labelCellsCtes,
      nearest AS (
        SELECT label AS c_label
        FROM cells CROSS JOIN q
        ORDER BY list_cosine_similarity(centroid, q.qv) DESC, label LIMIT 1)
      SELECT vec_id, label,
        round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 6) + 0.0 AS cos
      FROM embeddings JOIN nearest ON label = c_label CROSS JOIN q
      ORDER BY cos DESC, vec_id LIMIT 10"""))

  /** The at-scale IVF shape sim_ivf's doc promises: centroids MATERIALIZED
    * once as a parquet table (the precomputed coarse index — built offline at
    * 100 TB, not in-query), then multi-probe: the query visits its nearest
    * TWO cells, which recovers neighbors that straddle a cell boundary — the
    * classic IVF recall fix at the cost of scanning 2/N of the corpus instead
    * of 1/N. Exact cosine within the probed cells, so still fully
    * oracle-checked.
    */
  val simIvfProbe2 = Declared(
    "sim_ivf_probe2",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val tmp = graft.Tables.scratch("ivf")
      labelCentroids(e).write.mode("overwrite").parquet(s"$tmp/centroids.parquet")
      ivfProbe(e, s.read.parquet(s"$tmp/centroids.parquet"), probes = 2)
    },
    Some(s"""$labelCellsCtes,
      nearest2 AS (
        SELECT label AS c_label
        FROM cells CROSS JOIN q
        ORDER BY list_cosine_similarity(centroid, q.qv) DESC, label LIMIT 2)
      SELECT vec_id, label,
        round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 6) + 0.0 AS cos
      FROM embeddings JOIN nearest2 ON label = c_label CROSS JOIN q
      ORDER BY cos DESC, vec_id LIMIT 10"""))

  /** Int8 scalar quantization of embeddings — the standard 4x vector
    * compression before ANN indexing at scale (100 TB of float32 vectors →
    * 25 TB int8 with ~1% recall loss). Per-vector symmetric scale
    * (max|x|/127), quantized values q = floor(x/scale + 0.5) — floor(+0.5)
    * instead of round() so both engines round halves identically. Whole
    * pipeline is codegen HOFs; emits per-vector checksums so the oracle
    * verifies every quantized value without shipping the arrays.
    */
  val embedQuantize = Declared(
    "embed_quantize",
    (s, dir) =>
      t(s, dir, "embeddings")
        .withColumn("d", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        // nullif guards the all-zero vector: scale 0 would make q = x/0 NaN
        // (Spark) vs Inf (DuckDB) — with a NULL scale both engines emit NULL
        // quantized stats deterministically.
        .withColumn("scale", expr("nullif(array_max(transform(d, x -> abs(x))), 0.0) / 127.0"))
        .withColumn("q", expr("transform(d, x -> floor(x / scale + 0.5))"))
        .select(
          col("vec_id"),
          round(col("scale"), 9).as("scale"),
          expr("CAST(aggregate(q, CAST(0.0 AS DOUBLE), (a, x) -> a + x) AS BIGINT)").as("q_sum"),
          expr("CAST(array_min(q) AS BIGINT)").as("q_min"),
          expr("CAST(array_max(q) AS BIGINT)").as("q_max"))
        .orderBy(col("vec_id")),
    Some("""WITH s AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d,
               nullif(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)), 'max'), 0.0) / 127.0 AS scale
        FROM embeddings),
      qq AS (
        SELECT vec_id, scale, list_transform(d, x -> floor(x / scale + 0.5)) AS q FROM s)
      SELECT vec_id, round(scale, 9) AS scale,
        CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
        CAST(list_aggregate(q, 'min') AS BIGINT) AS q_min,
        CAST(list_aggregate(q, 'max') AS BIGINT) AS q_max
      FROM qq ORDER BY vec_id"""))

  /** Max-inner-product search (MIPS) — retrieval scoring for un-normalized
    * vectors (recommender / reward-model embeddings where magnitude carries
    * signal). Same broadcast-probe + TakeOrderedAndProject shape as
    * sim_topk_brute; at scale the probe side is a small query batch and the
    * corpus scan is the only full pass.
    */
  val simMips = Declared(
    "sim_mips",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 7).select(col("embedding").as("qv"))
      e.crossJoin(broadcast(q))
        .select(
          col("vec_id"), col("label"),
          round(Similarity.dot(col("embedding"), col("qv")), 6).as("ip"))
        .orderBy(col("ip").desc, col("vec_id"))
        .limit(10)
    },
    Some("""SELECT vec_id, label,
      round(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 6) + 0.0 AS ip
      FROM embeddings
      CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7) q
      ORDER BY ip DESC, vec_id LIMIT 10"""))

  val all: Seq[Declared] =
    Seq(topkBrute, annLsh, pairsWithinLabel, embedNormalize, knnLabelVote,
      filteredSearch, rangeSearch, knnJoin, recallReport, ivfTrain, pqAdc,
      ivfPq, ivfPqStored, ivfPqRecall, embedProjectRp, pcaPower,
      streamAnnProbe, ivfPqAppend, matryoshka, clusterSilhouette, hardnegMine,
      knnGraph, bucketBalance, retrievalMrr, retrievalNdcg, ivfPqDelete,
      ivfNprobeCurve, hammingTopk, rrfFusion, embedDimStats, centroidDrift,
    simIvf, simIvfProbe2, embedQuantize, simMips)
}
