package graft.queries

import graft.{Declared, SharedArtifact, Tables}
import graft.functions.{Similarity, TextFns}
import graft.operators.{MinHashLsh, SimHash}
import org.apache.spark.sql.functions._

/** Deduplication family (BASELINE.json north star): exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup. Every variant is
  * shuffle-bounded (group-by or bucket-join; no all-pairs stage anywhere).
  */
object DedupQ {
  import Tables.t

  /** Exact dedup: one group per distinct text, keeper = min doc_id. */
  val exact = Declared(
    "dedup_exact",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy(col("keeper")),
    Some("""SELECT md5(text) AS text_md5, min(doc_id) AS keeper,
      count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keeper"""))

  /** Exact dedup, keep-first-row form (row_number over the dup group). */
  val exactRows = Declared(
    "dedup_exact_rows",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("text")).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
        row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1 ORDER BY doc_id"""))

  /** Exact n-gram (8-char shingle) Jaccard with MinHash-band blocking.
    * Round 1 blocked on a 40-char prefix — quadratic under boilerplate skew
    * and blind to near-dups differing in the first 40 chars. Now: a portable
    * (md5-based, oracle-reproducible) K=16 MinHash signature per doc, 4 bands
    * of 4 rows; candidates share ≥1 band; exact shingle-Jaccard ≥ 0.5 is the
    * verify stage. The band shuffle carries (doc_id, band, 4-row key) only —
    * shingle arrays never cross the network; they re-join by id afterwards.
    *
    * Parameters are measured, not guessed: on this corpus 4-char shingles
    * leave ~0.3 background Jaccard between UNRELATED docs (2-row bands then
    * admit ~44% of all pairs → n² verify cost), while 8-char shingles push
    * background under 0.1 with true near-dups still ≥ 0.9 — so 4×4 banding
    * passes ~0.04% of random pairs and ~99% of true dups.
    */
  /** Banded candidate pairs (id1 < id2 sharing ≥1 MinHash band) over the FULL
    * documents corpus — the expensive stage (corpus-wide shingle → md5 → K
    * min-aggregates → band self-join) that dedup_ngram_jaccard,
    * dedup_containment and dedup_clusters all consume. Computed ONCE per
    * (session, dir) and snapshotted (candidates are near-linear in the
    * true-dup count, so the checkpoint is tiny); the three queries then pay
    * only their own verify stage. Restricting a query's corpus afterwards is
    * exact, not approximate: signatures depend only on the doc's own text,
    * so full-corpus candidates filtered to (id1 < N, id2 < N) ARE the
    * banding of the doc_id < N corpus.
    */
  private val bandedCandidates = new SharedArtifact("dedup_candidates")((s, dir) =>
    buildBandedCandidates(s, dir).localCheckpoint())

  /** Warm hook of perfbench's artifact probe: builds both dedup
    * artifacts. */
  private[graft] def warmShared(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    scoredPairs(s, dir)

  /** MinHash banding geometry: BANDS fixed at 4 (the OR-recall knob);
    * ROWS PER BAND grows with the corpus — the same corpus-tracking-
    * resolution discipline as [[graft.functions.Similarity.lshPlaneCount]].
    * An accidental (non-dup) pair collides on a band with prob ≈ s_bg^rows
    * (s_bg ≈ background Jaccard ≈ 0.1 on 8-char shingles), so with rows
    * frozen the accidental-candidate count grows QUADRATICALLY in n
    * (measured: banded candidates 12.3× on a 10× decade vs verified
    * output's exact 10× — r9 clean-corpus probes). One extra row per
    * decade past 100k docs cuts the accidental coefficient ~10× per step,
    * keeping candidates output-linear; true near-dups (j ≥ 0.9) keep
    * ≥ 97% OR-recall through rows=5 (1-(1-0.9^5)^4 ≈ 0.972); at the
    * rows=8 cap the same formula reads ≈ 89.5% (1-(1-0.9^8)^4) — the
    * recall spent per resolution step (R11OpsSpec pins both figures).
    * Capped at rows=8 (K=32 hashes): past 100M docs production amplifies
    * with more bands — the standard banding trade, documented like the
    * plane ladder's. The
    * oracle mirrors the tier with a CASE on the same full-corpus count
    * ([[bandRowsCaseSql]]); rows(n) is keyed to the FULL corpus count on
    * both engines even when a consumer restricts doc_id afterwards, so
    * restriction stays exact.
    */
  private[graft] val Bands = 4
  private[graft] val BaseRows = 4
  private[graft] val MaxRows = 8

  /** Smallest rows-per-band with accidental candidates output-linear at
    * corpus size n: BaseRows up to 100k docs, +1 per decade, capped.
    */
  private[graft] def bandRowsFor(n: Long): Int = {
    @annotation.tailrec
    def go(r: Int): Int =
      if (r >= MaxRows || n <= bandRowCeiling(r)) r else go(r + 1)
    go(BaseRows)
  }

  /** Largest corpus size tier r covers (1e5 docs at BaseRows, ×10 per row). */
  private[graft] def bandRowCeiling(r: Int): Long =
    (BaseRows until r).foldLeft(100000L)((c, _) => c * 10L)

  /** DuckDB CASE selecting the same per-tier expression the Spark side
    * picks: `exprFor(rows)` renders the tier body, the guard is `countSql`
    * (the FULL documents count) against [[bandRowCeiling]].
    */
  private def bandRowsCaseSql(countSql: String)(exprFor: Int => String): String = {
    val tiers = BaseRows to MaxRows
    val whens = tiers.init.map(r =>
      s"WHEN ($countSql) <= ${bandRowCeiling(r)} THEN ${exprFor(r)}").mkString("\n          ")
    s"CASE $whens\n          ELSE ${exprFor(tiers.last)} END"
  }

  /** K-position portable MinHash signature per doc (one column per
    * position). `docs` must already be spread across cores — see the
    * explode note below.
    *
    * Signatures via explode + K min() aggregates: md5 runs ONCE per
    * shingle (native Md5Pair expression — both 32-bit halves packed
    * straight from the digest bytes, no hex/conv round-trip) and the
    * minima fold map-side — the per-row array formulation
    * (transform+zip_with per k) allocates 16 intermediate arrays per doc
    * and measured 10× slower at sf0.1.
    * The explode is INLINE on the shingle expression, not on a named
    * intermediate column: naming it first makes InferFiltersFromGenerate
    * infer `size(sh) > 0` and push the whole shingle expression below the
    * spread repartition, where it runs a second time on the unspread
    * (single-partition) side — measured 5× the cost of this stage.
    */
  private def minhashSignatures(
      docs: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
      val (h1c, h2c) = graft.functions.Hashing.minhashBasePortable(col("x"))
      val hashed = docs
        .select(col("doc_id"), explode(TextFns.charShingles("text", 8)).as("x"))
        .select(col("doc_id"), h1c.as("h1"), h2c.as("h2"))
      // mod 2^31-1 decorrelates the k minima: without it one small-hash
      // shingle wins every k and unrelated docs collide on all bands (see
      // MinHashSignatureAgg doc — same family, same fix)
      val P = graft.functions.MinHashSignatureAgg.P
      val sigAggs = (0 until k).map(j =>
        min(pmod(col("h1") + lit(j.toLong) * col("h2"), lit(P))).as(s"sig_$j"))
      hashed.groupBy(col("doc_id")).agg(sigAggs.head, sigAggs.tail: _*)
  }

  private def buildBandedCandidates(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
      // rows-per-band tracks the FULL corpus (parquet-metadata count)
      val rows = bandRowsFor(t(s, dir, "documents").count())
      // spread BEFORE shingling: a single-file scan would run the whole
      // shingle+md5 pipeline on one core (Tables.spread is a no-op when the
      // scan already has enough splits)
      val docs = Tables.spread(t(s, dir, "documents"), "doc_id")
      val sigs = minhashSignatures(docs, Bands * rows)
      val banded = sigs.select(
        col("doc_id"),
        posexplode(array((0 until Bands).map { b =>
          concat_ws(",", (0 until rows).map(r => col(s"sig_${b * rows + r}").cast("string")): _*)
        }: _*)).as(Seq("band", "bkey")))
        // tiny (BANDS short rows per doc); snapshot so the self-join's two
        // sides don't each recompute the shingle+hash+signature pipeline
        .localCheckpoint()
      banded.select(col("doc_id").as("id1"), col("band"), col("bkey"))
        .join(banded.select(col("doc_id").as("id2"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"))
        .distinct()
  }

  /** The exact-shingle verify stage over a candidate set: join candidates
    * back to RAW text and shingle only the survivors — re-shingling the
    * whole corpus (or shipping shingle arrays through a join) would be two
    * more full passes at 100 TB, while candidates are near-linear in the
    * true-dup count. Used by the [[scoredPairs]] snapshot (jaccard) and by
    * dedup_containment's custom rescoring.
    */
  private def verifyPairs(
      s: org.apache.spark.sql.SparkSession, dir: String,
      cand: org.apache.spark.sql.DataFrame,
      score: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      scoreName: String): org.apache.spark.sql.DataFrame = {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      cand
        .join(base.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
        .join(base.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
        .select(
          col("id1"), col("id2"),
          round(score(
            TextFns.charShingles("t1", 8), TextFns.charShingles("t2", 8)), 6).as(scoreName))
  }

  /** The full banded candidate set scored with exact shingle Jaccard — ONE
    * verify pass per (session, dir), snapshotted (pairs are near-linear in
    * the true-dup count, so the checkpoint is candidate-sized) and shared
    * by every jaccard-scoring consumer: dedup_ngram_jaccard and
    * decontaminate_fuzzy filter ≥ 0.5 on the pre-rounded score (identical
    * to filtering their own verify output), the cluster family (clusters /
    * canonicalize / cluster_stats / split_leakage_free) additionally
    * restricts doc_id < 2500 — exact, because a pair's score depends only
    * on its own two texts, so restricting AFTER scoring ≡ scoring the
    * restricted candidates — and corpus_dedup_curve buckets the whole
    * table (its minScore was already 0). The r12 shape re-ran the verify
    * join + per-pair double re-shingling once per consumer: 3 full-corpus
    * verify passes and 4 restricted ones per suite run (guide §1.2:
    * don't compute things twice).
    */
  private val scoredPairs = new SharedArtifact("dedup_scored_pairs")((s, dir) =>
    verifyPairs(s, dir, bandedCandidates(s, dir), TextFns.jaccard, "jaccard").localCheckpoint())

  /** The ngram pair pipeline (cached candidates → shared scored snapshot):
    * dedup_ngram_jaccard emits the pairs themselves; the cluster family and
    * corpus_dedup_curve reuse the same scored snapshot. `idLimit` restricts
    * the corpus to doc_id < limit (exact — see [[bandedCandidates]] and
    * [[scoredPairs]]); the oracle applies the same WHERE to its scan.
    */
  private def ngramPairs(
      s: org.apache.spark.sql.SparkSession, dir: String,
      idLimit: Option[Long],
      minScore: Double = 0.5): org.apache.spark.sql.DataFrame = {
      val scored0 = scoredPairs(s, dir)
      val scored = idLimit
        .map(l => scored0.filter(col("id1") < l && col("id2") < l))
        .getOrElse(scored0)
      if (minScore > 0.0) scored.filter(col("jaccard") >= minScore) else scored
  }

  /** DuckDB CTE block mirroring [[ngramPairs]], ending in `pairs(id1, id2,
    * jaccard)`. `where` restricts the documents scan ("" = whole corpus).
    */
  private def ngramPairCtes(
      where: String,
      scoreSql: String =
        "CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) / CAST(len(list_distinct(list_concat(s1.sh, s2.sh))) AS DOUBLE)",
      scoreName: String = "jaccard",
      minScore: Double = 0.5): String = {
      val d1 = graft.functions.Hashing.md5Hash32DuckSql("x", 1)
      val d2 = graft.functions.Hashing.md5Hash32DuckSql("x", 9)
      // compute the MAX tier's signature width; the band key CASE below
      // reads only the tier the corpus count selects
      val sigCols = (0 until Bands * MaxRows).map(k =>
        s"list_min(list_transform(sh, x -> ($d1 + $k * $d2) % 2147483647)) AS sig_$k")
        .mkString(",\n          ")
      // rows-per-band tier keyed to the FULL corpus count (never the
      // where-restricted scan — mirrors the Spark side, which bands the
      // full corpus once and restricts candidates afterwards)
      val cnt = "SELECT count(*) FROM documents"
      val bandSelects = (0 until Bands).map { b =>
        val key = bandRowsCaseSql(cnt) { rows =>
          (0 until rows).map(r => s"CAST(sig_${b * rows + r} AS VARCHAR)")
            .mkString(" || ',' || ")
        }
        s"SELECT doc_id, $b AS band, $key AS bkey FROM sig"
      }.mkString("\n        UNION ALL ")
      s"""sh AS (
        SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(text) - 7, 1) + 1),
          i -> substr(text, CAST(i AS INTEGER), 8))) AS sh
        FROM documents $where),
      sig AS (
        SELECT doc_id,
          $sigCols
        FROM sh),
      banded AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT * FROM (
          SELECT id1, id2,
            round($scoreSql, 6) AS $scoreName
          FROM cand
          JOIN sh s1 ON s1.doc_id = cand.id1
          JOIN sh s2 ON s2.doc_id = cand.id2)
        WHERE $scoreName >= $minScore)"""
  }

  val ngramJaccard = Declared(
    "dedup_ngram_jaccard",
    (s, dir) => ngramPairs(s, dir, None: Option[Long]).orderBy(col("id1"), col("id2")),
    Some(s"""WITH ${ngramPairCtes("")}
      SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2"""),
    uses = Seq(bandedCandidates, scoredPairs))

  /** Containment similarity |A∩B| / min(|A|,|B|) over the same banded
    * candidates: catches SUB-DOCUMENT duplication (one doc embedded in a
    * larger one) that symmetric Jaccard under-scores — a quote-heavy or
    * concatenated document scores containment ≈ 1 while its Jaccard can sit
    * below any dedup threshold. Scope note: candidates here come from
    * symmetric MinHash bands, which recall containment pairs reliably only
    * when sizes are comparable; [[containmentAsym]] is the asymmetric-recall
    * blocker (prefix filtering) for the skewed case.
    */
  val containment = Declared(
    "dedup_containment",
    (s, dir) => verifyPairs(
        s, dir, bandedCandidates(s, dir),
        score = (a, b) => size(array_intersect(a, b)).cast("double") /
          least(size(a), size(b)).cast("double"),
        scoreName = "containment")
      .filter(col("containment") >= 0.6)
      .orderBy(col("id1"), col("id2")),
    Some(s"""WITH ${ngramPairCtes(
        "",
        scoreSql =
          "CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) / CAST(least(len(s1.sh), len(s2.sh)) AS DOUBLE)",
        scoreName = "containment",
        minScore = 0.6)}
      SELECT id1, id2, containment FROM pairs ORDER BY id1, id2"""),
    uses = Seq(bandedCandidates))

  /** Asymmetric-recall containment search — the blocker [[containment]]'s
    * scope note names as its own gap: symmetric MinHash bands recall a
    * contained doc only when sizes are comparable (Jaccard(short, 10×long)
    * ≈ 0.1 → a 4-row band matches with p ≈ 1e-4), so a short doc embedded
    * verbatim in a long one is invisible to them. This query demonstrates
    * recall on genuine 10× skew: the "long" corpus is built by concatenating
    * each consecutive group of 10 fixture docs (so every short IS contained
    * in exactly one long), and the blocker is PREFIX FILTERING with a
    * rarest-first global shingle order — for containment ≥ t, a short doc
    * with n distinct shingles has at most ⌊(1-t)·n⌋ shingles outside any
    * true container, so its ⌊(1-t)·n⌋+1 smallest-ordered shingles must hit
    * the container's inverted index (pigeonhole ⇒ 100% recall, under ANY
    * total order). Ordering by (document frequency asc, hash) makes anchors
    * the RAREST shingles, so a hot shingle never fans a short doc out to
    * the whole corpus. Shingles here are 16-char (vs the 8-char verify
    * shingles of [[containment]]): at 8 chars the synthetic corpus shares
    * so many n-grams that anchors still hit ~60% of all longs (measured
    * 1.5 M candidate pairs at sf0.1); at 16 chars accidental collisions
    * vanish (5.5 k candidates, all 5 k true containments recalled) while a
    * verbatim-embedded doc still matches every anchor. Containment is
    * scored on the same 16-gram sets, so the prefix-filter pigeonhole
    * guarantee is exact for t = 0.9. Shuffle profile at 100 TB: the long side's inverted
    * index is the big term — one linear shuffle of (hash, id) ints, the
    * classic SSJoin/prefix-filter layout; texts re-join by id only for the
    * candidate survivors.
    */
  val containmentAsym = Declared(
    "dedup_containment_asym",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      val K = 16
      // doc_id < 2500: same bench-tail cap as [[clusters]] — the pipeline
      // is linear, the cap just keeps the fixture cost proportionate
      val docs = Tables.spread(t(s, dir, "documents").filter(col("doc_id") < 2500), "doc_id")
        .select(col("doc_id"), col("text"))
      // snapshots: longs / sidx / lidx each feed SEVERAL consumers below
      // (index + df-stats + verify join) — without them every consumer
      // re-runs the shingle+md5 pipeline and the optimizer chews on one
      // enormous duplicated tree. Materializing the inverted index is also
      // the honest at-scale shape: an SSJoin index is BUILT once and
      // queried, not re-derived per probe. The group-by collapses longs to
      // one tiny AQE partition, so re-spread before the shingle explode
      // (single-task shingling of the long side measured 12.6 s at sf0.1).
      val longs = Tables.spread(
        docs
          .groupBy(expr("doc_id DIV 10").as("long_id"))
          .agg(expr(
            "array_join(transform(array_sort(collect_list(struct(doc_id, text))), p -> p.text), '')")
            .as("ltext"))
          .localCheckpoint(),
        "long_id")
      def h1(c: org.apache.spark.sql.Column) =
        graft.functions.Hashing.minhashBasePortable(c)._1
      // per-doc hashed shingle SETS, built in array land: hash inside a
      // transform lambda, array_distinct per doc, checkpoint the arrays.
      // The r11 shape exploded first and made the set semantics row-wise —
      // a corpus-sized DISTINCT shuffle per side plus a corpus-sized
      // collect_list groupBy per side to rebuild the very same arrays for
      // the verify stage; all rows of one doc are born in one partition, so
      // the per-doc dedup never needed a shuffle at all (guide §2.4). The
      // exploded index views below re-derive from the checkpointed arrays
      // (a cheap in-place explode), and the verify sets ARE the arrays.
      def hashSet(shingles: org.apache.spark.sql.Column) =
        array_distinct(transform(shingles, x => h1(x)))
      val sarr = docs
        .select(col("doc_id"), hashSet(TextFns.charShingles("text", K)).as("ssh"))
        .localCheckpoint()
      val larr = longs
        .select(col("long_id"), hashSet(TextFns.charShingles("ltext", K)).as("lsh"))
        .localCheckpoint()
      val sidx = sarr.select(col("doc_id"), explode(col("ssh")).as("h"))
      val lidx = larr.select(col("long_id"), explode(col("lsh")).as("h"))
      val dfreq = lidx.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val anchors = sidx.join(dfreq, Seq("h"), "left")
        .withColumn("dfn", coalesce(col("df"), lit(0L)))
        .withColumn("rn", row_number().over(w.orderBy(col("dfn"), col("h"))))
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("rn") <= expr("n DIV 10 + 1"))
        .select(col("doc_id"), col("h"))
      val cand = anchors.join(lidx, "h")
        .select(col("doc_id"), col("long_id")).distinct()
      // verify against the PRE-BUILT HASH sets — the same checkpointed
      // arrays the index exploded from (shingling inside the verify
      // projection would re-run the substr pipeline of a long doc once per
      // candidate, ~300× each here, and AQE coalesces the small candidate
      // shuffle to one partition, making that work single-threaded too —
      // measured: 300 s → ~2 s at sf0.01). Containment over the 32-bit hash
      // sets equals containment over the 16-gram sets up to hash collisions,
      // which both engines share bit-for-bit. The explicit repartition
      // spreads the intersect work back across cores.
      // both set sides are per-DOC aggregates (one row per doc / per long),
      // tiny next to the candidate list — broadcast them so the verify
      // stage never shuffles a shingle array (the lsets side sits just over
      // the 10 MB auto threshold at sf0.1 and a shuffled array join there
      // measured 20× the broadcast plan). At 100 TB the equivalent is
      // bucketing the index by id — the arrays still never ride a shuffle
      // with the candidate fanout attached.
      cand
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"), col("long_id"))
        .join(broadcast(sarr), "doc_id")
        .join(broadcast(larr), "long_id")
        .select(
          col("doc_id").as("short_id"), col("long_id"),
          round(size(array_intersect(col("ssh"), col("lsh"))).cast("double") /
            size(col("ssh")).cast("double"), 6).as("containment"))
        .filter(col("containment") >= 0.9)
        .orderBy(col("short_id"), col("long_id"))
    },
    Some {
      val h = graft.functions.Hashing.md5Hash32DuckSql("x", 1)
      def shingles(textExpr: String) =
        s"""list_distinct(list_transform(range(1, greatest(len($textExpr) - 15, 1) + 1),
           i -> substr($textExpr, CAST(i AS INTEGER), 16)))"""
      s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 2500),
      longs AS (
        SELECT doc_id // 10 AS long_id, string_agg(text, '' ORDER BY doc_id) AS ltext
        FROM docs GROUP BY doc_id // 10),
      ssh AS (SELECT doc_id, unnest(${shingles("text")}) AS x FROM docs),
      sidx AS (SELECT DISTINCT doc_id, $h AS h FROM ssh),
      lsh AS (SELECT long_id, unnest(${shingles("ltext")}) AS x FROM longs),
      lidx AS (SELECT DISTINCT long_id, $h AS h FROM lsh),
      dfreq AS (SELECT h, count(*) AS df FROM lidx GROUP BY h),
      sp AS (
        SELECT doc_id, h,
          row_number() OVER (PARTITION BY doc_id ORDER BY coalesce(df, 0), h) AS rn,
          count(*) OVER (PARTITION BY doc_id) AS n
        FROM sidx LEFT JOIN dfreq USING (h)),
      anchors AS (SELECT doc_id, h FROM sp WHERE rn <= n // 10 + 1),
      cand AS (SELECT DISTINCT a.doc_id, l.long_id FROM anchors a JOIN lidx l USING (h)),
      ssets AS (SELECT doc_id, list(h) AS sh FROM sidx GROUP BY doc_id),
      lsets AS (SELECT long_id, list(h) AS sh FROM lidx GROUP BY long_id)
      SELECT * FROM (
        SELECT c.doc_id AS short_id, c.long_id,
          round(CAST(len(list_intersect(s.sh, l.sh)) AS DOUBLE) / CAST(len(s.sh) AS DOUBLE), 6)
            AS containment
        FROM cand c JOIN ssets s ON s.doc_id = c.doc_id
        JOIN lsets l ON l.long_id = c.long_id)
      WHERE containment >= 0.9 ORDER BY short_id, long_id"""
    })

  /** Oracle CTEs shared by the cluster family (dedup_clusters,
    * dedup_canonicalize, dedup_cluster_stats, split_leakage_free): the
    * verified ngram pairs of the doc_id < 2500 slice, their undirected
    * edges, a recursive min-label reach, and `cl` = (doc_id, cluster_id =
    * the component's min doc_id). */
  private def clusterCtes: String =
    s"""WITH RECURSIVE ${ngramPairCtes("WHERE doc_id < 2500")},
      edges AS (
        SELECT id1 AS src, id2 AS dst FROM pairs
        UNION SELECT id2, id1 FROM pairs),
      reach AS (
        SELECT doc_id AS id, doc_id AS label FROM documents WHERE doc_id < 2500
        UNION
        SELECT e.dst AS id, r.label FROM reach r JOIN edges e ON e.src = r.id),
      cl AS (
        SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
        FROM reach GROUP BY id)"""

  /** Near-dup CLUSTER assignment — the stage after pair finding that a real
    * dedup pipeline keys its keep-one decision on: connected components of
    * the verified ngram-Jaccard pair graph ([[graft.operators.DedupClusters]]
    * — iterative min-label propagation), cluster_id = min doc_id in the
    * component, singletons keep themselves. Transitivity matters: A~B and
    * B~C land in ONE cluster even when A~C was never a candidate pair. The
    * DuckDB oracle runs the identical pair pipeline plus a recursive CTE, so
    * the whole thing is hash-checked end-to-end (corpus restricted to
    * doc_id < 2500 to keep the doubled pair-pipeline cost out of the bench
    * tail).
    */
  val clusters = Declared(
    "dedup_clusters",
    (s, dir) => {
      val pairs = ngramPairs(s, dir, Some(2500L)).select(col("id1"), col("id2"))
      graft.operators.DedupClusters
        .connectedComponents(
          t(s, dir, "documents").filter(col("doc_id") < 2500).select(col("doc_id")),
          "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$clusterCtes
      SELECT doc_id, cluster_id FROM cl ORDER BY doc_id"""),
    uses = Seq(bandedCandidates, scoredPairs))

  /** The keep-one DECISION the cluster assignment exists for: elect one
    * canonical representative per near-dup cluster (longest text wins,
    * smallest doc_id breaks ties — the keep-best rule dedup_url applies
    * per exact key, lifted to the transitive near-dup component) and emit
    * the full drop ledger: every doc, its cluster, its canonical, whether
    * it survives. The election is `max_by` over a single packed BIGINT
    * ordering key (n_chars·2³² − doc_id — larger text wins, then the
    * smaller id; exact while n_chars < 2³¹ and doc_id < 2³², both true by
    * construction) inside the cluster aggregate — one shuffle over the
    * (tiny) cluster
    * table, never a window over the corpus; at 100 TB the pair graph and
    * cluster table stay near-linear in the true-dup count while the ledger
    * join is a plain keyed shuffle. Reuses [[ngramPairs]]' shared candidate
    * snapshot like dedup_clusters (same doc_id < 2500 restriction).
    */
  val canonicalize = Declared(
    "dedup_canonicalize",
    (s, dir) => {
      val pairs = ngramPairs(s, dir, Some(2500L)).select(col("id1"), col("id2"))
      val docs = t(s, dir, "documents").filter(col("doc_id") < 2500)
      val cl = graft.operators.DedupClusters
        .connectedComponents(docs.select(col("doc_id")), "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
      val scored = cl.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      val canon = scored.groupBy(col("cluster_id"))
        .agg(
          expr("max_by(doc_id, n_chars * 4294967296L - doc_id)").as("canonical_id"),
          count(lit(1)).as("cluster_size"))
      scored.join(canon, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
          (col("doc_id") === col("canonical_id")).as("is_kept"),
          col("cluster_size"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$clusterCtes,
      scored AS (
        SELECT c.doc_id, c.cluster_id, d.n_chars
        FROM cl c JOIN documents d USING (doc_id)),
      canon AS (
        SELECT cluster_id, arg_max(doc_id, n_chars * 4294967296 - doc_id) AS canonical_id,
          CAST(count(*) AS BIGINT) AS cluster_size
        FROM scored GROUP BY cluster_id)
      SELECT s.doc_id, s.cluster_id, c.canonical_id,
        s.doc_id = c.canonical_id AS is_kept, c.cluster_size
      FROM scored s JOIN canon c USING (cluster_id)
      ORDER BY s.doc_id"""),
    uses = Seq(bandedCandidates, scoredPairs))

  /** Duplication-structure histogram — the "how duplicated is this corpus"
    * readout a dedup budget decision reads before anything runs: cluster-size
    * distribution of the near-dup components (how many singletons, how many
    * pairs, any mega-cluster?), each size's corpus share, and the removable
    * count (size − 1 per cluster) whose sum is the exact dedup dividend.
    * Two tiny aggregates past the shared cluster assignment: cluster sizes
    * from the (near-linear-in-dups) cluster table, then the O(distinct
    * sizes) histogram — the corpus is never rescanned. A heavy tail here is
    * the trigger for dedup_canonicalize; a mega-cluster is the templated-
    * boilerplate smell worth inspecting before deleting.
    */
  val clusterStats = Declared(
    "dedup_cluster_stats",
    (s, dir) => {
      val pairs = ngramPairs(s, dir, Some(2500L)).select(col("id1"), col("id2"))
      val docs = t(s, dir, "documents").filter(col("doc_id") < 2500)
        .select(col("doc_id"))
      val cl = graft.operators.DedupClusters
        .connectedComponents(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(nDocs))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs_at_size"),
          round((col("cluster_size") * col("n_clusters")).cast("double") /
            col("n_docs"), 6).as("doc_share"),
          ((col("cluster_size") - 1L) * col("n_clusters")).as("removable_docs"))
        .orderBy(col("cluster_size"))
    },
    Some(s"""$clusterCtes,
      sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM cl GROUP BY cluster_id),
      hist AS (
        SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        FROM sizes GROUP BY cluster_size),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM cl)
      SELECT cluster_size, n_clusters,
        cluster_size * n_clusters AS n_docs_at_size,
        round(CAST(cluster_size * n_clusters AS DOUBLE) / n.n_docs, 6) AS doc_share,
        (cluster_size - 1) * n_clusters AS removable_docs
      FROM hist CROSS JOIN n ORDER BY cluster_size"""),
    uses = Seq(bandedCandidates, scoredPairs))

  /** Leakage-free train/val split — the reason a training pipeline computes
    * near-dup CLUSTERS at all: a hash split by doc_id routinely puts one
    * member of a near-dup pair in train and its twin in val (memorization
    * reads as generalization), while splitting by CLUSTER id keeps every
    * component on one side, making cross-split near-dup leakage zero BY
    * CONSTRUCTION. This op measures both policies on the same corpus slice:
    * per-side doc counts and the cross-split dup-pair count for the naive
    * doc_id-hash split vs the cluster-keyed split (provably 0 — both
    * endpoints share cluster_id, hence the side). The pair table and
    * cluster table are the shared snapshots the rest of the dedup family
    * amortizes; the comparison itself is two 1-row aggregates. The
    * split_temporal leakage flag, made structural.
    */
  val splitLeakageFree = Declared(
    "split_leakage_free",
    (s, dir) => {
      val pairs = ngramPairs(s, dir, Some(2500L)).select(col("id1"), col("id2"))
      val docs = t(s, dir, "documents").filter(col("doc_id") < 2500)
        .select(col("doc_id"))
      val sides = graft.operators.DedupClusters
        .connectedComponents(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"),
          (col("id") % 10 < 8).as("nt"),
          (col("cluster_id") % 10 < 8).as("ct"))
      val counts = sides.agg(
        sum(when(col("nt"), 1L).otherwise(0L)).as("naive_train"),
        sum(when(!col("nt"), 1L).otherwise(0L)).as("naive_val"),
        sum(when(col("ct"), 1L).otherwise(0L)).as("cluster_train"),
        sum(when(!col("ct"), 1L).otherwise(0L)).as("cluster_val"))
      val leaks = pairs
        .join(sides.select(col("doc_id").as("id1"),
          col("nt").as("nt1"), col("ct").as("ct1")), "id1")
        .join(sides.select(col("doc_id").as("id2"),
          col("nt").as("nt2"), col("ct").as("ct2")), "id2")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("nt1") =!= col("nt2"), 1L).otherwise(0L)).as("naive_leaked"),
          sum(when(col("ct1") =!= col("ct2"), 1L).otherwise(0L)).as("cluster_leaked"))
      counts.crossJoin(broadcast(leaks))
        .selectExpr("stack(2, " +
          "'cluster_aware', cluster_train, cluster_val, n_pairs, cluster_leaked, " +
          "'naive_hash', naive_train, naive_val, n_pairs, naive_leaked) AS " +
          "(policy, n_train, n_val, n_dup_pairs, leaked_pairs)")
        .withColumn("leak_frac", round(col("leaked_pairs").cast("double") /
          greatest(col("n_dup_pairs"), lit(1L)), 6))
        .orderBy(col("policy"))
    },
    Some(s"""$clusterCtes,
      sides AS (
        SELECT doc_id, doc_id % 10 < 8 AS nt, cluster_id % 10 < 8 AS ct
        FROM cl),
      counts AS (
        SELECT
          CAST(sum(CASE WHEN nt THEN 1 ELSE 0 END) AS BIGINT) AS naive_train,
          CAST(sum(CASE WHEN NOT nt THEN 1 ELSE 0 END) AS BIGINT) AS naive_val,
          CAST(sum(CASE WHEN ct THEN 1 ELSE 0 END) AS BIGINT) AS cluster_train,
          CAST(sum(CASE WHEN NOT ct THEN 1 ELSE 0 END) AS BIGINT) AS cluster_val
        FROM sides),
      leaks AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(sum(CASE WHEN a.nt <> b.nt THEN 1 ELSE 0 END) AS BIGINT) AS naive_leaked,
          CAST(sum(CASE WHEN a.ct <> b.ct THEN 1 ELSE 0 END) AS BIGINT) AS cluster_leaked
        FROM pairs p
        JOIN sides a ON a.doc_id = p.id1
        JOIN sides b ON b.doc_id = p.id2)
      SELECT policy, n_train, n_val, n_dup_pairs, leaked_pairs,
        round(CAST(leaked_pairs AS DOUBLE) / greatest(n_dup_pairs, 1), 6) AS leak_frac
      FROM (
        SELECT 'cluster_aware' AS policy, cluster_train AS n_train,
          cluster_val AS n_val, n_pairs AS n_dup_pairs,
          cluster_leaked AS leaked_pairs FROM counts, leaks
        UNION ALL
        SELECT 'naive_hash', naive_train, naive_val, n_pairs, naive_leaked
        FROM counts, leaks)
      ORDER BY policy"""),
    uses = Seq(bandedCandidates, scoredPairs))

  /** Incremental (batch-vs-corpus) dedup: docs with doc_id % 10 < 8 play the
    * existing corpus — its normalized fingerprints are persisted once as the
    * index — and the rest arrive as the new batch, which is deduped against
    * the index (left-anti) and within itself (first-id window) without ever
    * rescanning corpus text. The %-10 split is scale-independent so the
    * query is identical at every sf. The fixture has no byte-identical dups,
    * so here the anti-join passes everything through — IncrementalDedupSpec
    * proves both rejection paths on a synthetic overlap.
    */
  val incremental = Declared(
    "dedup_incremental",
    (s, dir) => {
      val fp = md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("fp")
      val idxPath = Tables.scratch("fp_index")
      t(s, dir, "documents").filter(col("doc_id") % 10 < 8)
        .select(fp).distinct()
        .write.mode("overwrite").parquet(idxPath)
      val batch = t(s, dir, "documents").filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id"), fp)
      graft.operators.IncrementalDedup
        .newUnique(batch, s.read.parquet(idxPath), "doc_id", "fp")
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH fps AS (
        SELECT doc_id, md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
        FROM documents),
      idx AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 < 8),
      batch AS (SELECT doc_id, fp FROM fps WHERE doc_id % 10 >= 8),
      fresh AS (
        SELECT b.doc_id, b.fp FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.fp = b.fp))
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM fresh)
      WHERE rn = 1 ORDER BY doc_id"""))

  /** Incremental dedup with a BLOOM pre-filter — the shuffle-avoidance
    * pattern for the growing-corpus shape at 100 TB: the fingerprint index
    * is folded once into a broadcast bloom filter, every batch row probes
    * it map-side, and only the `might_contain` survivors (true dups + the
    * filter's false positives) pay the exact anti-join shuffle against the
    * index; definitely-new rows never shuffle at all. On a steady-state
    * corpus where most arrivals are new, that turns the per-batch cost from
    * "shuffle the whole batch against a petabyte index" into "shuffle the
    * few percent that might collide". Results are EXACTLY
    * [[incremental]]'s — the bloom can only divert rows the anti-join
    * would pass anyway — so the oracle is the same SQL, and
    * IncrementalBloomSpec pins result equality plus the might_contain
    * probe in the plan.
    */
  val incrementalBloom = Declared(
    "dedup_incremental_bloom",
    (s, dir) => {
      val fp = md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("fp")
      val idxPath = Tables.scratch("fp_index_bloom")
      t(s, dir, "documents").filter(col("doc_id") % 10 < 8)
        .select(fp).distinct()
        .write.mode("overwrite").parquet(idxPath)
      val index = s.read.parquet(idxPath)
      // bloom_filter_agg / might_contain are internal (the optimizer's
      // runtime-filter machinery, not registered SQL) — built directly, the
      // same classes q_runtime_bloom's rewrite injects. might_contain
      // requires a CONSTANT filter, so the ~25 KB bloom is folded on the
      // driver and embedded as a literal — which is precisely how Spark's
      // own runtime filter ships it (driver collects the build side's
      // bloom, re-broadcasts it into the probe scan); the driver holds
      // index METADATA, never index rows
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      val bf = index.agg(column(
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          expression(xxhash64(col("fp"))),
          org.apache.spark.sql.catalyst.expressions.Literal(20000L),
          org.apache.spark.sql.catalyst.expressions.Literal(200000L))
          .toAggregateExpression()).as("bf"))
        .head().getAs[Array[Byte]](0)
      val batch = t(s, dir, "documents").filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id"), fp)
        .withColumn("maybe_dup", column(
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
            org.apache.spark.sql.catalyst.expressions.Literal(
              bf, org.apache.spark.sql.types.BinaryType),
            expression(xxhash64(col("fp"))))))
        .select(col("doc_id"), col("fp"), col("maybe_dup"))
      val sureNew = batch.filter(!col("maybe_dup")).select(col("doc_id"), col("fp"))
      val confirmedNew = batch.filter(col("maybe_dup"))
        .select(col("doc_id"), col("fp"))
        .join(index, Seq("fp"), "left_anti") // false positives come back here
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      sureNew.unionByName(confirmedNew)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1) // keep-one within the batch itself
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    },
    incremental.oracle)

  /** MinHash+LSH candidate pairs (signature-estimated Jaccard ≥ 0.35).
    * Base hashes are the portable md5 pair, so since round 2 the full
    * pipeline (signatures → banding → est-Jaccard) is DuckDB-oracle-checked
    * bit-for-bit; MinHashLshSpec additionally pins est-vs-exact agreement.
    */
  val minhash = Declared(
    "dedup_minhash",
    (s, dir) =>
      MinHashLsh.nearDuplicates(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.35),
    Some(MinHashLsh.oracleSql(threshold = 0.35)))

  /** The three (bands, rows) splits of the K=64 hashes [[lshTuning]] sweeps. */
  private val lshConfigs = Seq(32 -> 2, 16 -> 4, 8 -> 8)

  /** Analytic S-curve midpoint (1/b)^(1/r), rounded once in Scala so both
    * engines carry the identical literal. */
  private def sCurveThreshold(b: Int, r: Int): Double =
    BigDecimal(math.pow(1.0 / b, 1.0 / r))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** LSH band-configuration sweep — the S-curve tuning readout an engineer
    * reads before fixing (bands, rows): the SAME 64-hash signature table
    * (built once, checkpointed — at 100 TB this is the persisted signature
    * table, and a re-band is signature-sized work, never a corpus re-shingle)
    * is banded three ways (32×2 loose, 16×4 production, 8×8 strict), and
    * each config reports its candidate volume plus the mean signature-
    * estimated Jaccard of what it surfaced — recall-vs-verify-cost made
    * visible: loose banding floods the verifier with low-similarity pairs,
    * strict banding starves it. threshold_est is the analytic S-curve
    * midpoint (1/b)^(1/r), inlined as the same literal on both engines.
    * Match counts fold as exact integers (est-Jaccard = matches/64 only at
    * readout).
    *
    * Measured curve (r12, isolated calm session `probes/r12/probe_lsht2_*`,
    * steal ≤ 0.08% of run ticks): 3.3 → 21.2 → 129.9 s at sf1/sf10/sf100 —
    * 6.3×/6.1× per decade on 32 fixed cores, sub-linear, with LshDiag
    * confirming every volume exactly linear (collision rows 115k→1.15M,
    * pairs 36k→360k per decade; pairs ≈ 0.7·docs, so pair-sized work is
    * NOT this family's hazard). The r12 rebuild got there structurally:
    * the old per-config loop paid the banding machinery three times and
    * the signature est-join six sig-table shuffles; the multi-config
    * single-pass ([[MinHashLsh.multiBandedCandidates]]) pays once + two,
    * and measured 4.5× faster at sf100 (579 → 130 s, same host, same
    * shuffle settings). The r11 in-suite 347 s reading was never the calm
    * truth — the old shape read 579 s isolated at 256 shuffle partitions.
    */
  val lshTuning = Declared(
    "dedup_lsh_tuning",
    (s, dir) => {
      val sigs = MinHashLsh
        .signatures(t(s, dir, "documents"), "doc_id", "text")
        .localCheckpoint()
      // all three geometries band in ONE pass (config-tagged pairs), so the
      // banded sort, hot-bucket census, pair distinct and the signature
      // est-join each run once instead of once per config — the r12 rebuild
      // after the isolated sf100 probe attributed the sweep's cost to 3×
      // repeated banding machinery over exactly-linear volumes (LshDiag:
      // collision rows 115k→1.15M, pairs 36k→360k across sf1→sf10; the
      // pair set is ~0.7·n rows, so pair-sized joins are NOT the embedding
      // family's disease here — repeated corpus-sized sorts were)
      val cand = MinHashLsh
        .multiBandedCandidates(sigs, "doc_id", lshConfigs)
      val s1 = sigs.select(col("doc_id").as("id1"), col("signature").as("sig1"))
      val s2 = sigs.select(col("doc_id").as("id2"), col("signature").as("sig2"))
      val scored = cand.join(s1, "id1").join(s2, "id2")
        .select(col("cfg"), expr(
          "aggregate(zip_with(sig1, sig2, (x, y) -> IF(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)")
          .as("m"))
        .groupBy(col("cfg"))
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(col("m")), lit(0L)).as("sm"))
      // a config with zero candidates must still emit its row (the oracle's
      // per-config global agg always yields one) — right-join the 3-row
      // config table and zero-fill
      import s.implicits._
      val cfgDf = lshConfigs.zipWithIndex.map { case ((b, r), ci) =>
        (ci, b, r, sCurveThreshold(b, r))
      }.toDF("cfg", "bands", "rows_per_band", "threshold_est")
      scored.join(cfgDf, Seq("cfg"), "right")
        .select(col("bands"), col("rows_per_band"), col("threshold_est"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          round(coalesce(col("sm"), lit(0L)).cast("double") /
            (greatest(coalesce(col("n_candidates"), lit(0L)), lit(1L)) * 64.0), 6)
            .as("mean_est_jaccard"))
        .orderBy(col("bands").desc)
    },
    Some {
      val estSum = MinHashLsh.estSumSql
      val cfg = lshConfigs.map { case (b, r) =>
        val bandSelects = (0 until b).map { i =>
          val key = (0 until r).map(j => s"CAST(sig_${i * r + j} AS VARCHAR)")
            .mkString(" || ',' || ")
          s"SELECT doc_id, $i AS band, $key AS bkey FROM sig"
        }.mkString("\n        UNION ALL ")
        s"""banded_$b AS (
        $bandSelects),
      cand_$b AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM banded_$b a JOIN banded_$b b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      m_$b AS (
        SELECT CAST(count(*) AS BIGINT) AS n_candidates,
          CAST(coalesce(sum($estSum), 0) AS BIGINT) AS sm
        FROM cand_$b
        JOIN sig s1 ON s1.doc_id = cand_$b.id1
        JOIN sig s2 ON s2.doc_id = cand_$b.id2)"""
      }.mkString(",\n      ")
      val rows = lshConfigs.map { case (b, r) =>
        s"""SELECT $b AS bands, $r AS rows_per_band,
          ${sCurveThreshold(b, r)} AS threshold_est, n_candidates,
          round(CAST(sm AS DOUBLE) / (greatest(n_candidates, 1) * 64.0), 6)
            AS mean_est_jaccard
        FROM m_$b"""
      }.mkString("\n        UNION ALL ")
      s"""WITH ${MinHashLsh.sigCtesSql()},
      $cfg
      SELECT * FROM (
        $rows)
      ORDER BY bands DESC"""
    })

  /** Portable SimHash fingerprints — oracle-checked bit-for-bit. */
  val simhash = Declared(
    "dedup_simhash",
    (s, dir) =>
      SimHash.simhash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
    Some(SimHash.oracleSql()))

  /** SimHash near-dup candidate groups: docs sharing a 16-bit half of the
    * fingerprint (Hamming-≤1 pairs always share one half). Output is each
    * group's size — the shape a dedup planner consumes.
    */
  val simhashBuckets = Declared(
    "dedup_simhash_buckets",
    (s, dir) => {
      val sh = SimHash.simhash(t(s, dir, "documents"), "doc_id", "text")
      sh.select(
          col("doc_id"),
          (col("simhash").bitwiseAND(lit(0xFFFFL))).as("lo16"),
          shiftright(col("simhash"), 16).bitwiseAND(lit(0xFFFFL)).as("hi16"))
        .select(col("doc_id"), explode(array(
          concat(lit("L"), col("lo16")), concat(lit("H"), col("hi16")))).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") > 1)
        .orderBy(col("bucket"))
    },
    Some(s"""WITH sh AS (${SimHash.unorderedOracleSql()}),
      buckets AS (
        SELECT doc_id, 'L' || CAST(simhash & 65535 AS VARCHAR) AS bucket FROM sh
        UNION ALL
        SELECT doc_id, 'H' || CAST((simhash >> 16) & 65535 AS VARCHAR) AS bucket FROM sh)
      SELECT bucket, count(*) AS n_docs, min(doc_id) AS first_doc
      FROM buckets GROUP BY bucket HAVING count(*) > 1
      ORDER BY bucket"""))

  /** Embedding near-dup pairs: sign-LSH bucketing at the corpus-tracking
    * resolution of [[Similarity.lshPlaneCount]] (8 planes up to 25.6k
    * vectors, +3 planes per tier — occupancy-bounded so within-bucket pair
    * volume stays linear per decade; frozen 8-plane buckets measured
    * 83×/decade at sf10), exact cosine inside buckets, threshold 0.8. The
    * hyperplanes are fixed literals shared with the oracle (the adaptive
    * tier is a CASE on the same count in both engines), so bucketing is
    * engine-identical at every scale.
    *
    * Plan shape (r11, the sim_knn_graph rebuild applied here): candidate
    * pairs are ladder-linear but plentiful (KnnDiag: 42.5M at 2M vectors),
    * so they must never shuffle — the old shape materialized the pair ids
    * and re-joined the 64-float vectors BY ID (a ~23 GB pair-sized shuffle
    * at 2M vectors; measured 32.9 s at 200k, 29.1 s at 2M). Now the
    * embedding rides the single bucket shuffle once (n rows), the
    * self-join generates pairs in-stage, and cosine + the 0.8 threshold
    * filter inline — Catalyst pushes the threshold into the SMJ join
    * condition itself, so only OUTPUT pairs (true near-dups) even leave
    * the join. Measured same-session before → after: 3.3→2.0 s (20k),
    * 32.9→5.7 s (200k), 29.1→6.1 s (2M vectors) —
    * probes/r11/probe_{lshfam,pairjoin}_sf*.json — and a FOURTH decade
    * measured at 20M vectors (10000 signed-permutation copies,
    * tools/ScaleUp embeddings-only fixture): 65.1 s calm, zero errors,
    * 580M in-stage pairs at the p=20 tier
    * (probes/r11/probe_pairjoin_sf1000e.json) — the shape one 32-core
    * node carries through 10^4× the judged corpus. Skew: per-cell occupancy is
    * ladder-bounded in expectation; a pathological hot cell
    * (near-constant corpus) is AQE skew-split, and mass-identical
    * vectors belong to exact dedup upstream.
    */
  val embedCosine = Declared(
    "dedup_embed_cosine",
    (s, dir) => {
      val nVecs = t(s, dir, "embeddings").count() // parquet metadata count
      val planes = Similarity.planesFor(nVecs, base = 8, dim = 64)
      val e = t(s, dir, "embeddings").select(
        col("vec_id"),
        col("embedding"),
        Similarity.lshBucket(col("embedding"), planes).as("bucket"))
      def side(tag: String) = e.select(
        col("vec_id").as(s"id$tag"), col("embedding").as(s"e$tag"),
        col("bucket").as(s"bucket$tag"))
      side("1").join(side("2"),
          col("bucket1") === col("bucket2") && col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          round(Similarity.cosine(col("e1"), col("e2")), 6).as("cos"))
        .filter(col("cos") >= 0.8)
        .orderBy(col("id1"), col("id2"))
    },
    Some(s"""WITH b AS (
        SELECT vec_id, embedding,
          ${Similarity.lshBucketSqlAdaptive(
            "embedding", "SELECT count(*) FROM embeddings", 8, 64)} AS bucket
        FROM embeddings)
      SELECT * FROM (
        SELECT a.vec_id AS id1, b2.vec_id AS id2,
          round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b2.embedding AS DOUBLE[])), 6) + 0.0 AS cos
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
      WHERE cos >= 0.8 ORDER BY id1, id2"""))

  /** Temporal dedup: keep the FIRST event per (user, type, calendar day) —
    * the rolling-window dedup an event/impression pipeline runs so repeats
    * within a period collapse. One row_number window per composite key;
    * state per window partition is bounded by a single user-type-day's
    * events at any corpus scale.
    */
  val temporal = Declared(
    "dedup_temporal",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("day", col("ts").cast("date"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"), col("day"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id, event_type, day FROM (
        SELECT event_id, user_id, event_type,
          CAST(date_trunc('day', ts) AS DATE) AS day,
          row_number() OVER (PARTITION BY user_id, event_type, CAST(date_trunc('day', ts) AS DATE)
            ORDER BY ts, event_id) AS rn
        FROM events)
      WHERE rn = 1 ORDER BY event_id"""))

  /** Winnowing fingerprints (the MOSS algorithm, Schleimer et al. SIGMOD'03):
    * hash every 32-char gram, keep the MINIMUM hash of each 16-gram window —
    * content-defined sampling, so selection is position-INDEPENDENT and any
    * verbatim substring shared by two documents of length ≥ K + W − 1 = 47
    * chars is guaranteed to contribute at least one identical fingerprint
    * (an aligned-stride sampler misses copies at shifted offsets; winnowing
    * cannot). This is the exact-substring-duplication detector — license
    * blocks, verbatim quotes — complementing the set-similarity family.
    *
    * Shapes at scale (r12 rebuild): fingerprint selection happens entirely
    * INSIDE the scan partition — one native expression per document
    * ([[graft.functions.WinnowFps]]) computes the gram hashes, the sliding
    * W-minima and the within-doc distinct in a fused primitive-long loop,
    * so only ~|text|/W distinct fingerprints per doc ever leave the scan.
    * Two rejected shapes, both measured: the r11 form posexploded every
    * gram and ran the sliding min as a window partitioned by doc — a
    * corpus-CHARACTER-sized exchange (~2.3B rows ≈ 100+ GB at 5M docs)
    * followed by a same-sized distinct, which spilled past the third
    * decade (9.5 → 26.4 s calm at sf1→sf10, then ≥347 s at sf100 — the
    * per-decade step jumping 2.8× → ≥13× exactly where the exchange
    * outgrew memory); an in-row HOF form
    * (`array_min(slice(hs, j, W))` per gram) removed the shuffles but paid
    * interpreted lambdas plus a boxed 16-element array allocation per gram
    * and measured SLOWER at sf10 (45.8 s). Ubiquitous fingerprints
    * (df > 10) are dropped before the pair join — the standard frequency
    * cap that bounds any fingerprint's pair fan-out at C(10,2) and keeps
    * the self-join linear in practice (same reason the suffix-array
    * pipelines drop ultra-frequent seeds).
    */
  val winnow = Declared(
    "dedup_winnow",
    (s, dir) => {
      val K = 32
      val W = 16
      // fingerprint selection is one native expression per document
      // ([[graft.functions.WinnowFps]]): gram hashes, sliding minima and
      // the within-doc distinct all happen in-row in the scan stage —
      // only ~|text|/W fingerprints per doc ever leave it. Snapshot feeds
      // the df-cap AND both sides of the pair join.
      val fps = Tables.spread(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"),
          explode(graft.functions.WinnowFps.winnow_fps(col("text"), K, W)).as("fp"))
        .localCheckpoint()
      val keep = fps.join(
        fps.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
          .filter(col("nd").between(2, 10)).select(col("fp")),
        "fp")
      keep.select(col("fp"), col("doc_id").as("doc_a"))
        .join(keep.select(col("fp"), col("doc_id").as("doc_b")), "fp")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"), min(col("fp")).as("sample_fp"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH grams AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
          ${graft.functions.Hashing.md5Hash32DuckSql("substr(text, CAST(i AS INTEGER), 32)")} AS h
        FROM documents, unnest(range(1, greatest(len(text) - 31, 0) + 1)) t(i)),
      wins AS (
        SELECT doc_id,
          min(h) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp,
          pos, count(*) OVER (PARTITION BY doc_id) AS n
        FROM grams),
      fps AS (SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= n - 16 + 1),
      df AS (SELECT fp, count(*) AS nd FROM fps GROUP BY fp),
      keep AS (
        SELECT fps.doc_id, fps.fp FROM fps JOIN df USING (fp)
        WHERE nd BETWEEN 2 AND 10)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(count(*) AS BIGINT) AS n_shared, min(a.fp) AS sample_fp
      FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b"""))

  /** MinHash ESTIMATION-ACCURACY report — the eval that justifies the
    * sketch: over the banded candidate pairs, the signature-estimated
    * Jaccard (matching positions / K) is compared against the exact
    * shingle Jaccard, summarized as MAE / signed bias / worst error. This
    * is the readout that sizes K in production (est error ~ 1/√K): if MAE
    * drifts, the signature family or banding broke, long before downstream
    * dedup quality visibly degrades. Signatures are recomputed only for
    * candidate MEMBERS (semi-join first — near-linear in the dup count,
    * never a second full-corpus pass); est values are exact multiples of
    * 1/K (K = Bands × rows at the corpus's banding tier) so the
    * comparison itself adds no float noise.
    */
  val minhashAccuracy = Declared(
    "dedup_minhash_accuracy",
    (s, dir) => {
      // K tracks the banding tier (est granularity 1/K on both engines)
      val kN = Bands * bandRowsFor(t(s, dir, "documents").count())
      val cand = bandedCandidates(s, dir)
      val members = cand.select(col("id1").as("doc_id"))
        .union(cand.select(col("id2").as("doc_id"))).distinct()
      val docs = Tables.spread(
        t(s, dir, "documents").join(members, "doc_id"), "doc_id")
      // snapshot: both join sides below are renamed projections of this one
      // aggregate — without the checkpoint the member shingle+md5+K-min
      // pipeline executes once per side (same discipline as the banded
      // self-join's localCheckpoint above)
      val sigs = minhashSignatures(docs, kN).localCheckpoint()
      def side(tag: String) = sigs.select(
        col("doc_id").as(tag) +: (0 until kN).map(k => col(s"sig_$k").as(s"${tag}_$k")): _*)
      val est = (0 until kN)
        .map(k => (col(s"id1_$k") === col(s"id2_$k")).cast("int"))
        .reduce(_ + _).cast("double") / kN
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      cand
        .join(side("id1"), "id1").join(side("id2"), "id2")
        .select(col("id1"), col("id2"), est.as("est"))
        .join(base.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
        .join(base.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
        .select(col("id1"), col("id2"), col("est"),
          round(TextFns.jaccard(
            TextFns.charShingles("t1", 8), TextFns.charShingles("t2", 8)), 6).as("exact"))
        .agg(
          count(lit(1)).as("n_pairs"),
          round(avg(abs(col("est") - col("exact"))), 6).as("mae"),
          round(avg(col("est") - col("exact")), 6).as("bias"),
          round(max(abs(col("est") - col("exact"))), 6).as("worst"))
    },
    Some {
      // est = matches/K at the tier's K — same CASE-on-count as the bands
      val estSql = bandRowsCaseSql("SELECT count(*) FROM documents") { rows =>
        val k = Bands * rows
        (0 until k)
          .map(j => s"CASE WHEN a.sig_$j = b.sig_$j THEN 1 ELSE 0 END")
          .mkString("(", " + ", s") / ${k}.0")
      }
      s"""WITH ${ngramPairCtes("", scoreName = "exact", minScore = -1.0)},
      est AS (
        SELECT p.id1, p.id2, p.exact, $estSql AS est
        FROM pairs p
        JOIN sig a ON a.doc_id = p.id1
        JOIN sig b ON b.doc_id = p.id2)
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        round(avg(abs(est - exact)), 6) AS mae,
        round(avg(est - exact), 6) + 0.0 AS bias,
        round(max(abs(est - exact)), 6) AS worst
      FROM est"""
    },
    uses = Seq(bandedCandidates))

  /** URL-keyed keep-best dedup — the web-corpus curation step that follows
    * canonicalization (see text_url_normalize): multiple crawls of the same
    * canonical URL collapse to ONE kept document, the longest (n_chars as
    * the quality proxy; doc_id breaks ties for determinism). The argmax
    * rides inside the hash aggregate as max(struct(quality, -id)) — one
    * shuffle on the canonical key, no window, no second pass over the
    * corpus; at 100 TB this is the cheapest possible keep-best (map-side
    * partial max carries only one struct per key). URLs are synthesized
    * deterministically from (source, doc_id) since the fixture has none.
    */
  val urlDedup = Declared(
    "dedup_url",
    (s, dir) => {
      val docs = t(s, dir, "documents").select(
        col("doc_id"), col("n_chars"),
        concat(lit("https://"), col("source"), lit(".example.com/page?id="),
          (col("doc_id") % 7).cast("string")).as("canonical"))
      docs.groupBy(col("canonical"))
        .agg(
          max(struct(col("n_chars").as("ch"), (-col("doc_id")).as("nid"))).as("best"),
          count(lit(1)).as("cnt"))
        .select(
          col("canonical"),
          (-col("best.nid")).as("kept_doc"),
          col("best.ch").as("kept_chars"),
          (col("cnt") - 1).as("n_dups"))
        .orderBy(col("canonical"))
    },
    Some("""WITH canon AS (
        SELECT doc_id, n_chars,
          'https://' || source || '.example.com/page?id=' ||
            CAST(doc_id % 7 AS VARCHAR) AS canonical
        FROM documents),
      ranked AS (
        SELECT canonical, doc_id, n_chars,
          row_number() OVER (PARTITION BY canonical
            ORDER BY n_chars DESC, doc_id) AS rn,
          count(*) OVER (PARTITION BY canonical) AS cnt
        FROM canon)
      SELECT canonical, doc_id AS kept_doc, n_chars AS kept_chars,
        CAST(cnt - 1 AS BIGINT) AS n_dups
      FROM ranked WHERE rn = 1 ORDER BY canonical"""))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * k-means blocking — cluster the embeddings, then call two vectors in
    * the SAME cluster duplicates when their cosine exceeds a threshold,
    * keeping one representative per duplicate neighborhood. The cluster is
    * the candidate-blocking key (the paper's own scaling argument: pairwise
    * work is C(cluster,2), never C(n,2)), which is what separates this from
    * [[embedCosine]]'s sign-LSH blocking: k-means cells adapt to the data's
    * density instead of random hyperplanes.
    *
    * Shapes at 100 TB — a HIERARCHICAL quantizer, because flat k-means
    * cannot scale this op: holding cell sizes constant needs k ∝ n, and
    * flat assignment costs n·k distance evaluations = O(n²). That is not
    * hypothetical: the r9 flat version (k = ⌈n/2500⌉) measured 26.1 s at
    * sf10 → 859 s at the r10 sf100 corpus (33× on 10× vectors — 1.6e9
    * assignment distances + 2.5e9 within-cell cosines at occupancy 2500).
    * Now: vectors DESCEND a 4-ary centroid tree. Level-ℓ centroids are the
    * elementwise means of the (vec_id mod 4^ℓ) classes — deterministic,
    * data-derived, assignment-independent, so both engines rebuild the
    * identical codebook — and a vector at cell c refines to the nearest of
    * the ≤4 existing children {c + j·4^(ℓ-1)} (distance rounded to 6dp,
    * ties to the smaller cid; at least one child class is provably
    * nonempty). Depth is the integer ladder L(n) = smallest L ≥ 2 with
    * n ≤ 256·4^L (capped at 15; same [[semanticLevels]] rule in both
    * engines via a metadata-cheap count, the oracle unrolled with per-level
    * activity guards on the same thresholds — the
    * [[graft.functions.Similarity.lshPlaneCount]] discipline). Cost:
    * assignment is n·4·L distances (linear × log-depth), cell occupancy
    * stays ≤ ~256 so within-cell pair volume is ~128·n (linear). r11
    * shape: the codebook aggregates the corpus ONCE (finest-level
    * elementwise sums; upper levels roll up arithmetically), and the
    * whole descent runs with ZERO exchanges — per level one broadcast
    * join (children-per-parent array) + an inline
    * [[graft.functions.SqDist]] argmin, so emb never leaves its scan
    * partition; the within-cluster drop stage pairs in-stage inside the
    * cell self-join (the dedup_embed_cosine shape). No stage grows faster
    * than n·log n, and nothing embedding-sized ever shuffles.
    * Deviations, both documented: the keeper is the LOWEST vec_id of a
    * duplicate neighborhood (the paper keeps the member farthest from the
    * centroid — id order is engine-replayable, the tie-broken float order
    * is not), and the threshold is 0.40 because the synthetic fixture's
    * cosine mass tops out at 0.51 (the paper's ~0.95 presumes real encoder
    * embeddings; the threshold plays the same role against this
    * distribution). Distances round to 6dp before the argmin so the
    * assignment never hinges on 1e-15 float-order noise.
    */
  /** Descent depth for [[semantic]]: smallest L ≥ 2 with n ≤ 256·4^L
    * (integer thresholds — no float log at tier boundaries), capped at 15
    * (4^15 ≈ 1e9 cells; past ~2.7e11 vectors the scaladoc's trade applies).
    */
  private[graft] def semanticLevels(n: Long): Int = {
    @annotation.tailrec
    def go(l: Int): Int =
      if (l >= 15 || n <= 256L * (1L << (2 * l))) l else go(l + 1)
    go(2)
  }

  /** The descent stage of [[semantic]], exposed `private[graft]` so
    * R12OpsSpec can pin its plan shape: the r11 rebuild's invariant —
    * *nothing embedding-sized ever shuffles; the descent is L broadcast
    * joins and emb never leaves its scan partition* — lived only in
    * scaladoc and probe captures, so a refactor could silently reintroduce
    * the ~42 GB/level vec_id re-group that OOM'd the first fourth-decade
    * trial (VERDICT r11 ask #6). Returns one row per vector:
    * (vec_id, embedding, emb, cell) with cell the level-L(n) cluster id.
    */
  private[graft] def semanticDescent(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
      val nVecs = t(s, dir, "embeddings").count() // parquet metadata count
      val levels = semanticLevels(nVecs)
      val e = t(s, dir, "embeddings")
        .select(
          col("vec_id"), col("embedding"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      // finest-level per-class elementwise sums, computed ONCE: every
      // level's codebook is an arithmetic roll-up of this ≤4^L-row table.
      // (The r10 shape re-aggregated the FULL corpus per level — L exploded
      // passes; at the finest level sum/count grouped by cid equals avg
      // bit-exactly, and upper-level roll-ups differ from a direct mean
      // only in double-addition order, which round(d, 6) absorbs — the
      // same tolerance that already covers Spark-vs-DuckDB sum order.)
      val powL = 1L << (2 * levels)
      val fin = e
        .select((col("vec_id") % powL).as("cid"), posexplode(col("emb")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("c"))
        .localCheckpoint()
      // level-ℓ codebook grouped per PARENT cell: the ≤4 existing children
      // with centroids, one row per parent — ONE broadcast join per level
      def childrenOf(pow: Long, powPrev: Long) = fin
        .groupBy((col("cid") % pow).as("cid"), col("pos"))
        .agg((sum(col("s")) / sum(col("c"))).as("v"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
        .select(col("cid"), expr("transform(pv, x -> x.v)").as("centroid"))
        .groupBy((col("cid") % powPrev).as("pcell"))
        .agg(collect_list(struct(col("cid"), col("centroid"))).as("children"))
      // descend: refine each vector's cell to the nearest existing child.
      // ZERO exchanges in the descent: each level is one broadcast join
      // plus an inline argmin over ≤4 candidates (native codegen'd
      // sq_dist, rounded to 6dp, ties to the smaller cid — the exact
      // min(struct(d, cid)) order) — emb never leaves its scan partition.
      // The r10 shape exploded ×4 WITH the 512-byte emb and re-grouped by
      // vec_id at every level (~42 GB of shuffle per level at 20M
      // vectors); its 4th-decade trial died in SPILL_OUT_OF_MEMORY at
      // 435 s — captured by Bench's error_msgs, fixed here.
      var state = e.select(
        col("vec_id"), col("embedding"), col("emb"), lit(0L).as("cell"))
      for (l <- 1 to levels) {
        val pow = 1L << (2 * l)
        val powPrev = pow >> 2
        val scoredKids = transform(col("children"), c => struct(
          round(graft.functions.SqDist.sq_dist(col("emb"), c.getField("centroid")), 6).as("d"),
          c.getField("cid").as("cid")))
        state = state
          .join(broadcast(childrenOf(pow, powPrev)), col("cell") === col("pcell"))
          .select(col("vec_id"), col("embedding"), col("emb"),
            array_min(filter(scoredKids, x => x.getField("d").isNotNull))
              .getField("cid").as("cell"))
      }
      state
  }

  val semantic = Declared(
    "dedup_semantic",
    (s, dir) => {
      val tau = 0.40
      val assigned = semanticDescent(s, dir)
        .select(col("vec_id"), col("embedding"), col("cell").as("cluster"))
        // feeds the pair join twice (both sides) plus the cluster summary —
        // materialize once, like every multi-consumer assignment here
        .localCheckpoint()
      // r11: pairs generate INSIDE the cell self-join stage (embeddings ride
      // the cell shuffle once; the old shape materialized salted pair ids
      // and re-joined vectors by id — a pair-sized shuffle). The distinct on
      // id2 is output-bounded (≤ n) and partial-aggregates map-side.
      def pairSide(tag: String) = assigned.select(
        col("vec_id").as(s"id$tag"), col("embedding").as(s"e$tag"),
        col("cluster").as(s"cluster$tag"))
      val dropped = pairSide("1").join(pairSide("2"),
          col("cluster1") === col("cluster2") && col("id1") < col("id2"))
        .filter(round(Similarity.cosine(col("e1"), col("e2")), 6) >= tau)
        .select(col("id2")).distinct() // greedy: a smaller-id neighbor exists
      val drops = dropped
        .join(assigned, dropped("id2") === assigned("vec_id"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_dropped"), sum(col("id2")).as("drop_id_sum"))
      assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .join(drops, Seq("cluster"), "left")
        .select(
          col("cluster"), col("n"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          coalesce(col("drop_id_sum"), lit(0L)).as("drop_id_sum"))
        .orderBy(col("cluster"))
    },
    Some {
      // unrolled 4-ary descent, one CTE block per level up to LMAX = 11
      // (covers n ≤ 256·4^11 ≈ 1.07e9 — the other ladders' range). A level
      // past L(n) is a no-op: its activity guard (same integer threshold as
      // semanticLevels) keeps the previous cell. The inner join never drops
      // a vector: the 4 child mod classes {cell, cell+4^(l-1), ...}
      // partition the parent class, so a nonempty parent cell has at least
      // one nonempty child among its 4 — the argmin over existing children
      // is total. (NOT the stronger "vec_id = cell itself always exists":
      // that assumes contiguous 0..n-1 ids, which ScaleUp's strided
      // key-space violates; the partition argument needs no contiguity.)
      val LMAX = 11
      val levelCtes = (1 to LMAX).map { l =>
        val pow = 1L << (2 * l)
        val powPrev = pow >> 2
        val active =
          if (l <= 2) "TRUE"
          else s"(SELECT n FROM nn) > ${256L * (1L << (2 * (l - 1)))}"
        s"""ci_$l AS (
        SELECT vec_id % $pow AS cid, CAST(i AS INTEGER) AS i,
               avg(emb[CAST(i AS INTEGER)]) AS v
        FROM ev CROSS JOIN generate_series(1, 64) t(i) GROUP BY 1, 2),
      c_$l AS (SELECT cid, list(v ORDER BY i) AS centroid FROM ci_$l GROUP BY cid),
      p_$l AS (
        SELECT a.vec_id, a.emb, a.cell, c.cid,
          round(list_distance(a.emb, c.centroid) ^ 2, 6) AS d
        FROM a_${l - 1} a
        CROSS JOIN generate_series(0, 3) t(j)
        JOIN c_$l c ON c.cid = a.cell + j * $powPrev),
      a_$l AS (
        SELECT vec_id, emb, CASE WHEN $active THEN cid ELSE cell END AS cell
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
              FROM p_$l) WHERE rn = 1)"""
      }.mkString(",\n      ")
      s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
      ev AS (
        SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings),
      a_0 AS (SELECT vec_id, emb, CAST(0 AS BIGINT) AS cell FROM ev),
      $levelCtes,
      assign AS (SELECT vec_id, emb, cell AS cluster FROM a_$LMAX),
      dropped AS (
        SELECT DISTINCT b.vec_id AS id2
        FROM assign a JOIN assign b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.40),
      drops AS (
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_dropped,
               CAST(sum(id2) AS BIGINT) AS drop_id_sum
        FROM dropped JOIN assign ON id2 = vec_id GROUP BY cluster)
      SELECT a.cluster, CAST(count(*) AS BIGINT) AS n,
        coalesce(any_value(d.n_dropped), 0) AS n_dropped,
        coalesce(any_value(d.drop_id_sum), 0) AS drop_id_sum
      FROM assign a LEFT JOIN drops d ON a.cluster = d.cluster
      GROUP BY a.cluster ORDER BY a.cluster"""
    })

  /** Blocked fuzzy record linkage (entity resolution) — match a DIRTY feed
    * of records against a clean master by edit distance, the
    * name-and-address cousin of document dedup. The scale discipline is the
    * classic ER pipeline: (1) a BLOCKING key (here a stable name substring;
    * in production phonetic codes / sorted-neighborhood keys) so candidate
    * pairs form only inside blocks — an equi-join, never a cross join, with
    * block size as the user's fan-out lever; (2) `levenshtein` verification
    * inside each block (Spark's built-in takes a threshold arg that
    * early-exits the DP — cheap at any width); (3) best-match-per-record as
    * min(struct(distance, id)) INSIDE the hash aggregate — no window pass.
    * The dirty feed is derived in-query (every third customer's name gets a
    * deterministic trailing typo) so the readout — exact vs fuzzy vs missed
    * match counts per nation — is a self-contained recovery benchmark the
    * oracle fully recomputes.
    */
  val fuzzyLink = Declared(
    "er_fuzzy_link",
    (s, dir) => {
      val clean = t(s, dir, "customer").select(
        col("c_custkey").as("master_id"),
        col("c_name").as("master_name"),
        col("c_nationkey").as("nation"))
      // dirty feed: customers whose key is divisible by 3 arrive with a
      // trailing-character typo ('X' replaces the last digit)
      val dirty = t(s, dir, "customer").select(
        col("c_custkey").as("rec_id"),
        when(col("c_custkey") % 3 === 0,
          concat(expr("substring(c_name, 1, length(c_name) - 1)"), lit("X")))
          .otherwise(col("c_name")).as("rec_name"),
        col("c_nationkey").as("nation"))
      // blocking key: chars 10..16 of 'Customer#%09d' (the high digits) —
      // stable under the trailing typo, caps block size at 100 master rows
      val bk = (c: org.apache.spark.sql.Column) => substring(c, 10, 7)
      val candidates = dirty.withColumn("bk", bk(col("rec_name")))
        .join(clean.withColumn("bk", bk(col("master_name"))), Seq("bk", "nation"))
        .withColumn("dist", levenshtein(col("rec_name"), col("master_name"), 1))
        .filter(col("dist") >= 0) // threshold form: -1 marks distance > 1
      val best = candidates.groupBy(col("rec_id"))
        .agg(min(struct(col("dist"), col("master_id"))).as("m"))
        .select(col("rec_id"), col("m.dist").as("dist"), col("m.master_id").as("master_id"))
      dirty.join(best, Seq("rec_id"), "left")
        .groupBy(col("nation"))
        .agg(
          count(lit(1)).as("n_records"),
          sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n_exact"),
          sum(when(col("dist") > 0, 1L).otherwise(0L)).as("n_fuzzy"),
          sum(when(col("master_id").isNull, 1L).otherwise(0L)).as("n_missed"),
          sum(when(col("master_id") === col("rec_id"), 1L).otherwise(0L)).as("n_correct"))
        .orderBy(col("nation"))
    },
    Some("""WITH dirty AS (
        SELECT c_custkey AS rec_id,
          CASE WHEN c_custkey % 3 = 0
            THEN substring(c_name, 1, length(c_name) - 1) || 'X'
            ELSE c_name END AS rec_name,
          c_nationkey AS nation
        FROM customer),
      clean AS (
        SELECT c_custkey AS master_id, c_name AS master_name,
          c_nationkey AS nation
        FROM customer),
      cand AS (
        SELECT d.rec_id, c.master_id,
          levenshtein(d.rec_name, c.master_name) AS dist
        FROM dirty d JOIN clean c
          ON substring(d.rec_name, 10, 7) = substring(c.master_name, 10, 7)
          AND d.nation = c.nation
        WHERE levenshtein(d.rec_name, c.master_name) <= 1),
      best AS (
        SELECT rec_id, dist, master_id FROM (
          SELECT rec_id, dist, master_id,
            row_number() OVER (PARTITION BY rec_id
              ORDER BY dist, master_id) AS rn
          FROM cand)
        WHERE rn = 1)
      SELECT d.nation, CAST(count(*) AS BIGINT) AS n_records,
        CAST(sum(CASE WHEN b.dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        CAST(sum(CASE WHEN b.dist > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fuzzy,
        CAST(sum(CASE WHEN b.master_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
        CAST(sum(CASE WHEN b.master_id = d.rec_id THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      FROM dirty d LEFT JOIN best b ON d.rec_id = b.rec_id
      GROUP BY d.nation ORDER BY d.nation"""))

  /** Fuzzy eval-set decontamination: corpus documents whose text is a NEAR
    * duplicate (8-gram Jaccard ≥ 0.5) of any held-out eval document (the
    * `source = 'src0'` slice, same convention as PipelineQ's exact
    * decontaminate) — the companion that catches lightly-edited eval
    * contamination the exact 5-gram match misses. Candidates come from the
    * SAME shared banded-MinHash snapshot every dedup query consumes (zero
    * extra corpus passes); orientation keeps pairs crossing the eval
    * boundary, and a per-corpus-doc top-1 window names each document's
    * worst offender. At 100 TB the eval side is a vanishing fraction of the
    * pairs, so this is the banded pipeline's cost plus a broadcast-scale
    * source join — never an extra all-pairs stage.
    */
  val decontaminateFuzzy = Declared(
    "decontaminate_fuzzy",
    (s, dir) => {
      val pairs = ngramPairs(s, dir, None: Option[Long])
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val oriented = pairs
        .join(src.select(col("doc_id").as("id1"), col("source").as("src1")), "id1")
        .join(src.select(col("doc_id").as("id2"), col("source").as("src2")), "id2")
        .filter((col("src1") === "src0") =!= (col("src2") === "src0"))
        .select(
          when(col("src1") === "src0", col("id2")).otherwise(col("id1")).as("corpus_doc"),
          when(col("src1") === "src0", col("id1")).otherwise(col("id2")).as("eval_doc"),
          col("jaccard"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("corpus_doc")).orderBy(col("jaccard").desc, col("eval_doc"))
      oriented.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("corpus_doc"), col("eval_doc"), col("jaccard"))
        .orderBy(col("corpus_doc"))
    },
    Some(s"""WITH ${ngramPairCtes("")},
      src AS (SELECT doc_id, source FROM documents),
      oriented AS (
        SELECT
          CASE WHEN s1.source = 'src0' THEN id2 ELSE id1 END AS corpus_doc,
          CASE WHEN s1.source = 'src0' THEN id1 ELSE id2 END AS eval_doc,
          jaccard
        FROM pairs
        JOIN src s1 ON s1.doc_id = id1
        JOIN src s2 ON s2.doc_id = id2
        WHERE (s1.source = 'src0') <> (s2.source = 'src0'))
      SELECT corpus_doc, eval_doc, jaccard FROM (
        SELECT *, row_number() OVER (PARTITION BY corpus_doc
          ORDER BY jaccard DESC, eval_doc) AS rn
        FROM oriented) ranked
      WHERE rn = 1 ORDER BY corpus_doc"""),
    uses = Seq(bandedCandidates, scoredPairs))

  /** Threshold tuning curve: the banded candidate pairs bucketed by exact
    * Jaccard decile — the histogram that answers "what does moving the
    * dedup threshold from 0.8 to 0.5 actually flag?" before anyone reruns
    * the pipeline at a new cutoff. Consumes the SAME shared candidate
    * snapshot as the rest of the dedup family with the verify floor
    * dropped to 0 (every banded candidate scored once), so the curve costs
    * one extra verify pass and no corpus scan; buckets are a ≤11-row hash
    * aggregate. Scores are pre-rounded (6 dp) before the decile floor, so
    * both engines bucket identical values.
    */
  val dedupCurve = Declared(
    "corpus_dedup_curve",
    (s, dir) =>
      ngramPairs(s, dir, None: Option[Long], minScore = 0.0)
        .select((floor(col("jaccard") * 10) / 10).as("bucket"), col("jaccard"))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n_pairs"),
          round(avg(col("jaccard")), 4).as("avg_jaccard"))
        .orderBy(col("bucket")),
    Some(s"""WITH ${ngramPairCtes("", minScore = 0.0)}
      SELECT floor(jaccard * 10) / 10 AS bucket,
        CAST(count(*) AS BIGINT) AS n_pairs,
        round(avg(jaccard), 4) AS avg_jaccard
      FROM pairs GROUP BY bucket ORDER BY bucket"""),
    uses = Seq(bandedCandidates, scoredPairs))

  /** Bitext mining (parallel-corpus candidates): for each English document,
    * its best cross-lingual match by embedding cosine — the
    * translation-pair discovery step of a multilingual pretraining
    * pipeline. Candidates come from [[embedCosine]]'s sign-LSH buckets
    * (cross-language pairs sharing a sign pattern, at the same
    * corpus-tracking [[Similarity.lshPlaneCount]] resolution), so mining is
    * bucket-blocked like every dedup op here — never an all-pairs
    * cross-language scan; the per-en-doc best is a partitioned top-1
    * window over the candidates, and only the global top-20 readout leaves
    * the executors (TakeOrderedAndProject). Scope stated plainly: recall
    * is candidate-limited (a true translation hashing to a different
    * bucket is unseen) — the production dial is more/probed buckets,
    * exactly the ANN recall trade the sim_* family measures.
    *
    * Plan shape (r11, same rebuild as [[graft.queries.SimilarityQ]]'s
    * sim_knn_graph): the ladder holds candidate pairs linear in n (KnnDiag
    * measured 42.5M at 2M vectors), so the pairs must never shuffle.
    * Embedding and language ride the single bucket shuffle once (n rows),
    * pairs generate inside the sort-merge self-join stage with the
    * cross-lingual filter and cosine inline, and `row_number = 1` becomes
    * a partial WindowGroupLimit below the exchange — per map partition
    * only the best candidate per en_doc shuffles. The r10 shape
    * materialized the pair set and re-joined vectors + language BY ID
    * (four pair-sized shuffles; 186 s contended at 2M vectors). This
    * shape, measured calm and ISOLATED: 4.1 s (20k) → 6.2 s (200k) →
    * 6.8 s (2M vectors) — near-FLAT across three decades
    * (probes/r11/probe_mbitext_sf{1,10,100}.json; the same-session
    * in-suite capture read 28.0 s at sf100 — sibling-query GC/page-cache
    * tax, the isolated number is the attributable one).
    * Single band ⇒ each pair collides at most once ⇒ no dedup needed.
    */
  val bitext = Declared(
    "mine_bitext",
    (s, dir) => {
      val lang = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val nVecs = t(s, dir, "embeddings").count()
      val planes = Similarity.planesFor(nVecs, base = 8, dim = 64)
      val e = t(s, dir, "embeddings").select(
        col("vec_id"), col("embedding"),
        Similarity.lshBucket(col("embedding"), planes).as("bucket"))
        .join(lang.withColumnRenamed("doc_id", "vec_id"), "vec_id")
      def side(tag: String) = e.select(
        col("vec_id").as(s"id$tag"), col("embedding").as(s"e$tag"),
        col("lang").as(s"lang$tag"), col("bucket").as(s"bucket$tag"))
      val scored = side("1").join(side("2"),
          col("bucket1") === col("bucket2") && col("id1") < col("id2") &&
            ((col("lang1") === "en") =!= (col("lang2") === "en")))
        .select(
          when(col("lang1") === "en", col("id1")).otherwise(col("id2")).as("en_doc"),
          when(col("lang1") === "en", col("id2")).otherwise(col("id1")).as("other_doc"),
          when(col("lang1") === "en", col("lang2")).otherwise(col("lang1")).as("other_lang"),
          round(Similarity.cosine(col("e1"), col("e2")), 6).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("en_doc")).orderBy(col("cos").desc, col("other_doc"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("en_doc"), col("other_doc"), col("other_lang"), col("cos"))
        .orderBy(col("cos").desc, col("en_doc"))
        .limit(20)
    },
    Some(s"""WITH b AS (
        SELECT vec_id, embedding,
          ${Similarity.lshBucketSqlAdaptive(
            "embedding", "SELECT count(*) FROM embeddings", 8, 64)} AS bucket
        FROM embeddings),
      lang AS (SELECT doc_id, lang FROM documents),
      cand AS (
        SELECT a.vec_id AS id1, b2.vec_id AS id2,
          round(list_cosine_similarity(
            CAST(a.embedding AS DOUBLE[]), CAST(b2.embedding AS DOUBLE[])), 6) + 0.0 AS cos
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
      oriented AS (
        SELECT
          CASE WHEN l1.lang = 'en' THEN id1 ELSE id2 END AS en_doc,
          CASE WHEN l1.lang = 'en' THEN id2 ELSE id1 END AS other_doc,
          CASE WHEN l1.lang = 'en' THEN l2.lang ELSE l1.lang END AS other_lang,
          cos
        FROM cand
        JOIN lang l1 ON l1.doc_id = id1
        JOIN lang l2 ON l2.doc_id = id2
        WHERE (l1.lang = 'en') <> (l2.lang = 'en'))
      SELECT en_doc, other_doc, other_lang, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY en_doc
          ORDER BY cos DESC, other_doc) AS rn
        FROM oriented) ranked
      WHERE rn = 1
      ORDER BY cos DESC, en_doc LIMIT 20"""))

  /** Exact duplicated-substring COVERAGE per document — the per-doc removal
    * signal of suffix-style training-data dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22: drop verbatim
    * spans ≥ L chars that recur across the corpus). [[winnow]] answers
    * "which doc PAIRS share verbatim spans"; this answers "how MUCH of each
    * doc is verbatim-duplicated anywhere else" — the number a curation
    * pipeline thresholds on before dropping or trimming a document.
    *
    * Spark-first shape (no suffix array — that's a single-node structure):
    * hash every L=40-char gram (stride 1, portable md5 hash), keep hashes
    * seen in ≥ 2 DISTINCT docs, then per doc take the union length of the
    * surviving [pos, pos+L) intervals with one running-max window — exact
    * interval-union coverage in a single doc-partitioned window, no
    * per-interval loop. A gram position duplicated only WITHIN one doc does
    * not count (self-repetition is text_repetition's job).
    *
    * At scale: the gram fan-out is map-side; the only corpus-sized shuffle
    * is (hash, doc_id, pos) — 16 bytes/char, the same O(corpus) cost the
    * suffix-array pipelines pay, and the df≥2 filter is a min/max fold
    * (min(doc_id) ≠ max(doc_id) ⟺ ≥2 distinct docs — one exchange, no
    * distinct expand). 32-bit hashes keep the shuffle narrow at benchmark scale;
    * a 100 TB run swaps in [[graft.functions.Hashing.md5Hash60]] (same
    * code, 8 more bytes) to push the collision rate below one span per
    * corpus. Interval math is all integers — zero float divergence risk.
    */
  val substringDedup = Declared(
    "dedup_substring",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val L = 40
      val grams = Tables.spread(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), posexplode(expr(
          s"""CASE WHEN length(text) < $L THEN array()
              ELSE transform(sequence(1, length(text) - ${L - 1}),
                             i -> substr(text, i, $L)) END"""))
          .as(Seq("pos0", "g")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"),
          graft.functions.Hashing.md5Hash32(col("g")).as("h"))
      // hashes present in >= 2 distinct docs, via the min≠max identity:
      // "in ≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id) — computed as
      // WINDOW aggregates over one h-partitioned exchange of the gram
      // table, so the gram+md5 fan-out pipeline runs ONCE. The r12 shape
      // (groupBy(h) min/max + join grams back on h) re-ran the whole gram
      // derivation on the probe side: one more full md5 pass at every
      // scale, plus — past the broadcast regime — a second gram-sized
      // exchange for the SMJ probe; this form pays one gram-sized exchange
      // total and the only rows that move again are the DUP positions
      // (output-sized) into the per-doc interval window. (The
      // count-distinct formulation stays banished: it planned an expand +
      // two exchanges keyed by (h, doc_id) and its final hash-agg spilled
      // at decade scale — 3.9 s at sf1 but 200.6 s at sf10.)
      val wh = Window.partitionBy(col("h"))
      val dupPos = grams
        .withColumn("d0", min(col("doc_id")).over(wh))
        .withColumn("d1", max(col("doc_id")).over(wh))
        .filter(col("d0") =!= col("d1"))
        .select(col("doc_id"), col("pos"))
      // exact union length of overlapping [pos, pos+L) intervals: running
      // max of prior interval ends, each row contributes only its uncovered
      // suffix — one window, all-integer
      val prevEnd = max(col("pos") + L).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, -1))
      val perDoc = dupPos
        .withColumn("pe", prevEnd)
        .withColumn("cov",
          greatest(lit(0), col("pos") + lit(L) -
            greatest(coalesce(col("pe"), col("pos")), col("pos"))))
        .withColumn("run_start",
          (col("pe").isNull || col("pe") < col("pos")).cast("long"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cov")).as("dup_chars"), sum(col("run_start")).as("n_runs"))
      t(s, dir, "documents").select(col("doc_id"), length(col("text")).as("n_chars"))
        .join(perDoc, "doc_id")
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("dup_chars"), col("n_runs"),
          round(col("dup_chars").cast("double") / col("n_chars"), 6).as("dup_frac"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH grams AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
          ${graft.functions.Hashing.md5Hash32DuckSql("substr(text, CAST(i AS INTEGER), 40)")} AS h
        FROM documents, unnest(range(1, greatest(len(text) - 39, 0) + 1)) t(i)),
      dupfps AS (
        SELECT h FROM grams GROUP BY h HAVING min(doc_id) <> max(doc_id)),
      duppos AS (
        SELECT doc_id, pos FROM grams JOIN dupfps USING (h)),
      cov AS (
        SELECT doc_id,
          greatest(0, pos + 40 -
            greatest(coalesce(max(pos + 40) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), pos), pos)) AS c,
          CASE WHEN coalesce(max(pos + 40) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) < pos
            THEN 1 ELSE 0 END AS rs
        FROM duppos),
      per_doc AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS dup_chars,
          CAST(sum(rs) AS BIGINT) AS n_runs
        FROM cov GROUP BY doc_id)
      SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
        p.dup_chars, p.n_runs,
        round(CAST(p.dup_chars AS DOUBLE) / len(d.text), 6) AS dup_frac
      FROM documents d JOIN per_doc p USING (doc_id)
      ORDER BY d.doc_id"""))

  val all: Seq[Declared] = Seq(
    exact, exactRows, ngramJaccard, containment, containmentAsym, clusters,
    incremental, incrementalBloom, minhash, simhash, simhashBuckets,
    embedCosine, temporal, winnow, minhashAccuracy, urlDedup, semantic,
    fuzzyLink, decontaminateFuzzy, dedupCurve, bitext, substringDedup,
    canonicalize, clusterStats, splitLeakageFree, lshTuning)
}
