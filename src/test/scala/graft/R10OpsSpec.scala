package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Similarity

/** Round-10 specs: the un-saturated sign-LSH resolution ladder (VERDICT r9
  * asks #1 and #6). The ladder is the one place where a Spark-side count and
  * an oracle-side scalar subquery must pick the SAME tier for correctness to
  * hold at scales no driver fixture witnesses — these tests pin (a) the tier
  * function itself across decades, (b) Spark-tier/oracle-tier agreement at
  * the exact boundary values, against the GENERATED SQL text rather than a
  * reimplementation, and (c) the occupancy bound that makes within-bucket
  * pair volume linear per decade.
  */
class R10OpsSpec extends AnyFunSuite {

  private val bases = Seq(6, 8) // the two deployed families (sim_*, dedup_*)

  test("lshPlaneCount: occupancy n/2^p <= 100 across 8 decades, monotone, capped", Family("similarity")) {
    for (base <- bases) {
      var prev = 0
      for (d <- 2 to 10; n <- Seq(math.pow(10, d).toLong, 3 * math.pow(10, d).toLong)) {
        val p = Similarity.lshPlaneCount(n, base)
        assert(p >= base && p <= Similarity.MaxLshPlanes, s"base=$base n=$n p=$p range")
        assert(p >= prev, s"base=$base n=$n p=$p not monotone")
        prev = p
        // the bound the whole ladder exists for — except past the documented
        // Int-bitmask cap (~1.07e11 vectors), where the scaladoc hands off
        // to OR-amplification / the IVF path
        if (p < Similarity.MaxLshPlanes)
          assert(n.toDouble / (1L << p) <= 100.0, s"base=$base n=$n p=$p occupancy")
      }
      // un-saturated: the r9 ladder froze at base+6; the third decade past
      // the base tier must now keep stepping (this is the exact cliff r9
      // deferred — base-8 at 5M vectors needed p=17, not 14)
      assert(Similarity.lshPlaneCount(5000000L, 8) == 17)
      assert(Similarity.lshPlaneCount(50000000L, 8) == 20)
      // and the cap engages where documented
      assert(Similarity.lshPlaneCount(Long.MaxValue / 2, 8) == Similarity.MaxLshPlanes)
    }
  }

  test("tier boundaries: lshPlaneCount flips exactly at each ceiling", Family("similarity")) {
    for (base <- bases) {
      val tiers = Similarity.lshTiersFor(base, maxN = 1000000000L)
      assert(tiers.head == base)
      assert(tiers == tiers.sorted && tiers.distinct == tiers)
      for (p <- tiers.init) {
        val t = Similarity.lshTierCeiling(p)
        assert(Similarity.lshPlaneCount(t, base) == p, s"base=$base at ceiling($p)=$t")
        assert(Similarity.lshPlaneCount(t + 1, base) == math.min(p + 3, Similarity.MaxLshPlanes),
          s"base=$base just past ceiling($p)")
      }
      // the generated ladder covers maxN: the last tier's ceiling is >= maxN
      // (so oracle and Spark agree at every n the driver or a probe reaches)
      assert(Similarity.lshTierCeiling(tiers.last) >= 1000000000L)
    }
  }

  test("oracle CASE ladder: generated SQL thresholds equal the Spark tiers", Family("similarity")) {
    for (base <- bases) {
      val sql = Similarity.lshBucketSqlAdaptive(
        "embedding", "SELECT count(*) FROM embeddings", base, dim = 4, seed = 7L)
      // extract the literal `<= N` guards the CASE actually ships to DuckDB
      val guards = raw"<=\s+(\d+)".r.findAllMatchIn(sql).map(_.group(1).toLong).toSeq
      val tiers = Similarity.lshTiersFor(base, maxN = 1000000000L)
      assert(guards == tiers.init.map(Similarity.lshTierCeiling),
        s"base=$base SQL guards $guards != tier ceilings")
      // each branch's bucket expression has exactly p plane terms: count the
      // per-plane `1 << j` payloads (`THEN 2^j ELSE 0`) per CASE branch
      val branchPlaneCounts = sql.split(raw"WHEN \(SELECT").drop(1).zip(tiers).map {
        case (branch, p) => raw"ELSE 0 END".r.findAllIn(branch).size -> p
      }
      // the final ELSE branch rides on the last WHEN's split segment, so the
      // last segment carries lastTier + lastTier plane terms
      branchPlaneCounts.init.foreach { case (cnt, p) => assert(cnt == p, s"base=$base tier $p") }
      val (lastCnt, lastP) = branchPlaneCounts.last
      assert(lastCnt == lastP + tiers.last, s"base=$base final WHEN+ELSE")
    }
  }

  test("MinHash rows-per-band ladder: tiers, boundaries, cap", Family("dedup")) {
    import graft.queries.DedupQ
    // base tier covers every driver fixture (sf0.01 = 5k docs, sf0.1 = 50k)
    assert(DedupQ.bandRowsFor(5000L) == DedupQ.BaseRows)
    assert(DedupQ.bandRowsFor(50000L) == DedupQ.BaseRows)
    // +1 row per decade past 100k, flipping exactly at each ceiling
    for (r <- DedupQ.BaseRows until DedupQ.MaxRows) {
      val c = DedupQ.bandRowCeiling(r)
      assert(DedupQ.bandRowsFor(c) == r, s"at ceiling($r)=$c")
      assert(DedupQ.bandRowsFor(c + 1) == r + 1, s"just past ceiling($r)")
    }
    // the r9 probe corpora: sf1 (50k docs) keeps rows=4 — measured history
    // reproduces — while sf10 (500k) steps to rows=5, the tier that cuts
    // the measured 12.3×/decade accidental-candidate term ~10×
    assert(DedupQ.bandRowsFor(500000L) == 5)
    assert(DedupQ.bandRowsFor(Long.MaxValue) == DedupQ.MaxRows)
  }

  test("MinHash banding oracle: CASE guards in shipped SQL equal the Spark tiers", Family("dedup")) {
    import graft.queries.DedupQ
    val sql = SparkEntry.oracleSql("dedup_ngram_jaccard")
    val guards = raw"\(SELECT count\(\*\) FROM documents\) <= (\d+)".r
      .findAllMatchIn(sql).map(_.group(1).toLong).toSeq
    val expected = (DedupQ.BaseRows until DedupQ.MaxRows).map(DedupQ.bandRowCeiling)
    // one CASE per band, each walking the full tier ladder
    assert(guards == Seq.fill(DedupQ.Bands)(expected).flatten,
      s"guards $guards != ${DedupQ.Bands}× $expected")
    // the oracle's signature CTE is wide enough for the top tier
    assert(sql.contains(s"AS sig_${DedupQ.Bands * DedupQ.MaxRows - 1}"))
  }

  test("semantic descent-depth ladder: boundaries, cap, oracle guards", Family("dedup")) {
    import graft.queries.DedupQ
    // minimum depth 2 covers every driver fixture (sf0.01 = 2k vectors)
    assert(DedupQ.semanticLevels(2000L) == 2)
    assert(DedupQ.semanticLevels(4096L) == 2)   // = 256·4^2
    assert(DedupQ.semanticLevels(4097L) == 3)
    // flips exactly at each integer ceiling 256·4^L
    for (l <- 2 until 15) {
      val c = 256L * (1L << (2 * l))
      assert(DedupQ.semanticLevels(c) == l, s"at ceiling($l)=$c")
      assert(DedupQ.semanticLevels(c + 1) == math.min(l + 1, 15), s"past ceiling($l)")
    }
    // the r10 probe corpora: sf10 (200k vectors) → L=5, sf100 (2M) → L=7
    assert(DedupQ.semanticLevels(200000L) == 5)
    assert(DedupQ.semanticLevels(2000000L) == 7)
    assert(DedupQ.semanticLevels(Long.MaxValue / 2) == 15)
    // oracle: per-level activity guards carry exactly the Spark thresholds
    val sql = SparkEntry.oracleSql("dedup_semantic")
    val guards = raw"\(SELECT n FROM nn\) > (\d+)".r
      .findAllMatchIn(sql).map(_.group(1).toLong).toSeq
    assert(guards == (3 to 11).map(l => 256L * (1L << (2 * (l - 1)))),
      s"oracle guards $guards")
    // levels 1..11 unrolled: the last assign CTE reads a_11
    assert(sql.contains("FROM a_11"))
  }

  test("planes are prefix-stable across tiers (the recall-ladder invariant)", Family("similarity")) {
    val lo = Similarity.planes(8, dim = 16, seed = 42L)
    val hi = Similarity.planes(14, dim = 16, seed = 42L)
    assert(hi.take(8).zip(lo).forall { case (a, b) => a.sameElements(b) })
  }
}
