package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** Round-11 specs (VERDICT r10 asks #1 and #6).
  *
  * 1. The MinHash banding cap's documented amplification trade, as checkable
  *    arithmetic instead of prose: the OR-recall bound 1-(1-s^rows)^bands at
  *    each tier (≥ 97% through rows=5, ≈ 89.5% at the rows=8 cap for
  *    j = 0.9 near-dups), and the accidental-candidate bound — the expected
  *    background-collision coefficient n·s_bg^rows is CONSTANT at every tier
  *    ceiling through the cap (that constancy is what "candidates stay
  *    output-linear per decade" means), and grows only past the documented
  *    ~1e8-doc cap where production amplifies with more bands.
  *
  * 2. The r11 sim_knn_graph rebuild's zero-shuffle dedup: emitting a pair
  *    only from its FIRST colliding band must reproduce exactly the DISTINCT
  *    union of per-band collisions (the oracle's formulation). Pinned on the
  *    driver fixture against a literal distinct-union of the same bands.
  */
class R11OpsSpec extends AnyFunSuite {

  private def orRecall(s: Double, rows: Int, bands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  test("banding cap: OR-recall bound per tier for j=0.9 near-dups", Family("dedup")) {
    import graft.queries.DedupQ
    // >= 97% holds through rows=5 ...
    for (r <- DedupQ.BaseRows to 5)
      assert(orRecall(0.9, r, DedupQ.Bands) >= 0.97, s"rows=$r")
    // ... and the cap pays ~89.5% — the scaladoc's figure, pinned so the
    // documented trade can't silently drift from the deployed geometry
    val atCap = orRecall(0.9, DedupQ.MaxRows, DedupQ.Bands)
    assert(math.abs(atCap - 0.8948) < 0.0005, s"recall at cap = $atCap")
    // monotone: every resolution step spends recall; none spends more than
    // the previous tier retained (sanity on the geometry, not a new claim)
    val curve = (DedupQ.BaseRows to DedupQ.MaxRows)
      .map(r => orRecall(0.9, r, DedupQ.Bands))
    assert(curve == curve.sorted.reverse, s"recall curve not monotone: $curve")
  }

  test("banding cap: accidental-candidate coefficient constant through the cap", Family("dedup")) {
    import graft.queries.DedupQ
    val sBg = 0.1 // background Jaccard on 8-char shingles (scaladoc's model)
    // at each tier ceiling, expected accidental collisions per doc per band
    // n·s_bg^rows is the SAME constant — one extra row exactly cancels one
    // decade of corpus growth, so candidate volume stays output-linear
    val coeffs = (DedupQ.BaseRows to DedupQ.MaxRows).map { r =>
      DedupQ.bandRowCeiling(r) * math.pow(sBg, r)
    }
    coeffs.tail.foreach(c =>
      assert(math.abs(c - coeffs.head) / coeffs.head < 1e-9,
        s"coefficient drifts across tiers: $coeffs"))
    // past the cap the coefficient grows 10x per decade — the documented
    // boundary where production amplifies with more bands instead
    val atCap = DedupQ.bandRowCeiling(DedupQ.MaxRows)
    val past = (atCap * 10L) * math.pow(sBg, DedupQ.MaxRows)
    assert(math.abs(past / coeffs.head - 10.0) < 1e-9)
  }

  test("knn first-colliding-band filter == distinct union of band collisions", Family("similarity")) {
    val spark = TestSpark.spark
    val dir = TestSpark.sf
    val e = Tables.t(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val n = e.count()
    // the DEPLOYED geometry, not a copy: if sim_knn_graph's banding ever
    // changes, this pin follows it (ADVICE r11 #3)
    val bands = queries.SimilarityQ.pairBandsFor(n)
    // reference: the oracle's formulation — union all bands, DISTINCT pairs
    val banded = e.select(
      col("vec_id"),
      posexplode(array(bands.map(ps =>
        Similarity.lshBucket(col("embedding"), ps)): _*)).as(Seq("band", "bucket")))
    val ref = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the deployed zero-shuffle form: both sides carry all bucket ids, a
    // pair survives only from the first band where the buckets agree
    val wide = e.select(
      Seq(col("vec_id")) ++ bands.indices.map(b =>
        Similarity.lshBucket(col("embedding"), bands(b)).as(s"bk$b")): _*)
    def side(tag: String) = wide.select(
      Seq(col("vec_id").as(s"id$tag")) ++
        bands.indices.map(b => col(s"bk$b").as(s"bk$tag$b")) :+
        posexplode(array(bands.indices.map(b => col(s"bk$b")): _*))
          .as(Seq(s"band$tag", s"bucket$tag")): _*)
    val firstBand = (0 until bands.length - 1).map(bp =>
      col("band1") <= bp || col(s"bk1$bp") =!= col(s"bk2$bp")).reduce(_ && _)
    val got = side("1").join(side("2"),
        col("band1") === col("band2") && col("bucket1") === col("bucket2") &&
          col("id1") < col("id2") && firstBand)
      .select(col("id1"), col("id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == got.toSet.size, "first-band filter emitted a duplicate pair")
    assert(got.toSet == ref, "pair set differs from distinct union")
    assert(ref.nonEmpty, "fixture produced no colliding pairs — vacuous test")
  }
}
