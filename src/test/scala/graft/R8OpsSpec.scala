package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-8 operator specs. */
class R8OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.sf)

  test("rec_eval_mrr: exact integer identity with the hit-rate counters", Family("rec")) {
    // both readouts ride evalShared's one split + one retrained model, so
    // rr_sum is EXACTLY determined by the recall counters: every k=1 hit
    // contributes 1e9, every first-hit-at-2 contributes 1e9 div 2, every
    // first-hit-at-3 contributes 1e9 div 3
    val hit = run("rec_eval_hitrate").collect().map(r =>
      r.getAs[Int]("k") -> (r.getAs[Long]("n_users"), r.getAs[Long]("n_hits"))).toMap
    val (nUsers, h3) = hit(3)
    val h1 = hit(1)._2
    val h2 = hit(2)._2
    val rrSum = h1 * 1000000000L +
      (h2 - h1) * (1000000000L / 2) + (h3 - h2) * (1000000000L / 3)
    val r = run("rec_eval_mrr").collect().head
    assert(r.getAs[Long]("n_users") == nUsers, "denominators must agree")
    assert(r.getAs[Long]("n_hit_users") == h3, "hit-user count = hits@3")
    assert(r.getAs[Long]("mrr_nano") == rrSum / math.max(nUsers, 1L),
      s"mrr ${r.getAs[Long]("mrr_nano")} != $rrSum / $nUsers")
    // MRR is sandwiched by the recall curve: rate@1 <= MRR <= rate@3
    assert(r.getAs[Long]("mrr_nano") >= 1000000000L * h1 / math.max(nUsers, 1L) - 1)
    assert(r.getAs[Long]("mrr_nano") <= 1000000000L * h3 / math.max(nUsers, 1L))
  }

  test("rec_eval_pop_baseline: counters recomputed driver-side on the same split", Family("rec")) {
    import org.apache.spark.sql.functions._
    val orders = Tables.t(spark, TestSpark.sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[java.time.LocalDateTime](2)))
    val lastOk = orders.groupBy(_._1).view.mapValues(os =>
      os.maxBy(o => (o._3.toEpochSecond(java.time.ZoneOffset.UTC), o._2))._2).toMap
    val items = Tables.t(spark, TestSpark.sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val okToU = orders.map(o => o._2 -> o._1).toMap
    val tagged = items.flatMap { case (ok, i) =>
      okToU.get(ok).map(u => (u, i, ok == lastOk(u))) }.distinct
    val train = tagged.filter(!_._3).map(t => (t._1, t._2)).distinct
    val trainByU = train.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val capped = trainByU.filter(_._2.size <= 100)
    val test = tagged.filter(_._3).map(t => (t._1, t._2)).distinct
    val elig = test.filter { case (u, i) => !trainByU.getOrElse(u, Set()).contains(i) }
    val eligByU = elig.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val evalUsers = eligByU.keySet.intersect(capped.keySet)
    // capped-train popularity, deterministic (count desc, item asc), top 50
    val top50 = capped.toSeq.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size).toSeq.sortBy { case (i, d) => (-d, i) }.take(50)
    val mrs = evalUsers.toSeq.flatMap { u =>
      val owned = capped(u)
      val recs = top50.filter(t => !owned.contains(t._1)).take(3).map(_._1)
      val hit = recs.zipWithIndex.collectFirst {
        case (i, idx) if eligByU(u).contains(i) => idx + 1 }
      hit
    }
    val (h1, h2, h3) = (mrs.count(_ <= 1).toLong, mrs.count(_ <= 2).toLong,
      mrs.count(_ <= 3).toLong)
    val rs = run("rec_eval_pop_baseline").collect().map(r =>
      r.getAs[Int]("k") -> (r.getAs[Long]("n_users"), r.getAs[Long]("n_hits"))).toMap
    assert(rs(1)._1 == evalUsers.size.toLong, "denominator")
    assert((rs(1)._2, rs(2)._2, rs(3)._2) == ((h1, h2, h3)),
      s"pop hits ${(rs(1)._2, rs(2)._2, rs(3)._2)} vs driver ${(h1, h2, h3)}")
    // and the baseline shares its denominator with the model eval
    val model = run("rec_eval_hitrate").collect().head.getAs[Long]("n_users")
    assert(rs(1)._1 == model, "baseline and model evals must share the denominator")
  }

  test("sim_centroid_drift: memberships match the append audit; flag honors threshold", Family("similarity")) {
    val drift = run("sim_centroid_drift").collect().map(r =>
      (r.getAs[Long]("cell"), r.getAs[Long]("n_base"), r.getAs[Long]("n_new"),
        r.getAs[Long]("drift_sq_nano"), r.getAs[Boolean]("reindex")))
    // same stored index (trained on vec_id < 450) as sim_ivfpq_append →
    // identical per-cell base/appended membership
    val app = run("sim_ivfpq_append").collect().map(r =>
      r.getAs[Long]("cell") -> (r.getAs[Long]("n_base"), r.getAs[Long]("n_new"))).toMap
    drift.foreach { case (c, nb, nn, d, flag) =>
      assert(app(c) == ((nb, nn)), s"cell $c membership disagrees with append audit")
      assert(d >= 0L, "squared drift is nonnegative")
      assert(flag == (d > 12000000L), "reindex flag must equal the declared threshold test")
    }
    // every vector lands in exactly one cell
    val total = Tables.t(spark, TestSpark.sf, "embeddings").count()
    assert(drift.map(r => r._2 + r._3).sum == total)
  }

  test("bpe_vocab_coverage: merge accounting ties the curve to the train ledger", Family("text")) {
    val cov = run("bpe_vocab_coverage").collect().map(r =>
      (r.getAs[Int]("round"), r.getAs[Long]("n_token_types"),
        r.getAs[Long]("n_tokens_corpus"), r.getAs[Long]("compression_nano")))
      .sortBy(_._1)
    assert(cov.map(_._1).toSeq == Seq(0, 1, 2, 3, 4))
    val base = cov.head._3
    cov.foreach { case (_, _, nt, cn) =>
      assert(cn == 1000000000L * nt / base, "compression is the exact nano ratio")
    }
    // each merge strictly shrinks the corpus encoding; the reduction is the
    // elected pair's weighted frequency (exactly, when no occurrence
    // overlaps itself; at least half of it when every occurrence does)
    val freq = run("bpe_train").collect().map(r =>
      r.getAs[Int]("round") -> r.getAs[Long]("freq")).toMap
    cov.toSeq.sliding(2).foreach { case Seq((r0, ty0, nt0, _), (r1, ty1, nt1, _)) =>
      val delta = nt0 - nt1
      assert(delta > 0, s"round $r1 must shrink the encoding")
      assert(delta <= freq(r1) && 2 * delta >= freq(r1),
        s"round $r1: reduction $delta vs elected freq ${freq(r1)}")
      // theorem (fixture-free): one merge introduces exactly one new
      // token type (the pair) and can retire up to two (a constituent
      // symbol that occurred ONLY inside elected-pair occurrences
      // vanishes as a standalone type) — so the net move is in [-1, +1];
      // the looser -2 lower bound also covers the pair-string colliding
      // with an existing type
      assert(ty1 >= ty0 - 2 && ty1 <= ty0 + 1,
        s"round $r1: types $ty0 -> $ty1 outside merge accounting bounds")
    }
  }
}
