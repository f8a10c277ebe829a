package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the evaluation/sampling/projection operators added with the
  * classifier-eval batch: invariants the oracle's hash compare can't state
  * (plan shapes, algebraic identities, statistical sanity), checked at
  * sf0.001.
  */
class EvalOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def run(name: String) = SparkEntry.queries(name)(spark, TestSpark.sf)

  test("sample_weighted plans as TakeOrderedAndProject (no full sort)", Family("pipeline")) {
    val p = run("sample_weighted").queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("embed_project_rp matches a driver-side recomputation of vector 0", Family("similarity")) {
    // independent reimplementation of the plan-build sign matrix
    def sign(i: Int, j: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp|$i|$j".getBytes("UTF-8"))
      if ((d(0) & 1) == 0) 1 else -1
    }
    val emb = Tables.t(spark, TestSpark.sf, "embeddings")
      .filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0)
    val expected = (0 until 4).map { j =>
      val s = (0 until 64).map(i => emb(i).toDouble * sign(i, j)).sum / 8.0
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val row = run("embed_project_rp").filter(col("vec_id") === 0).head()
    (0 until 4).foreach { j =>
      assert(math.abs(row.getDouble(j + 1) - expected(j)) < 1e-6,
        s"p$j: got ${row.getDouble(j + 1)}, expected ${expected(j)}")
    }
  }

  test("events_ab_test arms partition the user population; z sign tracks rates", Family("events")) {
    val r = run("events_ab_test").head()
    val users = Tables.t(spark, TestSpark.sf, "events")
      .select(col("user_id")).distinct().count()
    assert(r.getLong(0) + r.getLong(3) == users)
    val (rateA, rateB, z) = (r.getDouble(2), r.getDouble(5), r.getDouble(6))
    assert((rateA - rateB) * z >= 0.0, "z must have the sign of the rate gap")
  }

  test("events_winsorize: clamped mean stays inside the band, ~2% clipped", Family("events")) {
    val counts = Tables.t(spark, TestSpark.sf, "events")
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    run("events_winsorize").collect().foreach { r =>
      val (et, p01, p99) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      val (nClipped, meanW) = (r.getLong(3), r.getDouble(5))
      assert(meanW >= p01 && meanW <= p99, s"$et: mean_wins outside band")
      assert(nClipped <= math.ceil(counts(et) * 0.02) + 2, s"$et: clipped too many")
    }
  }

  test("split_temporal events total; leakage bounded by the smaller side", Family("pipeline")) {
    val r = run("split_temporal").head()
    val total = Tables.t(spark, TestSpark.sf, "events").count()
    assert(r.getLong(0) + r.getLong(1) == total)
    assert(r.getLong(4) <= math.min(r.getLong(2), r.getLong(3)))
  }

  test("eval_langid_report marginals re-add to the corpus; recall consistent", Family("text")) {
    val rows = run("eval_langid_report").collect()
    val nDocs = Tables.t(spark, TestSpark.sf, "documents").count()
    assert(rows.map(r => r.getLong(1) + r.getLong(3)).sum == nDocs,
      "sum(tp + fn) over true classes must equal the corpus size")
    rows.foreach { r =>
      val (tp, fn, recall) = (r.getLong(1), r.getLong(3), r.getDouble(5))
      val expect = BigDecimal(tp.toDouble / (tp + fn))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(recall - expect) < 1e-9, s"${r.getString(0)}: recall drifted")
    }
  }

  test("eval_langid_kappa: chance correction can only lower the score", Family("text")) {
    val r = run("eval_langid_kappa").head()
    val (acc, kappa) = (r.getDouble(1), r.getDouble(2))
    assert(acc >= 0.0 && acc <= 1.0)
    assert(kappa <= acc + 1e-9, "kappa > accuracy is impossible for pe >= 0")
  }

  test("corpus_zipf: frequency falls with rank over a bounded vocab", Family("text")) {
    val r = run("corpus_zipf").head()
    assert(r.getLong(0) <= 100)
    assert(r.getDouble(1) < 0.0, "zipf slope must be negative")
  }

  test("text_sentence_stats: avg <= max, every fixture doc has a sentence", Family("text")) {
    val bad = run("text_sentence_stats")
      .filter(col("n_sentences") < 1 || col("avg_sent_chars") > col("max_sent_chars"))
      .count()
    assert(bad == 0)
  }

  test("decontaminate_fuzzy flags only non-eval docs, against eval docs", Family("dedup")) {
    val rows = run("decontaminate_fuzzy").collect()
    val srcOf = Tables.t(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      assert(srcOf(r.getLong(0)) != "src0", "corpus side must be outside the eval set")
      assert(srcOf(r.getLong(1)) == "src0", "matched side must be an eval doc")
      assert(r.getDouble(2) >= 0.5)
    }
  }

  test("text_char_entropy bounded by the uniform-distribution maximum", Family("text")) {
    val bad = run("text_char_entropy")
      .filter(col("entropy_bits") <= 0.0 ||
        col("entropy_bits") > log2(col("n_distinct").cast("double")) + 1e-6)
      .count()
    assert(bad == 0, "entropy must lie in (0, log2(alphabet)]")
  }

  test("events_forecast_sma: non-negative error, unbiased-ish SMA", Family("events")) {
    run("events_forecast_sma").collect().foreach { r =>
      assert(r.getDouble(2) >= 0.0)
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) < 1.0,
        s"${r.getString(0)}: SMA mean drifted far from actual mean")
    }
  }

  test("events_rfm: segments partition the purchasing users, scores in 1..5", Family("events")) {
    val rows = run("events_rfm").collect()
    val purchasers = Tables.t(spark, TestSpark.sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(3)).sum == purchasers)
    rows.foreach { r =>
      (0 to 2).foreach { i =>
        assert(r.getInt(i) >= 1 && r.getInt(i) <= 5, s"score out of range: $r")
      }
    }
  }

  test("events_interpolate: full spine, no holes left, observed rows intact", Family("events")) {
    val out = run("events_interpolate")
    assert(out.filter(col("v_micro").isNull).count() == 0, "no hole may survive")
    val types = Tables.t(spark, TestSpark.sf, "events")
      .select(col("event_type")).distinct().count()
    val hoursPerType = out.groupBy(col("event_type")).count()
      .select(col("count")).distinct().collect()
    assert(hoursPerType.length == 1, "every type must cover the same spine")
    assert(out.count() == types * hoursPerType.head.getLong(0))
    // observed buckets must carry their exact hourly fold, untouched
    val hourly = Tables.t(spark, TestSpark.sf, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(floor(avg(col("value")) * 1e6 + 0.5).cast("long").as("want"))
    val drifted = out.filter(!col("was_missing"))
      .join(hourly, Seq("event_type", "h"))
      .filter(col("v_micro") =!= col("want")).count()
    assert(drifted == 0)
  }

  test("stream_ann_probe: top-3 per probe, ranked by ADC, rerun-stable", Family("similarity")) {
    val first = run("stream_ann_probe").collect()
    assert(first.length == 9, "3 probes x top-3")
    first.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
      assert(byRank.map(_.getDouble(4)).toSeq.sliding(2).forall(p => p.head <= p.last),
        "ADC distance must be non-decreasing in rank")
      assert(rows.forall(r => r.getLong(2) != r.getLong(0)), "probe must not match itself")
    }
    val second = run("stream_ann_probe").collect()
    assert(first.map(_.toString).toSeq == second.map(_.toString).toSeq,
      "stream rerun must reproduce identical results")
  }

  test("sim_ivfpq_append: growth ledger partitions base and appended corpora", Family("similarity")) {
    val rows = run("sim_ivfpq_append").collect()
    assert(rows.map(_.getLong(1)).sum == 450L, "base corpus size")
    assert(rows.map(_.getLong(2)).sum == 50L, "appended arrivals")
    rows.foreach(r => assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
  }

  test("mine_bitext: pairs cross the language boundary, ranked by cosine", Family("dedup")) {
    val rows = run("mine_bitext").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val langOf = Tables.t(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      assert(langOf(r.getLong(0)) == "en", "left side must be English")
      assert(r.getString(2) != "en" && langOf(r.getLong(1)) == r.getString(2))
    }
    assert(rows.map(_.getDouble(3)).sliding(2).forall(p => p.head >= p.last),
      "output must be ranked by cosine descending")
  }

  test("corpus_dedup_curve: buckets in [0,1], deciles well-formed", Family("dedup")) {
    val rows = run("corpus_dedup_curve").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, avg) = (r.getDouble(0), r.getDouble(2))
      assert(b >= 0.0 && b <= 1.0)
      assert(avg >= b - 1e-9 && avg < b + 0.1 + 1e-9,
        s"bucket $b mean $avg outside its decile")
    }
  }

  test("sim_matryoshka: rerank set comes from the coarse stage, full-dim ordered", Family("similarity")) {
    val rows = run("sim_matryoshka").collect()
    assert(rows.length == 10)
    assert(rows.map(_.getDouble(2)).sliding(2).forall(p => p.head >= p.last),
      "output must be ordered by the full-dimension score")
  }

  test("events_survival: curve is monotone non-increasing over a fixed cohort", Family("events")) {
    val rows = run("events_survival").collect().sortBy(_.getInt(0))
    assert(rows.length == 31)
    assert(rows.map(_.getLong(1)).distinct.length == 1, "cohort size must be constant")
    assert(rows.map(_.getDouble(3)).sliding(2).forall(p => p.head >= p.last - 1e-9),
      "survival can only fall with time")
  }

  test("embed_pca_power: reported direction components are unit-bounded", Family("similarity")) {
    val r = run("embed_pca_power").head()
    assert(r.getDouble(0) > 0.0, "eigenvalue estimate must be positive")
    val sq = (1 to 4).map(r.getDouble).map(v => v * v).sum
    assert(sq <= 1.0 + 1e-9, "first 4 components of a unit vector exceed norm 1")
  }
}
