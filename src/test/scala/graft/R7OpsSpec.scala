package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the round-7 additions: exact-substring dedup coverage,
  * the hashed linear quality classifier, the Gopher rule battery,
  * hard-negative mining, and hour-of-week seasonality. Where the oracle
  * hash-compare can't state the property (interval-union exactness on a
  * crafted corpus, driver-side recomputation of the hashed score), these
  * specs pin it directly.
  */
class R7OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def run(name: String) = SparkEntry.queries(name)(spark, TestSpark.sf)

  /** A scratch fixture dir holding only a crafted documents.parquet —
    * table-pruned queries read just their own table, so the other nine
    * fixtures aren't needed.
    */
  private lazy val craftedDocsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-r7-docs").toString
    import spark.implicits._
    // exactly 60 chars, no internal period; the flanks differ between the two
    // docs at EVERY position, so no boundary-straddling gram is shared and
    // the expected coverage is exactly the 60-char span
    val shared = "QWERTYUIOPASDFGHJKLZXCVBNMqwertyuiopasdfghjklzxcvbnm12345678"
    assert(shared.length == 60)
    val docs = Seq(
      (1L, ("x" * 20) + shared + ("y" * 20), "en", "src_a", 0L),
      (2L, ("u" * 20) + shared + ("v" * 20), "en", "src_b", 0L),
      (3L, "unrelated words only here nothing matching with anyone at all " +
        "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "src_c", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_substring: exact interval-union coverage of a known shared span", Family("dedup")) {
    val rows = SparkEntry.queries("dedup_substring")(spark, craftedDocsDir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(1L, 2L), s"only the sharing pair is flagged: ${rows.keySet}")
    // the shared span is 60 chars => gram positions p..p+20 (21 overlapping
    // 40-grams) whose interval union is exactly 60 chars, one maximal run
    Seq(1L, 2L).foreach { id =>
      assert(rows(id).getAs[Long]("dup_chars") == 60L,
        s"doc $id dup_chars: ${rows(id).getAs[Long]("dup_chars")}")
      assert(rows(id).getAs[Long]("n_runs") == 1L)
    }
  }

  test("dedup_substring fixture invariants: coverage bounded, runs consistent", Family("dedup")) {
    val rs = run("dedup_substring").collect()
    rs.foreach { r =>
      val (nChars, dupChars, nRuns) =
        (r.getAs[Long]("n_chars"), r.getAs[Long]("dup_chars"), r.getAs[Long]("n_runs"))
      assert(dupChars >= 40L && dupChars <= nChars, s"doc ${r.getLong(0)}")
      // every maximal run covers at least one full gram length
      assert(nRuns >= 1L && dupChars >= 40L * nRuns,
        s"doc ${r.getLong(0)}: $dupChars chars in $nRuns runs")
    }
  }

  test("text_classifier_score matches a driver-side recomputation of doc 0's sum", Family("text")) {
    val doc = Tables.t(spark, TestSpark.sf, "documents")
      .orderBy(col("doc_id")).select(col("doc_id"), col("text")).head()
    val words = doc.getString(1).trim.split("\\s+")
    val wsum = words.map { w =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      val hex = d.take(4).map(b => f"$b%02x").mkString
      val h = java.lang.Long.parseLong(hex, 16)
      (((h % 64) * 37 + 11) % 97) - 48
    }.sum
    val r = run("text_classifier_score")
      .filter(col("doc_id") === doc.getLong(0)).head()
    val expectedScore = BigDecimal(wsum.toDouble / (96.0 * words.length))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Int]("n_tokens") == words.length)
    assert(math.abs(r.getAs[Double]("score") - expectedScore) < 1e-9)
    assert(r.getAs[Boolean]("keep") == (wsum >= 0))
  }

  test("text_gopher_rules: crafted violations trip exactly their rule", Family("text")) {
    val short = run("text_gopher_rules") // fixture docs are >= 50 words or not
    short.collect().foreach { r =>
      val pass = r.getAs[Boolean]("pass")
      val rules = Seq("r_wordcount", "r_wordlen", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stopwords").map(r.getAs[Boolean])
      assert(pass == rules.forall(identity), s"doc ${r.getLong(0)}")
    }
    // crafted corpus: doc 3 has < 50 words -> r_wordcount false
    val crafted = SparkEntry.queries("text_gopher_rules")(spark, craftedDocsDir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!crafted(3L).getAs[Boolean]("r_wordcount"))
    assert(!crafted(3L).getAs[Boolean]("pass"))
  }

  test("sim_hardneg_mine: negatives never share the anchor's label, ranked by cos", Family("similarity")) {
    val labels = Tables.t(spark, TestSpark.sf, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rs = run("sim_hardneg_mine").collect()
    assert(rs.nonEmpty)
    rs.groupBy(_.getLong(0)).foreach { case (q, g) =>
      g.foreach(r => assert(r.getAs[Int]("neg_label") != labels(q),
        s"anchor $q got a same-label 'negative'"))
      val byRk = g.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cos"))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b },
        s"anchor $q: cos not descending in rank")
    }
  }

  test("graph_kcore peel cascades: pendant chain strips one node per round", Family("graph")) {
    import spark.implicits._
    // 6-cycle (the true 2-core) with a 4-node pendant chain hanging off node 1:
    // k=2 peeling removes exactly the chain, one endpoint per round => needs
    // 4 rounds; 2 rounds must NOT be enough (the cascade, not a single pass)
    val cyc = (1L to 6L).map(i => (i, i % 6 + 1))
    val chain = Seq((1L, 7L), (7L, 8L), (8L, 9L), (9L, 10L))
    val und = (cyc ++ chain).flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val after2 = graft.queries.GraphQ.kcorePeel(und, 2, 2)
      .select(col("src")).distinct().collect().map(_.getLong(0)).toSet
    assert(after2.contains(7L), "2 rounds must not finish the 4-deep cascade")
    val after4 = graft.queries.GraphQ.kcorePeel(und, 2, 4)
      .select(col("src")).distinct().collect().map(_.getLong(0)).toSet
    assert(after4 == (1L to 6L).toSet, s"the 2-core is exactly the cycle: $after4")
    // converged: more rounds change nothing
    val after6 = graft.queries.GraphQ.kcorePeel(und, 2, 6)
      .select(col("src")).distinct().collect().map(_.getLong(0)).toSet
    assert(after6 == after4)
  }

  test("corpus_source_overlap: jaccard <= containment <= 1, symmetric keys ordered", Family("pipeline")) {
    val rs = run("corpus_source_overlap").collect()
    rs.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b, "pairs are emitted once, lexicographically ordered")
      val (j, c) = (r.getAs[Double]("jaccard"), r.getAs[Double]("containment"))
      assert(j > 0.0 && j <= c + 1e-9 && c <= 1.0,
        s"($a,$b): jaccard=$j containment=$c")
    }
  }

  test("split_kfold: folds partition the corpus", Family("pipeline")) {
    val rs = run("split_kfold").collect()
    assert(rs.map(_.getAs[Int]("fold")).toSet.subsetOf((0 to 4).toSet))
    val total = Tables.t(spark, TestSpark.sf, "documents").count()
    assert(rs.map(_.getAs[Long]("n_docs")).sum == total)
  }

  test("sim_knn_graph: valid per-node top-3, no self-edges, cos descending", Family("similarity")) {
    val rs = run("sim_knn_graph").collect()
    assert(rs.nonEmpty)
    rs.foreach(r => assert(r.getLong(0) != r.getAs[Long]("dst"), "self-edge"))
    rs.groupBy(_.getLong(0)).foreach { case (src, g) =>
      val byRk = g.sortBy(_.getAs[Int]("rk"))
      assert(byRk.map(_.getAs[Int]("rk")).toSeq == (1 to g.length).toSeq)
      val cs = byRk.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y }, s"src $src")
    }
  }

  test("quality_tradeoff_curve: monotone in threshold, 0.5 point matches text_quality", Family("text")) {
    val rs = run("quality_tradeoff_curve").collect().sortBy(_.getAs[Double]("threshold"))
    assert(rs.length == 9)
    val kept = rs.map(_.getAs[Long]("n_kept"))
    assert(kept.zip(kept.tail).forall { case (a, b) => a >= b }, "n_kept must fall as threshold rises")
    rs.foreach { r =>
      assert(r.getAs[Double]("doc_frac") >= 0.0 && r.getAs[Double]("doc_frac") <= 1.0)
      assert(r.getAs[Double]("token_frac") >= 0.0 && r.getAs[Double]("token_frac") <= 1.0)
    }
    val at05 = rs.find(r => math.abs(r.getAs[Double]("threshold") - 0.5) < 1e-9).get
    val qualityKeeps = run("text_quality").filter(col("keep")).count()
    assert(at05.getAs[Long]("n_kept") == qualityKeeps,
      "the 0.5 curve point must equal text_quality's keep count")
  }

  test("corpus_heaps: cumulative growth is monotone, final vocab is the corpus vocab", Family("text")) {
    val rs = run("corpus_heaps").collect().sortBy(_.getAs[Int]("decile"))
    assert(rs.length == 10)
    val toks = rs.map(_.getAs[Long]("tokens_cum"))
    val voc = rs.map(_.getAs[Long]("vocab_cum"))
    assert(toks.zip(toks.tail).forall { case (a, b) => a <= b })
    assert(voc.zip(voc.tail).forall { case (a, b) => a <= b })
    val totalVocab = Tables.t(spark, TestSpark.sf, "documents")
      .select(explode(graft.functions.TextFns.words(col("text"))).as("w"))
      .select(lower(col("w"))).distinct().count()
    assert(voc.last == totalVocab, s"decile 9 vocab ${voc.last} != corpus vocab $totalVocab")
  }

  test("sim_bucket_balance: occupancy ordered, imbalance >= 1, shares bounded", Family("similarity")) {
    val rs = run("sim_bucket_balance").collect()
    assert(rs.nonEmpty)
    val ns = rs.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    rs.foreach { r =>
      assert(r.getAs[Double]("share") > 0.0 && r.getAs[Double]("share") <= 1.0)
      assert(r.getAs[Double]("imbalance") >= 1.0 - 1e-9,
        "hottest bucket can't be below the used-bucket average")
    }
  }

  test("stream_simhash_dedup: ledger partitions the new-doc slice", Family("streaming")) {
    val rs = run("stream_simhash_dedup").collect()
    val newPerLang = Tables.t(spark, TestSpark.sf, "documents")
      .filter(col("doc_id") % 10 >= 8)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rs.map(_.getString(0)).toSet == newPerLang.keySet)
    rs.foreach { r =>
      val lang = r.getString(0)
      assert(r.getAs[Long]("n_novel") + r.getAs[Long]("n_suspect") == newPerLang(lang),
        s"lang $lang: novel+suspect must cover every streamed doc exactly once")
    }
  }

  test("bpe_train: merge freqs non-increasing, tokens are the fused pairs", Family("text")) {
    val rs = run("bpe_train").collect().sortBy(_.getAs[Int]("round"))
    assert(rs.map(_.getAs[Int]("round")).toSeq == Seq(1, 2, 3, 4))
    val freqs = rs.map(_.getAs[Long]("freq"))
    // a pair born from a merge occurs at most once per occurrence of the
    // merged token, so the elected max can never rise between rounds
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b },
      s"merge frequencies must be non-increasing: ${freqs.mkString(",")}")
    rs.foreach { r =>
      val pair = r.getAs[String]("pair")
      assert(pair.count(_ == ' ') == 1, s"pair '$pair' must be two symbols")
      assert(r.getAs[String]("token") == pair.replace(" ", ""))
      assert(r.getAs[Long]("freq") > 0L)
    }
    assert(rs.map(_.getAs[String]("pair")).distinct.length == 4,
      "the same pair can never be elected twice")
  }

  test("dq_k_anonymity: risk monotone in k, l-diversity bounded", Family("quality")) {
    val rs = run("dq_k_anonymity").collect().sortBy(_.getAs[Int]("k"))
    assert(rs.map(_.getAs[Int]("k")).toSeq == Seq(2, 5, 10, 20))
    val risk = rs.map(_.getAs[Long]("rows_at_risk"))
    val below = rs.map(_.getAs[Long]("groups_below"))
    assert(risk.zip(risk.tail).forall { case (a, b) => a <= b },
      "raising k can only put more rows at risk")
    assert(below.zip(below.tail).forall { case (a, b) => a <= b })
    assert(rs.map(_.getAs[Long]("n_groups")).distinct.length == 1)
    rs.foreach { r =>
      assert(r.getAs[Double]("risk_frac") >= 0.0 && r.getAs[Double]("risk_frac") <= 1.0)
      assert(r.getAs[Long]("min_l") >= 1L, "a non-empty group has at least one sensitive value")
    }
  }

  test("dedup_canonicalize: one survivor per cluster, and it is the keep-best member", Family("dedup")) {
    val rs = run("dedup_canonicalize").collect()
    val byCluster = rs.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      val kept = members.filter(_.getAs[Boolean]("is_kept"))
      assert(kept.length == 1, s"cluster $cid must keep exactly one doc")
      val canon = members.head.getAs[Long]("canonical_id")
      assert(members.forall(_.getAs[Long]("canonical_id") == canon))
      assert(members.exists(_.getAs[Long]("doc_id") == canon),
        s"canonical $canon must be a member of cluster $cid")
      assert(members.forall(_.getAs[Long]("cluster_size") == members.length.toLong))
    }
    // the elected doc has the cluster-max n_chars (smallest id on ties)
    val nChars = Tables.t(spark, TestSpark.sf, "documents")
      .filter(col("doc_id") < 2500)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byCluster.foreach { case (cid, members) =>
      val ids = members.map(_.getAs[Long]("doc_id"))
      val best = ids.maxBy(id => (nChars(id), -id))
      assert(members.head.getAs[Long]("canonical_id") == best,
        s"cluster $cid canonical must be the longest-text member")
    }
  }

  test("mm_shard_manifest: shards partition each source, ids contiguous, bytes conserved", Family("multimodal")) {
    val rs = run("mm_shard_manifest").collect()
    val docs = Tables.t(spark, TestSpark.sf, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("b")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rs.groupBy(_.getAs[String]("source")).foreach { case (src, shards) =>
      val ids = shards.map(_.getAs[Long]("shard_id")).sorted
      assert(ids.head == 0L && ids.zipWithIndex.forall { case (v, i) => v == i.toLong },
        s"source $src shard ids must be 0..n-1 with no gaps")
      assert(shards.map(_.getAs[Long]("n_items")).sum == docs(src)._1,
        s"source $src: every sample lands in exactly one shard")
      assert(shards.map(_.getAs[Long]("n_bytes")).sum == docs(src)._2,
        s"source $src: shard bytes must conserve the source total")
      // id ranges of consecutive shards never overlap (ingestion order kept)
      val ordered = shards.sortBy(_.getAs[Long]("shard_id"))
      ordered.zip(ordered.tail).foreach { case (a, b) =>
        assert(a.getAs[Long]("last_id") < b.getAs[Long]("first_id"))
      }
    }
  }

  test("corpus_datasheet: card fields consistent with the corpus", Family("text")) {
    val r = run("corpus_datasheet").collect().head
    val nDocs = Tables.t(spark, TestSpark.sf, "documents").count()
    assert(r.getAs[Long]("n_docs") == nDocs)
    assert(r.getAs[Long]("n_tokens") > 0L)
    assert(r.getAs[Double]("p50_tokens") <= r.getAs[Double]("p90_tokens"))
    Seq("pct_en", "dup_rate", "quality_keep_frac").foreach { c =>
      assert(r.getAs[Double](c) >= 0.0 && r.getAs[Double](c) <= 1.0, c)
    }
    assert(r.getAs[Long]("n_langs") >= 1L && r.getAs[Long]("n_sources") >= 1L)
  }

  test("mix_doremi_weights: softmax sums to one, surprise ranks weight", Family("pipeline")) {
    val rs = run("mix_doremi_weights").collect()
    assert(rs.nonEmpty)
    val wsum = rs.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights must sum to ~1, got $wsum")
    rs.foreach(r => assert(r.getAs[Double]("weight") > 0.0))
    val byNll = rs.maxBy(_.getAs[Double]("mean_nll"))
    val byW = rs.maxBy(_.getAs[Double]("weight"))
    assert(byNll.getAs[String]("source") == byW.getAs[String]("source"),
      "the most surprising domain must get the largest weight")
  }

  test("stream_drift_psi: streaming result identical to the batch dq_drift_psi", Family("streaming")) {
    val streamed = run("stream_drift_psi").collect().map(_.toString).sorted
    val batch = run("dq_drift_psi").collect().map(_.toString).sorted
    assert(streamed.sameElements(batch),
      "counts are batching-invariant, so stream must equal batch exactly")
  }

  test("eval_retrieval_mrr: metrics bounded, probes accounted for", Family("similarity")) {
    val rs = run("eval_retrieval_mrr").collect()
    assert(rs.nonEmpty)
    val expected = Tables.t(spark, TestSpark.sf, "embeddings")
      .filter(col("vec_id") % 50 === 0).count()
    assert(rs.map(_.getAs[Long]("n_probes")).sum == expected)
    rs.foreach { r =>
      assert(r.getAs[Double]("mrr") >= 0.0 && r.getAs[Double]("mrr") <= 1.0)
      assert(r.getAs[Double]("p_at_5") >= 0.0 && r.getAs[Double]("p_at_5") <= 1.0)
    }
  }

  test("bpe_encode: fertility bounded by [1, word length], totals consistent", Family("text")) {
    val rs = run("bpe_encode").collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val fert = r.getAs[Double]("fertility")
      val cpt = r.getAs[Double]("chars_per_token")
      // every word is at least 1 token and at most one token per char
      assert(fert >= 1.0, s"fertility $fert < 1")
      assert(cpt >= 1.0, s"chars_per_token $cpt < 1 — a token shorter than a char")
      assert(r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("n_bpe_tokens") > 0L)
    }
  }

  test("bpe_encode: 4 trained merges strictly reduce the token total vs chars", Family("text")) {
    // with 4 merges applied, SOME word must have merged: chars per BPE token
    // strictly above the char-splitter floor of 1.0 for at least one lang
    val rs = run("bpe_encode").collect()
    assert(rs.exists(_.getAs[Double]("chars_per_token") > 1.0),
      "no merge ever applied — encoder is a char splitter")
  }

  test("events_sequence_mining: support consistent and triples genuinely contiguous", Family("events")) {
    val rs = run("events_sequence_mining").collect()
    assert(rs.length == 15)
    val nUsers = Tables.t(spark, TestSpark.sf, "events")
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    rs.foreach { r =>
      assert(r.getAs[Long]("support_users") <= nUsers)
      assert(r.getAs[Long]("n") >= r.getAs[Long]("support_users") ||
        r.getAs[Long]("support_users") > 0)
      assert(math.abs(r.getAs[Double]("support") -
        r.getAs[Long]("support_users").toDouble / nUsers) < 1e-6)
    }
    // ranking is by support desc
    val sup = rs.map(_.getAs[Long]("support_users"))
    assert(sup.sameElements(sup.sortBy(-_)))
  }

  test("dq_profile: counters match direct recomputation per column", Family("quality")) {
    val rs = run("dq_profile").collect()
    assert(rs.length == 6)
    val o = Tables.t(spark, TestSpark.sf, "orders")
    val n = o.count()
    val byName = rs.map(r => r.getAs[String]("column_name") -> r).toMap
    val nd = o.select(countDistinct(col("o_orderstatus"))).collect()(0).getLong(0)
    assert(byName("o_orderstatus").getAs[Long]("n_distinct") == nd)
    assert(byName("o_orderkey").getAs[Long]("n_nulls") == 0L)
    assert(byName("o_orderkey").getAs[Long]("n_distinct") ==
      o.select(countDistinct(col("o_orderkey"))).collect()(0).getLong(0))
    rs.foreach(r => assert(r.getAs[Double]("null_frac") >= 0.0 &&
      r.getAs[Double]("null_frac") <= 1.0))
    assert(n > 0)
  }

  test("split_leakage_free: cluster split leaks zero, policies partition the same corpus", Family("dedup")) {
    val rs = run("split_leakage_free").collect()
      .map(r => r.getAs[String]("policy") -> r).toMap
    assert(rs.keySet == Set("cluster_aware", "naive_hash"))
    val ca = rs("cluster_aware"); val nh = rs("naive_hash")
    assert(ca.getAs[Long]("leaked_pairs") == 0L,
      "cluster-keyed split must leak zero by construction")
    assert(nh.getAs[Long]("leaked_pairs") >= ca.getAs[Long]("leaked_pairs"))
    assert(ca.getAs[Long]("n_train") + ca.getAs[Long]("n_val") ==
      nh.getAs[Long]("n_train") + nh.getAs[Long]("n_val"),
      "both policies must split the same corpus")
    assert(ca.getAs[Long]("n_dup_pairs") == nh.getAs[Long]("n_dup_pairs"))
  }

  test("dedup_cluster_stats: histogram accounts for every doc exactly once", Family("dedup")) {
    val rs = run("dedup_cluster_stats").collect()
    assert(rs.nonEmpty)
    val total = rs.map(_.getAs[Long]("n_docs_at_size")).sum
    val expected = Tables.t(spark, TestSpark.sf, "documents")
      .filter(col("doc_id") < 2500).count()
    assert(total == expected, s"histogram covers $total of $expected docs")
    assert(math.abs(rs.map(_.getAs[Double]("doc_share")).sum - 1.0) < 1e-3)
    rs.foreach { r =>
      assert(r.getAs[Long]("removable_docs") ==
        (r.getAs[Long]("cluster_size") - 1) * r.getAs[Long]("n_clusters"))
    }
  }

  test("events_changepoint: one row per type, scaled statistic consistent", Family("events")) {
    val rs = run("events_changepoint").collect()
    val types = Tables.t(spark, TestSpark.sf, "events")
      .select(col("event_type")).distinct().count()
    assert(rs.length == types, "exactly one changepoint row per event type")
    rs.foreach { r =>
      val nDays = r.getAs[Long]("n_days")
      assert(nDays > 0)
      // cusum is the scaled statistic divided by n_days, rounded to 4
      val expect = BigDecimal(r.getAs[Long]("cusum_scaled").toDouble / nDays)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("cusum") - expect) < 1e-9)
    }
  }

  test("q_approx_quantile: 256-bin estimates land within 1% of exact", Family("relational")) {
    val rs = run("q_approx_quantile").collect()
    assert(rs.length == 3)
    rs.foreach { r =>
      assert(r.getAs[Double]("rel_err") <= 0.01,
        s"p=${r.getAs[Double]("p")} rel_err ${r.getAs[Double]("rel_err")} > 1%")
      assert(r.getAs[Double]("approx") > 0.0)
    }
  }

  test("op_table_versioning: rollback read prunes to one version partition", Family("ops")) {
    run("op_table_versioning").collect() // materialize both versions
    val out = Tables.scratch("table_versions")
    val v1 = spark.read.parquet(out).filter(col("v") === 1)
    val plan = v1.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("v#"),
      "reading as-of version 1 must be a partition-pruned scan")
    // rollback semantics: v=1 readback equals the base table exactly
    val base = Tables.t(spark, TestSpark.sf, "orders")
    assert(v1.count() == base.count())
  }

  test("mm_caption_pairs: all four statuses fire on a crafted corpus", Family("multimodal")) {
    val dir = java.nio.file.Files.createTempDirectory("graft-r7-cap").toString
    import spark.implicits._
    val good = "a sensible caption describing the image with enough words here"
    val docs = Seq(
      (1L, good, "en", "s", 0L),            // kept (keeper of the dup pair)
      (2L, good, "en", "s", 0L),            // dup_dropped (same text = same phash)
      (3L, "too short", "en", "s", 0L),     // caption_fail (2 words)
      (4L, good + " unique tail", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rs = SparkEntry.queries("mm_caption_pairs")(spark, dir).collect()
    val byStatus = rs.map(r => r.getAs[String]("status") -> r.getAs[Long]("n")).toMap
    assert(byStatus.getOrElse("caption_fail", 0L) == 1L, s"got $byStatus")
    assert(byStatus.getOrElse("dup_dropped", 0L) == 1L, s"got $byStatus")
    // docs 1 and 4 are kept unless their derived image dims fail the gate —
    // the gate is hash-derived, so just require the ledger to cover all docs
    assert(rs.map(_.getAs[Long]("n")).sum == 4L)
  }

  test("stream_pattern_detect: completions equal the batch funnel's purchase stage", Family("streaming")) {
    val rs = run("stream_pattern_detect").collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val v = r.getAs[java.time.LocalDateTime]("view_ts")
      val c = r.getAs[java.time.LocalDateTime]("click_ts")
      val p = r.getAs[java.time.LocalDateTime]("purchase_ts")
      assert(v.isBefore(c) && c.isBefore(p), s"pattern order violated: $v $c $p")
      assert(r.getAs[Long]("secs_to_convert") >= 0L)
    }
    // the stream's one-completion-per-user count must equal events_funnel's
    // final-stage user count — same greedy semantics, two independent paths
    val funnel = run("events_funnel").collect()(0)
    assert(rs.length.toLong == funnel.getAs[Long]("n_purchase"))
  }

  test("eval_retrieval_ndcg: bounded metrics, probes accounted for", Family("similarity")) {
    val rs = run("eval_retrieval_ndcg").collect()
    assert(rs.nonEmpty)
    val expected = Tables.t(spark, TestSpark.sf, "embeddings")
      .filter(col("vec_id") % 50 === 0).count()
    assert(rs.map(_.getAs[Long]("n_probes")).sum == expected)
    rs.foreach(r => assert(r.getAs[Double]("ndcg10") >= 0.0 &&
      r.getAs[Double]("ndcg10") <= 1.0))
  }

  test("dedup_lsh_tuning: nested bands give nested candidate sets", Family("dedup")) {
    val rs = run("dedup_lsh_tuning").collect()
    assert(rs.length == 3)
    // band boundaries nest (2 | 4 | 8), so a stricter config's candidates
    // are a subset of the looser one's: counts must be non-increasing
    val byBands = rs.map(r => r.getAs[Int]("bands") -> r.getAs[Long]("n_candidates")).toMap
    assert(byBands(32) >= byBands(16) && byBands(16) >= byBands(8),
      s"candidate counts not nested: $byBands")
    rs.foreach { r =>
      val b = r.getAs[Int]("bands"); val rr = r.getAs[Int]("rows_per_band")
      assert(b * rr == 64)
      val expect = BigDecimal(math.pow(1.0 / b, 1.0 / rr))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("threshold_est") == expect)
      val mean = r.getAs[Double]("mean_est_jaccard")
      assert(mean >= 0.0 && mean <= 1.0)
    }
  }

  test("op_layout_pruning_report: z-order prunes, linear doesn't, rows identical", Family("relational")) {
    val rs = run("op_layout_pruning_report").collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    assert(rs.keySet == Set("linear", "zorder"))
    assert(rs("zorder").getAs[Long]("rows_matched") ==
      rs("linear").getAs[Long]("rows_matched"),
      "both layouts hold the same data")
    assert(rs("zorder").getAs[Long]("parts_touched") <= 1L,
      "the 16x16 box must live in at most one coarse Morton cell")
    // at sf0.001 the box can be empty; the strict 1-cell + ordering claims
    // only bind when rows matched (they hold at sf0.01+, where Verify runs)
    if (rs("zorder").getAs[Long]("rows_matched") > 0L) {
      assert(rs("zorder").getAs[Long]("parts_touched") == 1L)
      assert(rs("zorder").getAs[Double]("prune_frac") >
        rs("linear").getAs[Double]("prune_frac"))
    }
  }

  test("text_perplexity_band: bands partition each language, NLL ordered", Family("text")) {
    val rs = run("text_perplexity_band").collect()
    val docsPerLang = Tables.t(spark, TestSpark.sf, "documents")
      .groupBy(col("lang")).count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    rs.groupBy(_.getAs[String]("lang")).foreach { case (lang, rows) =>
      assert(rows.map(_.getAs[Long]("n_docs")).sum == docsPerLang(lang),
        s"$lang bands must partition the language")
      val byBand = rows.map(r => r.getAs[String]("band") -> r.getAs[Double]("mean_nll")).toMap
      assert(byBand("head") <= byBand("middle") && byBand("middle") <= byBand("tail"),
        s"$lang NLL must rise head -> middle -> tail: $byBand")
      val shares = rows.map(_.getAs[Double]("token_share")).sum
      assert(math.abs(shares - 1.0) < 1e-3)
    }
  }

  test("events_stl_decompose: strength bounded, interior-day accounting exact", Family("events")) {
    val rs = run("events_stl_decompose").collect()
    assert(rs.nonEmpty)
    val daysPerType = Tables.t(spark, TestSpark.sf, "events")
      .select(col("event_type"), to_date(col("ts")).as("d")).distinct()
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
    rs.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n_days") == daysPerType(t) - 6,
        "interior days = all days minus the 3-day edges")
      val s = r.getAs[Double]("seasonal_strength")
      assert(s >= 0.0 && s <= 1.0)
      assert(r.getAs[Double]("var_detrended") >= 0.0)
    }
  }

  test("sim_ivfpq_delete: tombstoned ids never surface, top-k stays full", Family("similarity")) {
    val rs = run("sim_ivfpq_delete").collect()
    assert(rs.length == 10)
    rs.foreach(r => assert(r.getAs[Long]("vec_id") % 7 != 3,
      s"deleted id ${r.getAs[Long]("vec_id")} leaked through the tombstone join"))
    // ADC ordering preserved
    val ds = rs.map(_.getAs[Double]("adc_d"))
    assert(ds.sameElements(ds.sorted))
  }

  test("graph_label_spread: ledger partitions the node set, shares sum to 1", Family("graph")) {
    val rs = run("graph_label_spread").collect()
    val eraw = Tables.t(spark, TestSpark.sf, "lineitem")
      .join(Tables.t(spark, TestSpark.sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("su")).distinct()
    val nNodes = eraw.select(col("c")).distinct().count() +
      eraw.select(col("su")).distinct().count()
    assert(rs.map(_.getAs[Long]("n")).sum == nNodes,
      "every graph node must appear exactly once across the label ledger")
    assert(math.abs(rs.map(_.getAs[Double]("share")).sum - 1.0) < 1e-3)
  }

  test("dq_fd_discovery: holds iff zero violations, key FDs hold", Family("quality")) {
    val rs = run("dq_fd_discovery").collect()
    assert(rs.length == 5)
    rs.foreach { r =>
      assert(r.getAs[Boolean]("holds") == (r.getAs[Long]("violations") == 0L))
      assert(r.getAs[Long]("violations") >= 0L)
    }
    // the primary key determines everything
    rs.filter(_.getAs[String]("determinant") == "o_orderkey")
      .foreach(r => assert(r.getAs[Boolean]("holds")))
    // and at least one non-key candidate genuinely fails
    assert(rs.exists(r => !r.getAs[Boolean]("holds")),
      "the ledger must discover a failing dependency, not rubber-stamp")
  }

  test("sim_ivf_nprobe_curve: candidates monotone, full sweep scans the corpus", Family("similarity")) {
    val rs = run("sim_ivf_nprobe_curve").collect()
    assert(rs.length == 4)
    val cand = rs.sortBy(_.getAs[Int]("nprobe")).map(_.getAs[Long]("n_candidates"))
    assert(cand.zip(cand.tail).forall { case (a, b) => a <= b },
      s"candidate counts must be non-decreasing in nprobe: ${cand.toSeq}")
    val corpus = Tables.t(spark, TestSpark.sf, "embeddings").count()
    assert(cand.last == corpus - 1,
      "probing all cells must scan every encoded vector except the query")
    rs.foreach { r =>
      val rec = r.getAs[Double]("recall_at_10")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getAs[Long]("hits_at_10") <= 10L)
    }
  }

  test("op_pseudonymize: masked pipeline preserves cardinality per nation", Family("quality")) {
    val rs = run("op_pseudonymize").collect()
    assert(rs.nonEmpty)
    // pseudonym distinctness: total distinct pids across nations equals the
    // distinct raw customers with orders (a collision would shrink it)
    val rawCustomers = Tables.t(spark, TestSpark.sf, "orders")
      .select(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    assert(rs.map(_.getAs[Long]("n_customers")).sum == rawCustomers)
    val rawOrders = Tables.t(spark, TestSpark.sf, "orders").count()
    assert(rs.map(_.getAs[Long]("n_orders")).sum == rawOrders)
  }

  test("q_interval_overlap_join: bucketed decomposition equals the naive theta join", Family("events")) {
    val got = run("q_interval_overlap_join")
    // recompute via the naive theta join (the oracle's shape) in Spark
    val e = Tables.t(spark, TestSpark.sf, "events")
    val act = e.groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(min(col("ts")).as("a_start"), max(col("ts")).as("a_end"))
    val bursts = e.filter(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("b_start"))
      .agg(count(lit(1)).as("nb")).filter(col("nb") >= 3)
      .select(col("b_start"), (col("b_start") + expr("INTERVAL 1 HOUR")).as("b_end"))
    val naive = act.join(bursts,
        col("a_start") < col("b_end") && col("a_end") >= col("b_start"))
      .select(col("user_id"), col("a_start"), col("b_start")).distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_overlaps"))
    val diff = got.select(col("user_id"), col("n_overlaps"))
      .exceptAll(naive).count() + naive.exceptAll(
        got.select(col("user_id"), col("n_overlaps"))).count()
    assert(diff == 0L, "bucket+filter must be exactly the theta-join result")
  }

  test("graph_modularity: degree accounting exact, Q bounded", Family("graph")) {
    val rs = run("graph_modularity").collect()
    assert(rs.nonEmpty)
    // Σ deg_sum over communities = 2m = both directions of every edge
    val eraw = Tables.t(spark, TestSpark.sf, "lineitem")
      .join(Tables.t(spark, TestSpark.sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().count()
    assert(rs.map(_.getAs[Long]("deg_sum")).sum == 2 * eraw)
    rs.foreach { r =>
      assert(2 * r.getAs[Long]("in_edges") <= r.getAs[Long]("deg_sum"),
        "internal edge endpoints are a subset of the community's degree")
    }
    val q = rs.map(_.getAs[Long]("q_term_nano")).sum
    assert(q >= -1000000000L && q <= 1000000000L,
      s"modularity ${q}e-9 out of range")
    // nano-ints have a single zero: the negative-zero hash splitter that
    // cost round 7 its one red row cannot recur on this schema
    assert(rs.forall(r => !r.schema.fields.exists(_.dataType ==
      org.apache.spark.sql.types.DoubleType)))
  }

  test("dq_dp_release: suppression threshold enforced, released counts base-5", Family("quality")) {
    val rs = run("dq_dp_release").collect()
    val raw = Tables.t(spark, TestSpark.sf, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment")).count().collect()
      .map(r => (r.getAs[Long]("c_nationkey"), r.getAs[String]("c_mktsegment")) ->
        r.getAs[Long]("count")).toMap
    rs.foreach { r =>
      val n = raw((r.getAs[Long]("nation"), r.getAs[String]("segment")))
      assert(r.getAs[Boolean]("suppressed") == (n < 10))
      if (r.getAs[Boolean]("suppressed"))
        assert(r.isNullAt(r.fieldIndex("n_released")),
          "suppressed cells must release nothing")
      else {
        val rel = r.getAs[Long]("n_released")
        assert(rel % 5 == 0, "controlled rounding to base 5")
        assert(math.abs(rel - n) <= 5, "perturbation + rounding moves a count by at most 5")
      }
    }
  }

  test("dq_orphan_report: covers every FK edge with exact child counts", Family("quality")) {
    val rs = run("dq_orphan_report").collect()
    assert(rs.length == 6)
    val li = Tables.t(spark, TestSpark.sf, "lineitem").count()
    rs.filter(_.getAs[String]("fk").startsWith("lineitem."))
      .foreach(r => assert(r.getAs[Long]("n_rows") == li,
        "left join must neither drop nor duplicate child rows"))
    rs.foreach(r => assert(r.getAs[Long]("n_orphans") >= 0L))
  }

  test("sim_hamming_topk: packing is faithful — top hit's distance recomputes", Family("similarity")) {
    val rs = run("sim_hamming_topk").collect()
    assert(rs.length == 10)
    val hs = rs.map(_.getAs[Int]("hamming"))
    assert(hs.sameElements(hs.sorted) && hs.forall(h => h >= 0 && h <= 63))
    // recompute the winner's Hamming distance driver-side from raw floats
    val top = rs.head.getAs[Long]("vec_id")
    val e = Tables.t(spark, TestSpark.sf, "embeddings")
    val Array(qv, tv) = e.filter(col("vec_id").isin(0L, top))
      .orderBy(col("vec_id")).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding"))
    val expected = (0 until 63).count(i => (qv(i) > 0) != (tv(i) > 0))
    assert(rs.head.getAs[Int]("hamming") == expected,
      s"bit-pack distance ${rs.head.getAs[Int]("hamming")} != recomputed $expected")
  }

  test("events_mttr: incidents are maximal runs of consecutive burst hours", Family("events")) {
    val rs = run("events_mttr").collect()
    assert(rs.nonEmpty)
    val hour = 3600L * 1000000L // micros
    def us(r: org.apache.spark.sql.Row, c: String) = {
      val i = r.getAs[java.time.LocalDateTime](c).toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    rs.foreach { r =>
      assert(us(r, "end_hour") - us(r, "start_hour") ==
        (r.getAs[Long]("n_hours") - 1) * hour,
        "an incident spans exactly its consecutive hours")
      assert(r.getAs[Long]("peak_errors") > 0L)
    }
    // maximality: incidents are separated by at least one calm hour
    rs.sliding(2).foreach {
      case Array(a, b) =>
        assert(us(b, "start_hour") - us(a, "end_hour") >= 2 * hour,
          "adjacent incidents would have merged into one island")
      case _ =>
    }
  }

  test("events_seasonality: buckets valid, top-3 ordered, shares bounded", Family("events")) {
    val rs = run("events_seasonality").collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      assert(r.getAs[Int]("dow") >= 0 && r.getAs[Int]("dow") <= 6)
      assert(r.getAs[Int]("hour") >= 0 && r.getAs[Int]("hour") <= 23)
      val s = r.getAs[Double]("share")
      assert(s > 0.0 && s <= 1.0)
    }
    rs.groupBy(_.getString(0)).foreach { case (t, g) =>
      val byRk = g.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("n"))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b },
        s"type $t: counts not non-increasing over rank")
    }
  }

  test("dq_benford: digits partition the positive-total orders; one chi2", Family("quality")) {
    val rs = run("dq_benford").collect()
    assert(rs.map(_.getAs[Long]("digit")).sorted.sameElements(1L to 9L),
      "exactly one row per first digit 1..9")
    val nPos = Tables.t(spark, TestSpark.sf, "orders")
      .filter(expr("CAST(round(o_totalprice * 100) AS BIGINT) > 0")).count()
    assert(rs.map(_.getAs[Long]("n_obs")).sum == nPos,
      "digit histogram partitions the audited rows")
    assert(rs.map(_.getAs[Long]("chi2_nano")).distinct.length == 1,
      "chi2 is one statistic broadcast to every row")
    val fracSum = rs.map(_.getAs[Double]("obs_frac")).sum
    assert(math.abs(fracSum - 1.0) < 1e-4, s"obs shares sum to 1, got $fracSum")
    rs.foreach { r =>
      // obs_frac/exp_frac are the 6-dp display of the same nano values, so
      // the reconstruction agrees to within the dropped 3 digits
      val approx = math.round(r.getAs[Double]("obs_frac") * 1e9) -
        math.round(r.getAs[Double]("exp_frac") * 1e9)
      assert(math.abs(r.getAs[Long]("dev_nano") - approx) < 1000L,
        "deviation column is obs - exp in nano units")
    }
  }

  test("graph_link_predict: predictions are non-edges with bounded RA terms", Family("graph")) {
    val rs = run("graph_link_predict").collect()
    assert(rs.nonEmpty)
    // recompute the co-purchase edge set independently and prove disjointness
    val items = Tables.t(spark, TestSpark.sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val edges = items.select(col("l_orderkey"), col("l_partkey").as("p1"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("p2")), "l_orderkey")
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("p1"), col("p2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    rs.foreach { r =>
      val (x, y) = (r.getAs[Long]("x"), r.getAs[Long]("y"))
      assert(x < y, "pairs canonicalized low < high")
      assert(!edges.contains((x, y)), s"($x,$y) is already an edge — not a prediction")
      val ra = r.getAs[Long]("ra_nano"); val nc = r.getAs[Long]("n_common")
      assert(nc >= 1L)
      // every common neighbor has 2 <= deg <= 64 (hub cap), so each term
      // is in [1e9 div 64, 1e9 div 2]
      assert(ra >= nc * 15625000L && ra <= nc * 500000000L,
        s"RA score $ra outside the per-term bounds for $nc common neighbors")
    }
    val scores = rs.map(_.getAs[Long]("ra_nano"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "top-20 ordered by score desc")
  }

  test("events_autocorr: one row per (type, lag), |r| <= 1, longer lag fewer pairs", Family("events")) {
    val rs = run("events_autocorr").collect()
    val byType = rs.groupBy(_.getString(0))
    byType.foreach { case (t, g) =>
      assert(g.map(_.getAs[Int]("lag_hours")).sorted.sameElements(Array(24, 168)),
        s"type $t: exactly lags 24 and 168")
      val p24 = g.find(_.getAs[Int]("lag_hours") == 24).get.getAs[Long]("n_pairs")
      val p168 = g.find(_.getAs[Int]("lag_hours") == 168).get.getAs[Long]("n_pairs")
      assert(p24 > p168, s"type $t: the 168 h shift must overlap fewer hours")
    }
    rs.foreach { r =>
      assert(r.getAs[Long]("n_pairs") > 0L)
      if (!r.isNullAt(r.fieldIndex("r"))) {
        val v = r.getAs[Double]("r")
        assert(v >= -1.0 && v <= 1.0, s"correlation $v out of range")
      }
    }
  }

  test("q_recursive_cte: hop census alternates kinds on the bipartite graph", Family("relational")) {
    val rs = run("q_recursive_cte").collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val dist = r.getAs[Int]("dist")
      assert(dist >= 0 && dist <= 2, "recursion bounded at hop < 2")
      val expected = if (dist % 2 == 0) "customer" else "supplier"
      assert(r.getAs[String]("kind") == expected,
        s"bipartite hops must alternate kinds at dist $dist")
      assert(r.getAs[Long]("n_paths") >= r.getAs[Long]("n_nodes"),
        "every node has at least one path")
    }
    val seeds = rs.find(_.getAs[Int]("dist") == 0).get
    val nSeeds = Tables.t(spark, TestSpark.sf, "customer")
      .filter(col("c_custkey") <= 10).count()
    assert(seeds.getAs[Long]("n_nodes") == nSeeds,
      "dist-0 census is exactly the seed set")
    // UNION ALL recursion enumerates PATHS: hop-2 back-edges revisit the
    // seeds, so the dist-0 bucket carries more paths than nodes
    assert(seeds.getAs[Long]("n_paths") >= seeds.getAs[Long]("n_nodes"))
  }

  test("sim_rrf_fusion: scores recompute from ranks; ranks bounded", Family("similarity")) {
    val rs = run("sim_rrf_fusion").collect()
    assert(rs.length == 10)
    rs.foreach { r =>
      val h = if (r.isNullAt(r.fieldIndex("rank_h"))) None
              else Some(r.getAs[Int]("rank_h"))
      val c = if (r.isNullAt(r.fieldIndex("rank_c"))) None
              else Some(r.getAs[Int]("rank_c"))
      assert(h.isDefined || c.isDefined, "fused row came from neither list")
      (h.toSeq ++ c.toSeq).foreach(rk => assert(rk >= 1 && rk <= 30))
      val expected = h.map(rk => 1000000000L / (60 + rk)).getOrElse(0L) +
        c.map(rk => 1000000000L / (60 + rk)).getOrElse(0L)
      assert(r.getAs[Long]("rrf_nano") == expected,
        "RRF score is exactly the sum of reciprocal-rank nano terms")
    }
    val scores = rs.map(_.getAs[Long]("rrf_nano"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("events_cuped: one-row readout with bounded variance reduction", Family("events")) {
    val rs = run("events_cuped").collect()
    assert(rs.length == 1)
    val r = rs.head
    assert(r.getAs[Long]("n_a") > 0L && r.getAs[Long]("n_b") > 0L)
    val users = Tables.t(spark, TestSpark.sf, "events")
      .select(col("user_id")).distinct().count()
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") == users,
      "arms partition the user population")
    val rho2 = r.getAs[Double]("rho2")
    assert(rho2 >= 0.0 && rho2 <= 1.0, s"rho2 $rho2 outside [0,1]")
  }

  test("events_ohlc: bars bracket open/close; bar counts partition events", Family("events")) {
    val rs = run("events_ohlc").collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val (o, h, l, c) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"))
      assert(l <= o && o <= h, s"open $o outside [low $l, high $h]")
      assert(l <= c && c <= h, s"close $c outside [low $l, high $h]")
      assert(r.getAs[Long]("n_events") > 0L)
    }
    val total = Tables.t(spark, TestSpark.sf, "events").count()
    assert(rs.map(_.getAs[Long]("n_events")).sum == total,
      "bars partition the event stream")
  }

  test("events_power: readouts recompute from the arm sums", Family("events")) {
    val r = run("events_power").collect().head
    val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
    val pp = r.getAs[Double]("pooled_rate")
    assert(pp > 0.0 && pp < 1.0)
    val mde = r.getAs[Double]("mde_abs")
    val expectMde = 2.801585 * math.sqrt(pp * (1 - pp) * (1.0 / na + 1.0 / nb))
    assert(math.abs(mde - expectMde) < 1e-5,
      s"mde $mde != recomputed $expectMde (pooled_rate is rounded, so ~)")
    val nReq = r.getAs[Long]("n_req_per_arm")
    val expectN = math.ceil(2.801585 * 2.801585 * 2.0 * pp * (1 - pp) / 0.0004)
    assert(math.abs(nReq - expectN) <= 1.0,
      s"required n $nReq != recomputed $expectN")
  }

  test("text_rake_keywords: stopword-free phrases with bounded word scores", Family("text")) {
    val rs = run("text_rake_keywords").collect()
    assert(rs.length == 15)
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "it")
    rs.foreach { r =>
      val words = r.getAs[String]("phrase").split(" ")
      assert(words.nonEmpty && words.length <= 4)
      assert(words.forall(w => !stop.contains(w)),
        s"phrase '${r.getAs[String]("phrase")}' contains a stopword")
      assert(r.getAs[Int]("n_words") == words.length)
      // each member word scores deg/freq >= 1 (deg counts its own phrase
      // lengths, each >= 1 per occurrence), so the phrase floor is n_words
      assert(r.getAs[Long]("score_nano") >= words.length * 1000000000L)
      assert(r.getAs[Long]("n_occur") >= 1L)
    }
    val scores = rs.map(_.getAs[Long]("score_nano"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("q_pit_join: validity intervals tile — every lineitem matches once", Family("relational")) {
    val rs = run("q_pit_join").collect()
    assert(rs.nonEmpty)
    val totalItems = rs.map(_.getAs[Long]("n_items")).sum
    // base = the FACT side (inner join drops the fixture's deliberate FK
    // orphans — the rows dq_orphan_report exists to count)
    val factCount = Tables.t(spark, TestSpark.sf, "lineitem")
      .join(Tables.t(spark, TestSpark.sf, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(totalItems == factCount,
      s"PIT lookup emitted $totalItems rows for $factCount facts — " +
        "every fact row must be accounted for exactly once")
    rs.foreach { r =>
      assert(r.getAs[Long]("n_tier_drifted") <= r.getAs[Long]("n_items"))
      if (r.getAs[String]("tier") == "NO-HISTORY")
        assert(r.getAs[Long]("n_tier_drifted") == 0L,
          "pre-history rows cannot drift — they matched no version")
    }
  }

  test("q_skyline_pareto: no returned point is dominated; front is maximal", Family("relational")) {
    val rs = run("q_skyline_pareto").collect()
    assert(rs.nonEmpty)
    // independent recompute of the per-size fold
    val bySize = Tables.t(spark, TestSpark.sf, "part")
      .groupBy(col("p_size"))
      .agg(min(expr("CAST(round(p_retailprice * 100) AS BIGINT)")).as("bc"))
      .collect().map(r => (r.getAs[Int]("p_size"), r.getAs[Long]("bc"))).toMap
    val sky = rs.map(r => (r.getAs[Int]("p_size"),
      math.round(r.getAs[Double]("best_price") * 100)))
    sky.foreach { case (sz, pc) =>
      assert(bySize(sz) == pc, s"size $sz best price drifted")
      val dominated = bySize.exists { case (sz2, pc2) =>
        sz2 >= sz && pc2 <= pc && (sz2 > sz || pc2 < pc)
      }
      assert(!dominated, s"($sz, $pc) is dominated — not Pareto-optimal")
    }
    // maximality: every non-returned size is dominated by some skyline point
    bySize.keys.filterNot(sky.map(_._1).toSet).foreach { sz =>
      val pc = bySize(sz)
      assert(sky.exists { case (s2, p2) =>
        s2 >= sz && p2 <= pc && (s2 > sz || p2 < pc)
      }, s"size $sz omitted but not dominated")
    }
  }

  test("op_vacuum_versions: old partition dirs physically gone, latest intact", Family("ops")) {
    val r = run("op_vacuum_versions").collect().head
    assert(r.getAs[Int]("survivor_version") == 3)
    assert(r.getAs[Long]("n_versions_after") == 1L)
    assert(r.getAs[Long]("n_rows_dropped") > r.getAs[Long]("n_rows_latest"),
      "v1+v2 together exceed the surviving snapshot")
    val root = new java.io.File(Tables.scratch("vacuum_versions"))
    val vdirs = root.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(vdirs.sameElements(Array("v=3")),
      s"expected only v=3 to survive the vacuum, found ${vdirs.mkString(",")}")
    assert(new java.io.File(root, "v=3").listFiles()
      .exists(_.getName.endsWith(".parquet")), "surviving snapshot lost its files")
  }

  test("q_synthetic_gen: content recomputes exactly from the recipe", Family("relational")) {
    val rs = run("q_synthetic_gen").collect()
    assert(rs.length == 8)
    // full driver-side regeneration of the declared recipe
    val expect = (0L until 100000L).map { id =>
      val grp = id % 97; val cents = (id * 2654435761L) % 1000000L
      (grp % 8, cents, cents * (id % 7 + 1))
    }.groupBy(_._1).map { case (b, g) =>
      b -> (g.size.toLong, g.map(_._2).sum, g.map(_._2).min, g.map(_._2).max,
        g.map(_._3).sum)
    }
    rs.foreach { r =>
      val (n, sc, mn, mx, ck) = expect(r.getAs[Long]("band"))
      assert(r.getAs[Long]("n_rows") == n)
      assert(r.getAs[Long]("sum_cents") == sc)
      assert(r.getAs[Long]("min_cents") == mn)
      assert(r.getAs[Long]("max_cents") == mx)
      assert(r.getAs[Long]("checksum") == ck)
    }
  }

  test("op_quarantine_write: the physical split enforces the rules", Family("quality")) {
    val rs = run("op_quarantine_write").collect()
    val total = rs.map(_.getAs[Long]("n_rows")).sum
    assert(total == Tables.t(spark, TestSpark.sf, "lineitem").count(),
      "clean + quarantine partitions the table")
    val root = Tables.scratch("quarantine_split")
    val clean = spark.read.parquet(s"$root/clean")
    // enforcement, proven on the readback: no duplicate keys survive...
    val maxDup = clean.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).collect()(0).getLong(0)
    assert(maxDup == 1L, "a duplicate key escaped the quarantine")
    // ...and every surviving row FK-resolves
    val orphans = clean.join(
      Tables.t(spark, TestSpark.sf, "orders").select(col("o_orderkey")).distinct(),
      col("l_orderkey") === col("o_orderkey"), "left_anti").count()
    assert(orphans == 0L, "an FK orphan escaped the quarantine")
  }

  test("q_grouping_id: level ids bit-pack identically to the grouping flags", Family("relational")) {
    val rs = run("q_grouping_id").collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val (gs, gp) = (r.getAs[Int]("g_status"), r.getAs[Int]("g_prio"))
      assert(r.getAs[Long]("level_id") == gs * 2L + gp,
        "grouping_id must be the bit-pack of the per-column flags, status = MSB")
      assert((r.getAs[String]("status") == "ALL") == (gs == 1),
        "ALL rows are exactly the aggregated-away rows")
    }
    val grand = rs.filter(_.getAs[Long]("level_id") == 3L)
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n") ==
      Tables.t(spark, TestSpark.sf, "orders").count())
  }

  test("events_stickiness: ratio bounded, MAU >= DAU, MAU monotone early", Family("events")) {
    val rs = run("events_stickiness").collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      assert(r.getAs[Long]("mau") >= r.getAs[Long]("dau"),
        "a daily active is by definition a monthly active")
      val st = r.getAs[Double]("stickiness")
      assert(st > 0.0 && st <= 1.0)
    }
    // within the first 30 observed days every prior user-day is still in
    // the trailing window, so MAU can only grow
    val maus = rs.sortBy(_.getAs[java.sql.Date]("d").toString)
      .map(_.getAs[Long]("mau")).take(30)
    assert(maus.zip(maus.tail).forall { case (a, b) => b >= a },
      "MAU must be non-decreasing inside the first window span")
  }

  test("events_attribution_linear: credit mass accounts for every purchase", Family("events")) {
    val rs = run("events_attribution_linear").collect()
    val purchases = Tables.t(spark, TestSpark.sf, "events")
      .filter(col("event_type") === "purchase").count()
    val totalCredit = rs.map(_.getAs[Long]("credit_nano")).sum
    // each purchase distributes exactly 1e9 nano-units, minus at most
    // 3 units of integer-div truncation across its 4 touch shares
    assert(totalCredit <= purchases * 1000000000L)
    assert(totalCredit >= purchases * 1000000000L - purchases * 3,
      s"credit mass $totalCredit lost more than truncation allows")
    assert(rs.map(_.getAs[String]("touch")).sorted.sameElements(
      Array("click", "direct", "error", "signup", "view")))
  }

  test("graph_sssp: driver-side 4-round Bellman-Ford reproduces the top-20", Family("graph")) {
    // rebuild the co-purchase edge list exactly as the query declares it
    val items = Tables.t(spark, TestSpark.sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val e0 = items.select(col("l_orderkey"), col("l_partkey").as("p1"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("p2")), "l_orderkey")
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("ns"))
      .filter(col("ns") >= 2)
      .select(col("p1"), col("p2"), expr("1000000L div ns").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val adj = (e0.map { case (a, b, w) => (a, b, w) } ++
      e0.map { case (a, b, w) => (b, a, w) })
    val src = adj.map(_._1).min
    var dist = Map(src -> 0L)
    for (_ <- 1 to 4) {
      val relaxed = adj.flatMap { case (s, d, w) =>
        dist.get(s).map(ds => (d, ds + w))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, ds) => (n, ds.map(_._2).min) }
    }
    val expected = dist.toSeq.sortBy { case (n, d) => (d, n) }.take(20)
    val got = run("graph_sssp").collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("dist"))).toSeq
    assert(got == expected, "distributed min-plus rounds must equal the fold")
    assert(got.head == ((src, 0L)), "the source settles at distance 0")
    assert(got.forall(_._2 >= 0L), "integer weights are positive: no negatives")
  }

  test("events_ewma: the array fold equals the sequential recurrence", Family("events")) {
    import java.sql.Timestamp
    // driver-side recompute: hourly counts per type, folded s' = (3s+x) div 4
    val hourly = Tables.t(spark, TestSpark.sf, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getAs[Timestamp](1).getTime, r.getLong(2)))
      .groupBy(_._1)
      .map { case (ty, rows) =>
        val arr = rows.sortBy(_._2).map(_._3 * 1000000L)
        def fold(xs: Seq[Long]) = xs.tail.foldLeft(xs.head)((s, x) =>
          Math.floorDiv(3L * s + x, 4L))
        val prev = if (arr.length >= 2) fold(arr.dropRight(1).toSeq)
                   else arr.head
        (ty, (arr.length, arr.last / 1000000L, fold(arr.toSeq), prev))
      }
    val rs = run("events_ewma").collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val ty = r.getAs[String]("event_type")
      val (nh, last, ew, prev) = hourly(ty)
      assert(r.getAs[Int]("n_hours") == nh)
      assert(r.getAs[Long]("last_n") == last)
      assert(r.getAs[Long]("ewma_micro") == ew,
        s"$ty: fold mismatch — the HOF aggregate must walk hours in order")
      assert(r.getAs[Long]("dev_micro") == Math.abs(last * 1000000L - prev))
      assert(r.getAs[Boolean]("spike") == (last * 1000000L > prev * 2L))
    }
  }

  test("curate_dsir: selection audit accounts for the full top-k budget", Family("pipeline")) {
    val rs = run("curate_dsir").collect()
    assert(rs.nonEmpty)
    val docs = Tables.t(spark, TestSpark.sf, "documents")
    val total = docs.count()
    val langShare = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nSel = rs.map(_.getAs[Long]("n_selected")).sum
    assert(nSel == Math.min(100L, total),
      "the audit must cover exactly the top-k selection, no more, no less")
    rs.foreach { r =>
      val lang = r.getAs[String]("lang")
      assert(langShare.contains(lang), s"selected lang $lang not in corpus")
      assert(r.getAs[Long]("sel_tokens") >= r.getAs[Long]("n_selected"),
        "every selected doc contributes at least one token")
    }
    // the target slice is lang='en': importance weighting must not
    // UNDER-represent it relative to its raw share
    val enSel = rs.find(_.getAs[String]("lang") == "en")
      .map(_.getAs[Long]("n_selected")).getOrElse(0L)
    assert(enSel * total >= langShare.getOrElse("en", 0L) * nSel,
      "DSIR must not select English below its raw-corpus share")
  }

  test("rec_item_cf: cosine recomputed from raw baskets, cap honored", Family("rec")) {
    val baskets = Tables.t(spark, TestSpark.sf, "lineitem")
      .join(Tables.t(spark, TestSpark.sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = baskets.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
      .filter(_._2.size <= 100) // the declared power-user cap
    val deg = byUser.values.toSeq.flatten.groupBy(identity)
      .map { case (i, xs) => (i, xs.size.toLong) }
    val co = byUser.values.toSeq
      .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
      .filter(_._2 >= 2) // the declared min-support threshold
    val rs = run("rec_item_cf").collect()
    assert(rs.length == 20)
    rs.foreach { r =>
      val (i1, i2) = (r.getAs[Long]("i1"), r.getAs[Long]("i2"))
      val nCo = r.getAs[Long]("n_co")
      assert(co((i1, i2)) == nCo, s"co-count mismatch for ($i1,$i2)")
      val expected = Math.round(nCo.toDouble * 1e9 /
        math.sqrt((deg(i1) * deg(i2)).toDouble))
      assert(r.getAs[Long]("cos_nano") == expected,
        s"cosine mismatch for ($i1,$i2)")
      assert(r.getAs[Long]("cos_nano") <= 1000000000L,
        "binary cosine is bounded by 1")
    }
    // the returned list is the true global top-20 under the declared order
    val top = co.toSeq.map { case ((a, b), c) =>
      (Math.round(c.toDouble * 1e9 / math.sqrt((deg(a) * deg(b)).toDouble)), a, b)
    }.sortBy { case (s, a, b) => (-s, a, b) }.take(20)
    assert(rs.map(r => (r.getAs[Long]("cos_nano"), r.getAs[Long]("i1"),
      r.getAs[Long]("i2"))).toSeq == top)
  }

  test("q_interval_coalesce: spans re-derived by a driver-side sweep", Family("relational")) {
    val ivs = Tables.t(spark, TestSpark.sf, "lineitem")
      .select(col("l_suppkey"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date")))
      .distinct().collect().map(r => (r.getLong(0), r.getInt(1)))
    val expected = ivs.groupBy(_._1).view.mapValues { xs =>
      val sorted = xs.map(_._2).sorted
      // classic sweep: extend the open span while the next 7-day interval
      // overlaps or touches it, else close and open a new one
      val spans = sorted.foldLeft(List.empty[(Int, Int)]) {
        case (Nil, st) => List((st, st + 6))
        case ((s0, e0) :: rest, st) =>
          if (st <= e0 + 1) (s0, math.max(e0, st + 6)) :: rest
          else (st, st + 6) :: (s0, e0) :: rest
      }
      val lens = spans.map { case (s0, e0) => (e0 - s0 + 1).toLong }
      (spans.length.toLong, lens.sum, lens.max)
    }.toMap
    val rs = run("q_interval_coalesce").collect()
    assert(rs.nonEmpty)
    assert(rs.length == expected.size, "every supplier with shipments reports")
    rs.foreach { r =>
      val supp = r.getAs[Long]("supp")
      val (n, cov, mx) = expected(supp)
      assert(r.getAs[Long]("n_spans") == n, s"supplier $supp span count")
      assert(r.getAs[Long]("covered_days") == cov, s"supplier $supp coverage")
      assert(r.getAs[Long]("max_span_days") == mx, s"supplier $supp max span")
      assert(cov >= n * 7, "every merged span covers at least one 7-day window")
    }
  }

  test("text_readability: bands clamp, doc mass conserved, FK recomputed", Family("text")) {
    val docs = Tables.t(spark, TestSpark.sf, "documents")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def countAll(p: String, s: String): Int = {
      val m = java.util.regex.Pattern.compile(p).matcher(s)
      var n = 0; while (m.find()) n += 1; n
    }
    val expected = docs.map { case (lang, text) =>
      val w = math.max(text.trim.split("\\s+").length, 1)
      val sct = math.max(countAll("[.!?]+", text), 1)
      val syl = countAll("[aeiouy]+", text.toLowerCase)
      val fk = 0.39 * (w.toDouble / sct) + 11.8 * (syl.toDouble / w) - 15.59
      val band = math.min(math.max(math.floor(fk).toLong, 0L), 18L)
      (lang, band, w.toLong, Math.round(fk * 1000))
    }.groupBy(t => (t._1, t._2)).view.mapValues { xs =>
      (xs.length.toLong, xs.map(_._3).sum, xs.map(_._4).sum)
    }.toMap
    val rs = run("text_readability").collect()
    assert(rs.map(_.getAs[Long]("n_docs")).sum == docs.length,
      "every document lands in exactly one band")
    rs.foreach { r =>
      val key = (r.getAs[String]("lang"), r.getAs[Long]("band"))
      assert(key._2 >= 0L && key._2 <= 18L)
      val (n, sw, sg) = expected(key)
      assert(r.getAs[Long]("n_docs") == n, s"$key doc count")
      assert(r.getAs[Long]("sum_words") == sw, s"$key word mass")
      assert(r.getAs[Long]("sum_grade_milli") == sg, s"$key grade mass")
    }
  }

  test("rec_topn: full serving pipeline recomputed driver-side", Family("rec")) {
    // re-derive the whole chain from raw baskets: capped baskets → scored
    // pairs → top-10 neighbor truncation → vote sums → owned-item
    // exclusion → per-user top-3 under the declared (score desc, item) order
    val baskets = Tables.t(spark, TestSpark.sf, "lineitem")
      .join(Tables.t(spark, TestSpark.sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = baskets.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap.filter(_._2.size <= 100)
    val deg = byUser.values.toSeq.flatten.groupBy(identity)
      .map { case (i, xs) => (i, xs.size.toLong) }
    val co = byUser.values.toSeq
      .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
      .filter(_._2 >= 2)
    val scored = co.map { case ((a, b), c) =>
      ((a, b), Math.round(c.toDouble * 1e9 / math.sqrt((deg(a) * deg(b)).toDouble)))
    }
    val nbrs = scored.toSeq.flatMap { case ((a, b), s) => Seq((a, b, s), (b, a, s)) }
    val top10 = nbrs.groupBy(_._1).view.mapValues(
      _.sortBy { case (_, j, s) => (-s, j) }.take(10)).toMap
    val expected = byUser.toSeq.flatMap { case (u, owned) =>
      val votes = owned.toSeq.flatMap(i => top10.getOrElse(i, Nil))
        .groupBy(_._2).map { case (j, xs) => (j, xs.map(_._3).sum, xs.size.toLong) }
        .filterNot { case (j, _, _) => owned(j) }
      votes.toSeq.sortBy { case (j, s, _) => (-s, j) }.take(3).zipWithIndex
        .map { case ((j, s, n), k) => (u, k + 1, j, s, n) }
    }.sortBy(t => (t._1, t._2))
    val rs = run("rec_topn").collect().map(r =>
      (r.getAs[Long]("u"), r.getAs[Int]("rnk"), r.getAs[Long]("item"),
        r.getAs[Long]("score_nano"), r.getAs[Long]("n_nbr"))).toSeq
    assert(rs.nonEmpty, "serving output must not be vacuous at sf0.001")
    assert(rs == expected, s"rec_topn: ${rs.take(5)} vs ${expected.take(5)}")
  }

  test("events_cohort_ltv: curves recomputed, monotone, conserved", Family("events")) {
    val ev = Tables.t(spark, TestSpark.sf, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate,
        r.getString(2), r.getDouble(3)))
    val cohort = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val rs = run("events_cohort_ltv").collect()
    assert(rs.nonEmpty)
    // per-cohort: cumulative revenue is nondecreasing over age and the
    // final cumulative equals the cohort's exact total purchase micros
    val byCohort = rs.groupBy(_.getDate(0).toLocalDate)
    assert(byCohort.keySet == cohort.values.toSet,
      "every first-seen day is a cohort")
    byCohort.foreach { case (c, rows) =>
      val ordered = rows.sortBy(_.getAs[Long]("age"))
      val cums = ordered.map(_.getAs[Long]("cum_rev_micro"))
      assert(cums.zip(cums.drop(1)).forall { case (a, b) => a <= b },
        s"cohort $c: cumulative revenue must be nondecreasing")
      val users = cohort.filter(_._2 == c).keySet
      val exact = ev.filter(e => users(e._1) && e._3 == "purchase")
        .map(e => Math.round(e._4 * 1e6)).sum
      assert(cums.last == exact, s"cohort $c: final cum $exact vs ${cums.last}")
      ordered.foreach { r =>
        assert(r.getAs[Long]("cohort_users") == users.size.toLong)
        assert(r.getAs[Long]("ltv_micro") ==
          r.getAs[Long]("cum_rev_micro") / users.size)
        assert(r.getAs[Long]("n_active") <= users.size.toLong)
      }
    }
    // user-day activity mass is conserved across the (cohort, age) grid
    val activity = ev.map(e => (e._1, e._2)).distinct.length.toLong
    assert(rs.map(_.getAs[Long]("n_active")).sum == activity)
  }

  test("rec_eval_hitrate: leave-last-order-out curve recomputed driver-side", Family("rec")) {
    // the full eval chain in plain collections: order-items → last-order
    // split → train-only CF build → serving → eligible-test hit detection
    val li = Tables.t(spark, TestSpark.sf, "lineitem")
      .join(Tables.t(spark, TestSpark.sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("l_partkey"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // holdout = the user's last ORDER (orders table alone — itemless orders
    // can win, leaving that user with an empty test set)
    val lastOk = Tables.t(spark, TestSpark.sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1)
      .map { case (u, os) => (u, os.maxBy(o => (o._3, o._2))._2) }
    val test = li.filter(t => lastOk(t._1) == t._2)
      .map(t => (t._1, t._3)).distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val trainAll = li.filter(t => lastOk(t._1) != t._2)
      .map(t => (t._1, t._3)).distinct
    val byUser = trainAll.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap.filter(_._2.size <= 100)
    val deg = byUser.values.toSeq.flatten.groupBy(identity)
      .map { case (i, xs) => (i, xs.size.toLong) }
    val co = byUser.values.toSeq
      .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
      .filter(_._2 >= 2)
    val scored = co.map { case ((a, b), c) =>
      ((a, b), Math.round(c.toDouble * 1e9 / math.sqrt((deg(a) * deg(b)).toDouble)))
    }
    val nbrs = scored.toSeq.flatMap { case ((a, b), s) => Seq((a, b, s), (b, a, s)) }
    val top10 = nbrs.groupBy(_._1).view.mapValues(
      _.sortBy { case (_, j, s) => (-s, j) }.take(10)).toMap
    val recs = byUser.toSeq.flatMap { case (u, owned) =>
      val votes = owned.toSeq.flatMap(i => top10.getOrElse(i, Nil))
        .groupBy(_._2).map { case (j, xs) => (j, xs.map(_._3).sum) }
        .filterNot { case (j, _) => owned(j) }
      votes.toSeq.sortBy { case (j, s) => (-s, j) }.take(3).zipWithIndex
        .map { case ((j, _), k) => (u, k + 1, j) }
    }
    // eligible test items: not owned in train; eval users need a train basket
    val elig = test.map { case (u, ts) =>
      (u, ts -- byUser.getOrElse(u, Set.empty))
    }.filter { case (u, ts) => ts.nonEmpty && byUser.contains(u) }
    val nUsers = elig.size.toLong
    val minRnk = recs.filter { case (u, _, j) =>
      elig.get(u).exists(_.contains(j))
    }.groupBy(_._1).map { case (_, xs) => xs.map(_._2).min }
    val expected = (1 to 3).map { k =>
      val h = minRnk.count(_ <= k).toLong
      (k, nUsers, h, 1000000000L * h / math.max(nUsers, 1L))
    }
    val rs = run("rec_eval_hitrate").collect().map(r =>
      (r.getAs[Int]("k"), r.getAs[Long]("n_users"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("hit_rate_nano"))).toSeq
    assert(rs.map(_._2).forall(_ > 0), "eval user set must be non-empty")
    assert(rs == expected, s"hitrate: $rs vs $expected")
  }

  test("events_feature_backfill: trailing windows recomputed, leak-free", Family("events")) {
    val ev = Tables.t(spark, TestSpark.sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), Math.round(r.getDouble(4) * 1e6)))
    val byUser = ev.groupBy(_._2)
    val expected = ev.filter(_._3 == "purchase").map { e =>
      val past7 = byUser(e._2).filter(x => x._4 >= e._4 - 604800 && x._4 <= e._4 - 1)
      val past1 = byUser(e._2).filter(x => x._4 >= e._4 - 86400 && x._4 <= e._4 - 1)
      (e._1, e._2, e._4, e._5, past7.length.toLong,
        past7.count(_._3 == "purchase").toLong,
        past7.filter(_._3 == "purchase").map(_._5).sum,
        past1.length.toLong)
    }.sortBy(t => (t._2, t._3, t._1)).toSeq
    val rs = run("events_feature_backfill").collect().map(r =>
      (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("sec"), r.getAs[Long]("v_micro"),
        r.getAs[Long]("n_events_7d"), r.getAs[Long]("n_purch_7d"),
        r.getAs[Long]("spend_7d_micro"), r.getAs[Long]("n_events_1d"))).toSeq
    assert(rs.nonEmpty)
    assert(rs == expected, s"backfill: ${rs.take(2)} vs ${expected.take(2)}")
    // the leak-free property directly: no feature row counts its own event
    assert(rs.forall(r => r._5 >= r._6), "purchases within events")
  }

  test("events_markov_stationary: four power rounds replayed driver-side", Family("events")) {
    val ev = Tables.t(spark, TestSpark.sf, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(cast(ts AS timestamp))"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    val cat = ev.map(_._2).distinct.sorted
    val pairs = ev.groupBy(_._1).values.flatMap { es =>
      val ord = es.sortBy(e => (e._3, e._4)).map(_._2)
      ord.zip(ord.drop(1))
    }.toSeq
    val cnt = pairs.groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
    val rowSum = cnt.groupBy(_._1._1).map { case (a, m) => (a, m.values.sum) }
    val p = cnt.map { case ((a, b), c) => ((a, b), 1000000000L * c / rowSum(a)) }
    var pi = cat.map(t => (t, 1000000000L / cat.size)).toMap
    for (_ <- 1 to 4) {
      pi = p.toSeq.flatMap { case ((a, b), pn) =>
        pi.get(a).map(v => (b, v * pn / 1000000000L))
      }.groupBy(_._1).map { case (b, xs) => (b, xs.map(_._2).sum) }
    }
    val expected = cat.map(t => (t, pi.getOrElse(t, 0L))).toSeq
    val rs = run("events_markov_stationary").collect().map(r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("pi_nano"))).toSeq
    assert(rs.nonEmpty)
    assert(rs == expected, s"stationary: $rs vs $expected")
    // mass only shrinks (integer truncation + dangling leak), never grows
    assert(rs.map(_._2).sum <= 1000000000L)
  }

  test("rec_metrics: coverage and novelty recomputed driver-side", Family("rec")) {
    val baskets = Tables.t(spark, TestSpark.sf, "lineitem")
      .join(Tables.t(spark, TestSpark.sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = baskets.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap.filter(_._2.size <= 100)
    val deg = byUser.values.toSeq.flatten.groupBy(identity)
      .map { case (i, xs) => (i, xs.size.toLong) }
    val co = byUser.values.toSeq
      .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
      .filter(_._2 >= 2)
    val scored = co.map { case ((a, b), c) =>
      ((a, b), Math.round(c.toDouble * 1e9 / math.sqrt((deg(a) * deg(b)).toDouble)))
    }
    val nbrs = scored.toSeq.flatMap { case ((a, b), s) => Seq((a, b, s), (b, a, s)) }
    val top10 = nbrs.groupBy(_._1).view.mapValues(
      _.sortBy { case (_, j, s) => (-s, j) }.take(10)).toMap
    val recs = byUser.toSeq.flatMap { case (u, owned) =>
      val votes = owned.toSeq.flatMap(i => top10.getOrElse(i, Nil))
        .groupBy(_._2).map { case (j, xs) => (j, xs.map(_._3).sum) }
        .filterNot { case (j, _) => owned(j) }
      votes.toSeq.sortBy { case (j, s) => (-s, j) }.take(3).zipWithIndex
        .map { case ((j, _), k) => (u, k + 1, j) }
    }
    val nUsers = byUser.size.toLong
    val nCatalog = deg.size.toLong
    val info = deg.map { case (i, d) =>
      (i, Math.round(math.log(nUsers.toDouble / d) * 1e9))
    }
    val expected = (1 to 3).map { k =>
      val rows = recs.filter(_._2 <= k)
      val items = rows.map(_._3).distinct
      val infoSum = rows.map(r => info(r._3)).sum
      (k, rows.size.toLong, items.size.toLong,
        1000000000L * items.size / nCatalog,
        infoSum / math.max(rows.size.toLong, 1L))
    }
    val rs = run("rec_metrics").collect().map(r =>
      (r.getAs[Int]("k"), r.getAs[Long]("n_rec_rows"),
        r.getAs[Long]("n_distinct_items"), r.getAs[Long]("coverage_nano"),
        r.getAs[Long]("avg_novelty_nano"))).toSeq
    assert(rs.map(_._2).forall(_ > 0))
    assert(rs == expected, s"metrics: $rs vs $expected")
    // coverage can only grow with k; novelty stays in (0, ln(U)]
    assert(rs.map(_._4).sliding(2).forall(w => w.head <= w.last))
    assert(rs.forall(r => r._5 > 0 &&
      r._5 <= Math.round(math.log(nUsers.toDouble) * 1e9)))
  }

  test("events_label_churn: boundary semantics recomputed, leak-free", Family("events")) {
    val cut = java.time.LocalDateTime.parse("2024-01-15T00:00:00")
    val featLo = java.time.LocalDateTime.parse("2024-01-08T00:00:00")
    val labHi = java.time.LocalDateTime.parse("2024-01-29T00:00:00")
    val ev = Tables.t(spark, TestSpark.sf, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1), r.getString(2),
        Math.round(r.getDouble(3) * 1e6)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val hist = es.filter(_._2.isBefore(cut))
      if (hist.isEmpty) None
      else {
        val feat = es.filter(e => !e._2.isBefore(featLo) && e._2.isBefore(cut))
        val lab = es.count(e => !e._2.isBefore(cut) && e._2.isBefore(labHi) &&
          e._3 == "purchase")
        Some((u, feat.length.toLong,
          feat.count(_._3 == "purchase").toLong,
          feat.filter(_._3 == "purchase").map(_._4).sum,
          lab.toLong, lab < 5))
      }
    }.sortBy(_._1)
    val rs = run("events_label_churn").collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("n_events_7d"),
        r.getAs[Long]("n_purch_7d"), r.getAs[Long]("spend_7d_micro"),
        r.getAs[Long]("n_purch_label"), r.getAs[Boolean]("at_risk"))).toSeq
    assert(rs.nonEmpty)
    assert(rs == expected, s"churn: ${rs.take(3)} vs ${expected.take(3)}")
    // the fixture must exercise BOTH label classes or the query is vacuous
    assert(rs.exists(_._6), "expected at least one at-risk user")
    assert(rs.exists(!_._6), "expected at least one retained user")
  }

  test("dq_skew_report: key-count stats recomputed driver-side", Family("quality")) {
    def pct(xs: Seq[Long], p: Double): Double = {
      val s = xs.sorted.map(_.toDouble)
      // Spark Percentile.getPercentile's exact IEEE sequence:
      // lower * (1 - d) + higher * d
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) * (1.0 - (pos - lo)) + s(hi) * (pos - lo)
    }
    def statsOf(counts: Seq[Long], name: String) = {
      // percentiles quantize to nano longs at the emit boundary; the
      // ratio is then a function of the emitted longs (ADVICE r7 #3)
      val medN = Math.round(pct(counts, 0.5) * 1e9)
      val p99N = Math.round(pct(counts, 0.99) * 1e9)
      (name, counts.size.toLong, counts.sum, counts.max,
        1000000000L * counts.max / counts.sum, medN, p99N,
        Math.round(p99N.toDouble / medN * 1e9))
    }
    val li = Tables.t(spark, TestSpark.sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ordKeys = Tables.t(spark, TestSpark.sf, "orders")
      .select(col("o_custkey")).collect().map(_.getLong(0))
    val evKeys = Tables.t(spark, TestSpark.sf, "events")
      .select(col("user_id")).collect().map(_.getLong(0))
    def cnt(xs: Seq[Long]) =
      xs.groupBy(identity).values.map(_.size.toLong).toSeq
    val expected = Seq(
      statsOf(cnt(evKeys.toSeq), "events.user_id"),
      statsOf(cnt(li.map(_._1).toSeq), "lineitem.l_orderkey"),
      statsOf(cnt(li.map(_._2).toSeq), "lineitem.l_partkey"),
      statsOf(cnt(li.map(_._3).toSeq), "lineitem.l_suppkey"),
      statsOf(cnt(ordKeys.toSeq), "orders.o_custkey"))
    val rs = run("dq_skew_report").collect().map(r =>
      (r.getAs[String]("key_col"), r.getAs[Long]("n_keys"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("max_n"),
        r.getAs[Long]("max_share_nano"), r.getAs[Long]("med_n_nano"),
        r.getAs[Long]("p99_n_nano"), r.getAs[Long]("p99_over_med_nano"))).toSeq
    assert(rs == expected, s"skew: ${rs.take(2)} vs ${expected.take(2)}")
  }

  test("text_watermark_detect: z recomputed via independent md5; human text unflagged", Family("text")) {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val texts = Tables.t(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = texts.flatMap { case (id, text) =>
      val ws = text.trim.split("\\s+")
      val prs = ws.zip(ws.drop(1))
      if (prs.length < 20) None
      else {
        val g = prs.count { case (a, b) =>
          java.lang.Long.parseLong(md5hex(s"$a $b").take(8), 16) % 2 == 0
        }
        val n = prs.length
        val z = Math.round((2.0 * g - n) / math.sqrt(n.toDouble) * 1000)
        Some((id, n.toLong, g.toLong, z, z >= 4000))
      }
    }.sortBy(_._1).toSeq
    val rs = run("text_watermark_detect").collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_scored"),
        r.getAs[Long]("n_green"), r.getAs[Long]("z_milli"),
        r.getAs[Boolean]("flagged"))).toSeq
    assert(rs.nonEmpty)
    assert(rs == expected, s"watermark: ${rs.take(3)} vs ${expected.take(3)}")
    // human (non-watermarked) text: no flags, and the z sample behaves like
    // roughly-centered noise, not a biased detector
    assert(rs.forall(!_._5), "human text must not be flagged")
    val meanZ = rs.map(_._4).sum.toDouble / rs.size / 1000.0
    assert(math.abs(meanZ) < 0.5, s"z mean should be near 0, got $meanZ")
  }

  test("incrementalComponents: crafted merges equal from-scratch labeling", Family("dedup")) {
    import spark.implicits._
    // old graph: chain {1-2-3} labeled 1, pair {10,11} labeled 10,
    // untouched pair {20,21} labeled 20; new edges merge 3-10 (two old
    // components), attach brand-new node 30 to 11, and introduce an
    // entirely new pair {40,41}
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id1", "id2")
    val oldNodes = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("n")
    val oldLabels = graft.operators.DedupClusters
      .connectedComponents(oldNodes, "n", oldPairs)
    val newPairs = Seq((3L, 10L), (30L, 11L), (40L, 41L)).toDF("id1", "id2")
    val allNodes = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 30L, 40L, 41L).toDF("n")
    val inc = graft.operators.DedupClusters
      .incrementalComponents(allNodes, oldLabels, newPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val full = graft.operators.DedupClusters
      .connectedComponents(allNodes, "n",
        oldPairs.union(newPairs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(inc == full, s"incremental $inc vs full $full")
    assert(inc == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 1L), (11L, 1L),
      (20L, 20L), (21L, 20L), (30L, 1L), (40L, 40L), (41L, 40L)))
  }

  test("events_holt: packed level/trend fold replayed driver-side", Family("events")) {
    val ev = Tables.t(spark, TestSpark.sf, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0),
        r.getAs[java.sql.Timestamp](1), r.getLong(2)))
    val expected = ev.groupBy(_._1).toSeq.map { case (typ, rows) =>
      val series = rows.sortBy(_._2.getTime).map(_._3 * 1000L)
      var l = series.head
      var b = 0L
      series.tail.foreach { x =>
        val l2 = (x + l + b) >> 1
        b = (l2 - l + b) >> 1
        l = l2
      }
      (typ, series.length, series.last / 1000L, l, b, l + b)
    }.sortBy(_._1)
    val rs = run("events_holt").collect().map(r =>
      (r.getAs[String]("event_type"), r.getAs[Int]("n_hours"),
        r.getAs[Long]("last_n"), r.getAs[Long]("level_milli"),
        r.getAs[Long]("trend_milli"), r.getAs[Long]("forecast_milli"))).toSeq
    assert(rs.nonEmpty)
    assert(rs == expected, s"holt: ${rs.take(2)} vs ${expected.take(2)}")
  }

  test("events_forecast_backtest: walk-forward errors replayed driver-side", Family("events")) {
    val ev = Tables.t(spark, TestSpark.sf, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0),
        r.getAs[java.sql.Timestamp](1), r.getLong(2)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (typ, rows) =>
      val xs = rows.sortBy(_._2.getTime).map(_._3 * 1000L)
      if (xs.length < 9) None
      else {
        def holtPred(prefix: Seq[Long]): Long = {
          var l = prefix.head; var b = 0L
          prefix.tail.foreach { x =>
            val l2 = (x + l + b) >> 1; b = (l2 - l + b) >> 1; l = l2
          }
          l + b
        }
        val ts = 9 to xs.length
        val es = ts.map(t => math.abs(xs(t - 1) -
          (xs(t - 5) + xs(t - 4) + xs(t - 3) + xs(t - 2)) / 4))
        val eh = ts.map(t => math.abs(xs(t - 1) - holtPred(xs.take(t - 1))))
        val (ms, mh) = (es.sum / es.size, eh.sum / eh.size)
        Some((typ, xs.length, ts.size.toLong, ms, mh, mh < ms))
      }
    }.sortBy(_._1)
    val rs = run("events_forecast_backtest").collect().map(r =>
      (r.getAs[String]("event_type"), r.getAs[Int]("n_hours"),
        r.getAs[Long]("n_eval"), r.getAs[Long]("mae_sma_milli"),
        r.getAs[Long]("mae_holt_milli"), r.getAs[Boolean]("holt_better"))).toSeq
    assert(rs.nonEmpty)
    assert(rs == expected, s"backtest: ${rs.take(2)} vs ${expected.take(2)}")
  }

  test("op_analyze_stats: catalog rowCounts equal recomputed counts", Family("ops")) {
    val rs = run("op_analyze_stats").collect().map(r =>
      (r.getAs[String]("table_name"), r.getAs[Long]("n_rows_stats"))).toMap
    val truth = Seq("documents", "lineitem", "orders").map(tn =>
      (tn, Tables.t(spark, TestSpark.sf, tn).count())).toMap
    assert(rs == truth, s"stats $rs vs counts $truth")
    // the audit op must not leak its scratch idents into the session
    // catalog (ADVICE r7 #4: they're dropped in a finally after read-back)
    assert(spark.catalog.listTables().collect()
      .forall(t => !t.name.startsWith("graft_stats_")),
      "op_analyze_stats leaked graft_stats_* catalog tables")
  }

  test("events_did: four-cell panel recomputed with zero-activity periods kept", Family("events")) {
    val cut = java.time.LocalDateTime.parse("2024-01-15T00:00:00")
    val ev = Tables.t(spark, TestSpark.sf, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0),
        r.getAs[java.time.LocalDateTime](1), r.getString(2),
        Math.round(r.getDouble(3) * 1e6)))
    val users = ev.map(_._1).distinct
    def mean(v: Long, p: Int): Long = {
      val cell = users.filter(_ % 2 == v)
      val tot = ev.filter(e => e._3 == "purchase" && (e._1 % 2) == v &&
        (if (p == 1) !e._2.isBefore(cut) else e._2.isBefore(cut))).map(_._4).sum
      tot / cell.length // per user-period; each user contributes one period row
    }
    val (c0, c1, t0, t1) = (mean(0, 0), mean(0, 1), mean(1, 0), mean(1, 1))
    val r = run("events_did").collect().head
    assert(r.getAs[Long]("mean_ctrl_pre_micro") == c0)
    assert(r.getAs[Long]("mean_ctrl_post_micro") == c1)
    assert(r.getAs[Long]("mean_treat_pre_micro") == t0)
    assert(r.getAs[Long]("mean_treat_post_micro") == t1)
    assert(r.getAs[Long]("did_micro") == (t1 - t0) - (c1 - c0))
  }

  test("eval_bootstrap_ci: replicas recomputed via independent md5; CI brackets p-hat", Family("text")) {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def pois(h: Long): Long =
      if (h <= 1580030168L) 0L else if (h <= 3160060337L) 1L
      else if (h <= 3950075421L) 2L else if (h <= 4213413783L) 3L
      else if (h <= 4279248373L) 4L else 5L
    val docs = Tables.t(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        if (r.getString(1).trim.split("\\s+").length >= 100) 1L else 0L))
    val accs = (1 to 100).map { b =>
      var num = 0L; var den = 0L
      docs.foreach { case (id, pass) =>
        val w = pois(java.lang.Long.parseLong(md5hex(s"$b:$id").take(8), 16))
        num += w * pass; den += w
      }
      1000000000L * num / math.max(den, 1L)
    }.sorted
    val pHat = 1000000000L * docs.map(_._2).sum / docs.length
    val r = run("eval_bootstrap_ci").collect().head
    assert(r.getAs[Long]("n_docs") == docs.length.toLong)
    assert(r.getAs[Long]("p_hat_nano") == pHat)
    assert(r.getAs[Long]("ci_lo_nano") == accs(2))
    assert(r.getAs[Long]("ci_hi_nano") == accs(97))
    assert(r.getAs[Long]("ci_lo_nano") <= pHat && pHat <= r.getAs[Long]("ci_hi_nano"),
      "the 95% interval should bracket the point estimate on this fixture")
  }

  test("dq_load_anomaly: median/MAD baseline recomputed; z honors the guard", Family("quality")) {
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val pos = p * (s.length - 1); val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) * (1.0 - (pos - lo)) + s(hi) * (pos - lo)
    }
    val daily = Tables.t(spark, TestSpark.sf, "events")
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val med = pct(daily.map(_._2.toDouble).toSeq, 0.5)
    val mad = pct(daily.map(x => math.abs(x._2.toDouble - med)).toSeq, 0.5)
    val expected = daily.sortBy(_._1.toString).map { case (d, n) =>
      val z = Math.round(math.abs(n.toDouble - med) / math.max(mad, 1e-9) * 1000)
      (d, n, med, mad, z, z > 3500)
    }.toSeq
    val rs = run("dq_load_anomaly").collect().map(r =>
      (r.getDate(0).toLocalDate, r.getAs[Long]("n"), r.getAs[Double]("med_n"),
        r.getAs[Double]("mad_n"), r.getAs[Long]("z_milli"),
        r.getAs[Boolean]("flagged"))).toSeq
    assert(rs.nonEmpty)
    assert(rs == expected, s"anomaly: ${rs.take(2)} vs ${expected.take(2)}")
  }

  test("embed_dim_stats: micro-sum moments recomputed driver-side", Family("similarity")) {
    val vecs = Tables.t(spark, TestSpark.sf, "embeddings")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(v => Math.round(v.toDouble * 1e6)))
    val dims = vecs.head.length
    val expected = (0 until dims).map { d =>
      val xs = vecs.map(_(d))
      val n = xs.length.toLong
      val (s1, s2) = (xs.sum, xs.map(x => x * x).sum)
      // (Σx² − (Σx)²/n)/n: intermediates linear in n for zero-mean data
      // (ADVICE r7 #2 — the old n·Σx² form wrapped past n ≈ 3e3)
      val v = (s2 - (s1 * s1) / n) / n
      (d, n, s1 / n, v, xs.map(math.abs).max, v < 100000000L, v > 100000000000L)
    }
    val rs = run("embed_dim_stats").collect().map(r =>
      (r.getAs[Int]("dim"), r.getAs[Long]("n"), r.getAs[Long]("mean_micro"),
        r.getAs[Long]("var_micro2"), r.getAs[Long]("max_abs_micro"),
        r.getAs[Boolean]("dead"), r.getAs[Boolean]("dominant"))).toSeq
    assert(rs.size == dims)
    assert(rs == expected, s"dims: ${rs.take(2)} vs ${expected.take(2)}")
    // this fixture's embeddings are healthy: no dead, no dominant axes
    assert(rs.forall(r => !r._6 && !r._7))
  }

  test("graph_assortativity: integer sums and ratio recomputed driver-side", Family("graph")) {
    val pairs = Tables.t(spark, TestSpark.sf, "lineitem")
      .join(Tables.t(spark, TestSpark.sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey") + 1000000000L)
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val jk = edges.map { case (a, b) => (deg(a), deg(b)) }
    val m = jk.length.toLong
    val sjk = jk.map { case (j, k) => j * k }.sum
    val ss = jk.map { case (j, k) => j + k }.sum
    val sq = jk.map { case (j, k) => j * j + k * k }.sum
    // double-domain per factor, same IEEE sequence as both engines (the
    // Long products 4·M·Σjk wrap past sf≈0.3 — ADVICE r7 #1)
    val r0 = Math.round((4.0 * m * sjk - ss.toDouble * ss)
      / (2.0 * m * sq - ss.toDouble * ss) * 1e9)
    val r = run("graph_assortativity").collect().head
    assert(r.getAs[Long]("m_edges") == m)
    assert(r.getAs[Long]("s_jk") == sjk)
    assert(r.getAs[Long]("s_sum") == ss)
    assert(r.getAs[Long]("s_sq") == sq)
    assert(r.getAs[Long]("r_nano") == r0)
    // a bipartite customer-supplier graph should read disassortative
    assert(r.getAs[Long]("r_nano") < 0, "expected hub-and-spoke r < 0")
  }

  test("corpus_pmi: scores recomputed from raw counts, threshold honored", Family("text")) {
    val texts = Tables.t(spark, TestSpark.sf, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val toks = texts.map(_.trim.split("\\s+").toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val big = toks.flatMap(ws => ws.zip(ws.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nw = uni.values.sum
    val nb = toks.map(ws => math.max(ws.size - 1, 0)).sum.toLong
    val expected = big.filter(_._2 >= 5L).toSeq.map { case ((w1, w2), c12) =>
      val pmi = Math.round(math.log(
        (c12.toDouble * nw * nw) / (uni(w1).toDouble * uni(w2) * nb)) * 1e9)
      (s"$w1 $w2", c12, pmi)
    }.sortBy { case (bg, _, s) => (-s, bg) }.take(20)
    val rs = run("corpus_pmi").collect().map(r =>
      (r.getAs[String]("bigram"), r.getAs[Long]("c12"),
        r.getAs[Long]("pmi_nano"))).toSeq
    assert(rs.nonEmpty)
    assert(rs == expected, s"pmi: ${rs.take(3)} vs ${expected.take(3)}")
  }
}
