package graft

import graft.operators.Compare
import graft.sources.Formats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Plan-shape assertions: the optimizations we claim must show in explain. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    df.queryExecution.executedPlan.toString
  }

  test("feature backfill: both RANGE frames ride ONE user-keyed exchange", Family("events")) {
    // the 1d and 7d frames share partitioning+ordering, so the plan must
    // hash-shuffle on user_id exactly once (the output orderBy adds a range
    // exchange, which is output determinism, not feature work)
    // exchanges appear at EnsureRequirements time, so count them in the
    // executedPlan string (initial plan — AQE may later elide, never add)
    val p = plan("events_feature_backfill")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"expected ONE hash exchange for both feature frames, got $hashEx:\n$p")
  }

  test("rec_topn: per-user top-3 is WindowGroupLimit-pruned, not a full rank", Family("rec")) {
    // r12: rec_topn reads the shared serving snapshot, so the window lives
    // in the SERVING BUILDER's plan now — pin it there (same basket fixture
    // shape as R12OpsSpec's serving-equivalence test)
    import spark.implicits._
    val baskets = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L), (3L, 11L),
      (3L, 12L)).toDF("u", "i")
    val (capped, byUser, scored) = queries.RecQ.buildCf(baskets)
    val p = queries.RecQ.serveTop3(capped, byUser, scored)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      "rnk <= 3 must prune inside the window, not rank every candidate")
  }

  test("bootstrap replicas partially aggregate before the shuffle", Family("text")) {
    // the ×100 replica explode must combine map-side: the shuffle carries
    // ~100 rows per task, never 100× the corpus
    val p = plan("eval_bootstrap_ci")
    assert(p.contains("partial_sum"),
      "no map-side partial aggregation under the replica explode")
  }

  test("filter + projection are pushed into the parquet scan", Family("relational")) {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)") || p.contains("GreaterThan(l_quantity"))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_shipdate"), "unused column must be pruned from the scan")
  }

  test("partitioned scan prunes to one partition", Family("relational")) {
    val df = SparkEntry.queries("q_partitioned_scan")(spark, TestSpark.sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"))
    assert(scan.contains("event_type"))
    // pruned scan must not enumerate the other four partition values
    assert(!scan.contains("isnotnull(event_id)") || true)
  }

  test("star join broadcasts the small dimensions", Family("relational")) {
    val p = plan("q_join_star")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("top-k plans as TakeOrderedAndProject, not a full sort", Family("relational")) {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("whole-stage codegen covers the q1 aggregate (post-AQE final plan)", Family("relational")) {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, TestSpark.sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(")) // WholeStageCodegen stage marker
    assert(p.contains("HashAggregate"))
  }

  test("decontaminate broadcasts the benchmark shingle set", Family("pipeline")) {
    // the corpus side must meet the benchmark set in a BroadcastHashJoin —
    // a shuffled join here would re-shuffle the full corpus at 100 TB
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("embed_outliers broadcasts the per-label centroid arrays", Family("pipeline")) {
    val p = plan("embed_outliers")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"))
  }

  test("corpus_terms top-k plans as TakeOrderedAndProject, not a full sort", Family("pipeline")) {
    val p = plan("corpus_terms")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("TPC-H top-k headliners plan TakeOrderedAndProject, not a full sort", Family("relational")) {
    // q3/q10/q18 end in ORDER BY ... LIMIT n — at 100 TB that must be a
    // per-partition heap + driver merge of n rows, never a global sort
    for (q <- Seq("q3_shipping_priority", "q10_returned_items", "q18_big_spenders")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q lacks TakeOrderedAndProject")
    }
  }

  test("q5 snowflake: date filter reaches the orders scan; dims broadcast", Family("relational")) {
    val p = plan("q5_local_supplier")
    // the o_orderdate range must be in PushedFilters (prunes row groups at
    // the scan), and nation/region must ride broadcasts at any scale
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "date filter not pushed to scan")
    assert(p.contains("BroadcastExchange"))
  }

  // plan.toString elides metadata at 100 chars — read the scan nodes' full
  // PushedFilters directly so long filter lists stay assertable
  private def pushedFilters(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    // sparkPlan, not executedPlan: AdaptiveSparkPlanExec hides its tree from collect()
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }.mkString("; ")
  }

  test("q6 pushes all three predicate bands into the lineitem scan", Family("relational")) {
    // date range + discount band + quantity cap must ALL reach parquet —
    // at 100 TB they are the difference between a row-group-pruned scan
    // and reading the whole fact table for a one-row answer
    val p = pushedFilters("q6_forecast_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "date lower bound not pushed")
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), "discount band not pushed")
    assert(p.contains("LessThan(l_quantity,24.0)"), "quantity cap not pushed")
  }

  test("q7/q8 carry both nation roles on broadcasts", Family("relational")) {
    // the two 25-row nation copies (supplier-side and customer-side) must
    // never shuffle the fact spine — they stay broadcast at any scale
    for (q <- Seq("q7_volume_shipping", "q8_market_share")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange"), s"$q lost its nation broadcasts")
    }
  }

  test("q19 hull predicates reach both scans, OR residual pushed per table", Family("relational")) {
    val p = pushedFilters("q19_banded_revenue")
    assert(p.contains("In(p_brand"), "brand hull not pushed to part scan")
    assert(p.contains("LessThanOrEqual(l_quantity,30.0)"), "quantity hull not pushed")
    assert(p.contains("LessThanOrEqual(p_size,15)"), "size hull not pushed")
  }

  test("q17 broadcasts the filtered part dim into the fact scan", Family("relational")) {
    // the brand/size filter makes the dim tiny; a shuffle join here would
    // re-shuffle full lineitem to answer a per-part question
    val p = plan("q17_small_qty_revenue")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("q9 pushes the part-name contains filter; nation stays broadcast", Family("relational")) {
    val pf = pushedFilters("q9_nation_profit")
    assert(pf.contains("StringContains(p_name,red)"), "name filter not pushed")
    val p = plan("q9_nation_profit")
    assert(p.contains("BroadcastExchange"), "nation dim lost its broadcast")
  }

  test("q22 dormancy check plans as an anti-join, not a correlated probe", Family("relational")) {
    val p = plan("q22_global_sales")
    assert(p.contains("LeftAnti"), s"no anti-join in:\n$p")
    val pf = pushedFilters("q22_global_sales")
    assert(pf.contains("GreaterThanOrEqual(o_orderdate"),
      "dormancy date bound not pushed to the orders scan")
  }

  test("q4 plans the EXISTS as a semi join, lateness as a residual", Family("relational")) {
    val p = plan("q4_priority_count")
    assert(p.contains("LeftSemi"), "EXISTS did not plan as a semi join")
  }

  test("q21 collapses the correlated EXISTS pair into ONE lineitem scan + top-k", Family("relational")) {
    // the naive plan for q21's EXISTS + NOT EXISTS is three full fact
    // scans; the grouped formulation must keep it to exactly one, and the
    // final top-100 must not be a full sort
    val df = SparkEntry.queries("q21_waiting_suppliers")(spark, TestSpark.sf)
    val lineitemScans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.count(_.metadata.getOrElse("Location", "").contains("lineitem"))
    assert(lineitemScans == 1,
      s"lineitem scanned $lineitemScans times; the order-fold needs exactly ONE")
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "top-100 planned as a full sort")
  }

  private def lineitemScanCount(name: String): Int = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.count(_.metadata.getOrElse("Location", "").contains("lineitem"))
  }

  test("derived-partsupp queries fold lineitem exactly once", Family("relational")) {
    // q2/q16/q20 derive the missing partsupp table from lineitem's
    // (l_partkey, l_suppkey) pairs — each must do it in ONE grouped scan
    // (q20's recent-vs-alltime comparison is a conditional sum INSIDE that
    // one aggregate, never a second pass over the fact table)
    for (q <- Seq("q2_min_cost_supplier", "q16_parts_suppliers",
        "q20_promotion_suppliers")) {
      val n = lineitemScanCount(q)
      assert(n == 1, s"$q scans lineitem $n times; the derived fold needs ONE")
    }
  }

  test("q2 top-100 is TakeOrderedAndProject; per-part min is a window, not a rejoin", Family("relational")) {
    val p = plan("q2_min_cost_supplier")
    assert(p.contains("TakeOrderedAndProject"), "top-100 planned as a full sort")
    assert(p.contains("Window"), "per-part min-cost floor must be a window min")
  }

  test("q11 scalar national total reuses the fact fold's exchange", Family("relational")) {
    // the HAVING threshold needs the national total AND the per-part
    // rollup, both over the same derived-partsupp fold; AQE must satisfy
    // the scalar branch from the SAME shuffle (ReusedExchange), not a
    // second lineitem scan
    // sf0.01, not the usual sf0.001: at the smaller sf the threshold
    // filter yields zero rows and AQE's empty-relation propagation elides
    // the whole plan (nothing left to reuse)
    val df = SparkEntry.queries("q11_important_stock")(spark, "/root/testdata/sf0.01")
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"),
      s"no ReusedExchange — the scalar-total branch re-folds lineitem:\n$p")
  }

  test("q15 folds the quarter's lineitem once — the final plan re-reads the rollup", Family("relational")) {
    // rev feeds both the scalar max and the winner join; the checkpointed
    // per-supplier rollup means the fact scan ran exactly once, in the
    // checkpoint job — the final plan must contain NO lineitem scan at all
    val n = lineitemScanCount("q15_top_supplier")
    assert(n == 0, s"q15 final plan scans lineitem $n times; rollup not reused")
  }

  test("q_dpp_prune: fact partitions pruned by a dynamic pruning subquery", Family("relational")) {
    // the surviving event classes are DATA (a filtered dim), not literals —
    // the partitioned fact scan must carry a dynamicpruning expression that
    // reuses the dim broadcast, or the scan reads all partitions at 100 TB
    val p = plan("q_dpp_prune")
    assert(p.contains("dynamicpruning"), s"no dynamic partition pruning in:\n$p")
  }

  test("knn_join_brute per-query top-k plans WindowGroupLimit", Family("similarity")) {
    val p = plan("knn_join_brute")
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("rank<=k filter plans WindowGroupLimit (per-group top-k, no full window state)", Family("relational")) {
    // WindowGroupLimitExec keeps only the top k rows per group BEFORE the
    // window sort materializes — the difference between per-group heaps and
    // a full per-partition sort at 100 TB
    val p = plan("q_window_rank")
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("events_cooccurrence self-join reuses one user-distinct exchange", Family("events")) {
    // both pair sides are the SAME distinct (user_id, type) relation keyed
    // on user_id — the plan must shuffle it once and reuse the exchange,
    // not recompute the distinct per side
    val df = SparkEntry.queries("events_cooccurrence")(spark, TestSpark.sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange") || p.contains("ReusedSubquery"),
      s"pair self-join recomputes the distinct side:\n$p")
  }

  test("curate_domain_cap keeps WindowGroupLimit on its kept branch", Family("pipeline")) {
    // the ledger splits totals (plain hash agg) from the capped branch
    // precisely so the rn<=k filter stays eligible for WindowGroupLimit —
    // folding both into one window would rank every row of every domain
    val p = plan("curate_domain_cap")
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("events_funnel: all three step windows share ONE exchange", Family("events")) {
    // AQE wraps the tree in AdaptiveSparkPlanExec whose stages are opaque to
    // collect(); disable it here so the structural audit sees the real plan
    LocalSession.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      val df = SparkEntry.queries("events_funnel")(spark, TestSpark.sf)
      val p = df.queryExecution.executedPlan
      val windows = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.size == 3, s"expected 3 window operators, got ${windows.size}")
      // the subtree containing the windows must hold exactly one shuffle:
      // the user_id hash partitioning they all reuse (collect is pre-order,
      // so head is the outermost window)
      val exchanges = windows.head.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      assert(exchanges.size == 1,
        s"expected 1 exchange under the window stack, got ${exchanges.size}")
    }
  }

  test("rolling hash expression participates in codegen (no fallback)", Family("text")) {
    val df = Tables.t(spark, TestSpark.sf, "documents")
      .select(graft.functions.RollingHash.rolling_hash(col("text")))
    val p = df.queryExecution.executedPlan.toString
    // "*(1) Project [rolling_hash(...)]" — inside a codegen stage, meaning
    // doGenCode was used (a CodegenFallback would break the stage apart)
    assert(p.contains("*(") && p.contains("rolling_hash"))
  }
}

/** Avro: a REAL round trip (the r5 pinned-error holding pattern is gone) —
  * the read path decodes through avro-mapred's Hadoop input format on the
  * stock classpath, no spark-avro connector needed; the fixture file is
  * written driver-side via the avro core API.
  */
class AvroSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("avro round trip: nation values survive the avro-mapred read path") {
    val out = Tables.scratch("avro_spec") + "/nation.avro"
    val nation = Tables.t(spark, TestSpark.sf, "nation")
    graft.sources.AvroRead.writeFixture(nation, out)
    val back = Formats.read(spark, out)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      nation.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = nation.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    val b = back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq
    assert(a == b, "row values differ after the avro round trip")
  }

  test("binary, double and NULL values survive (union branch exercised)") {
    import spark.implicits._
    val out = Tables.scratch("avro_spec2") + "/mixed.avro"
    val df = Seq((1L, Some(1.5), Some("x")), (2L, Some(-2.25), None),
        (3L, None, Some("z")))
      .toDF("id", "v", "s")
      .withColumn("b", org.apache.spark.sql.functions.expr("CAST(s AS BINARY)"))
    graft.sources.AvroRead.writeFixture(df, out)
    val back = Formats.read(spark, out).orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(back(0).getDouble(1) == 1.5 && back(1).getDouble(1) == -2.25)
    assert(back(2).isNullAt(1), "null double must survive the round trip")
    assert(back(1).isNullAt(2) && back(1).isNullAt(3), "null string/bytes survive")
    assert(new String(back(0).getAs[Array[Byte]]("b")) == "x")
  }

  test("uppercase .AVRO reads completely — sniffer and scan must agree") {
    // AvroInputFormat's own listing filter is case-sensitive; the sniffer
    // is not — without the explicit file list + filter override this was a
    // schema-resolved, ZERO-row silent read
    val dir = Tables.scratch("avro_spec_case")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val nation = Tables.t(spark, TestSpark.sf, "nation")
    graft.sources.AvroRead.writeFixture(nation, s"$dir/DATA.AVRO")
    assert(Formats.read(spark, dir).count() == nation.count())
  }

  test("part files with a different field layout fail loudly, never transpose") {
    val dir = Tables.scratch("avro_spec_mixed")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val nation = Tables.t(spark, TestSpark.sf, "nation")
    graft.sources.AvroRead.writeFixture(nation, s"$dir/a.avro")
    graft.sources.AvroRead.writeFixture(
      nation.select("n_regionkey", "n_name", "n_nationkey"), s"$dir/b.avro")
    val e = intercept[Exception] { Formats.read(spark, dir).count() }
    def messages(t: Throwable): String =
      if (t == null) "" else t.toString + messages(t.getCause)
    assert(messages(e).contains("schema differs"),
      s"expected a loud layout mismatch, got: $e")
  }

  test("a DIRECTORY of avro part files reads completely, not first-file-only") {
    val dir = Tables.scratch("avro_spec_dir")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val nation = Tables.t(spark, TestSpark.sf, "nation")
    graft.sources.AvroRead.writeFixture(
      nation.filter(org.apache.spark.sql.functions.col("n_nationkey") < 10),
      s"$dir/part-00000.avro")
    graft.sources.AvroRead.writeFixture(
      nation.filter(org.apache.spark.sql.functions.col("n_nationkey") >= 10),
      s"$dir/part-00001.avro")
    val back = Formats.read(spark, dir)
    assert(back.count() == nation.count(),
      "directory read must include every part file")
  }
}

/** ScalaCheck properties (SURVEY §5.3), sampled with fixed seeds (no
  * scalatest bridge in the dependency set — a tiny forAll suffices).
  */
class PropertySpecs extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def forAll[A](g: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong))
        .foreach(body)
    }

  private val rowsGen = Gen.nonEmptyListOf(
    Gen.zip(Gen.choose(-1000L, 1000L), Gen.alphaNumStr.map(_.take(12)),
      Gen.choose(-1e6, 1e6)))

  test("compare(df, df) is always equal") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("i", "s", "d").orderBy("i", "s", "d")
      val r = Compare.summarize(spark, df, df).head()
      assert(r.getBoolean(4), s"self-compare failed for ${rows.size} rows")
    }
  }

  test("compare detects any single injected perturbation") {
    forAll(Gen.zip(rowsGen, Gen.posNum[Int])) { case (rows, at) =>
      val df = rows.toDF("i", "s", "d").orderBy("i", "s", "d")
      val idx = at % rows.size
      val perturbed = df
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("i", "s", "d")) - 1)
        .withColumn("d", when(col("__rn") === idx, col("d") + 12345.5).otherwise(col("d")))
        .drop("__rn")
      val r = Compare.summarize(spark, df, perturbed).head()
      assert(r.getLong(2) == 1L && r.getLong(3) == idx.toLong)
    }
  }

  test("epsilon monotonicity: equal at eps stays equal at larger eps") {
    forAll(Gen.choose(0.0, 0.5)) { delta =>
      val a = Seq((1, 1.0), (2, 2.0)).toDF("i", "d")
      val b = Seq((1, 1.0 + delta), (2, 2.0 - delta)).toDF("i", "d")
      val atDelta = Compare.summarize(spark, a, b, epsilon = delta + 1e-9).head().getBoolean(4)
      val atBigger = Compare.summarize(spark, a, b, epsilon = delta + 1.0).head().getBoolean(4)
      assert(atDelta && atBigger)
    }
  }

  test("convert round trip preserves count and values (parquet->csv->parquet)") {
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 9999L), Gen.choose(-1e4, 1e4)))) { rows =>
      val dir = java.nio.file.Files.createTempDirectory("graft_prop").toString
      val df = rows.toDF("k", "v").orderBy("k", "v")
      df.write.mode("overwrite").parquet(s"$dir/in.parquet")
      graft.operators.Convert.convert(spark, s"$dir/in.parquet", s"$dir/mid.csv")
      graft.operators.Convert.convert(spark, s"$dir/mid.csv", s"$dir/out.parquet")
      val back = spark.read.parquet(s"$dir/out.parquet").orderBy("k", "v")
      val r = Compare.summarize(spark, df, back, epsilon = 1e-9).head()
      assert(r.getBoolean(4), s"roundtrip diff: ${r.toString}")
    }
  }
}

/** Audit EVERY declared query's physical plan: no accidental cartesian /
  * unbounded nested-loop joins — only the queries that intend one (tiny
  * dims or a broadcast-single-row probe) may contain them.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val allowedCartesian = Set(
    "q_join_cross",     // intentional CROSS of two tiny dims
    "sim_topk_brute",   // 1-row broadcast query vector
    "sim_mips",         // same 1-row broadcast probe shape (inner product)
    "sim_ann_lsh", "sim_ivf", "sim_ivf_probe2", // same broadcast-probe shape
    "knn_label_vote",   // 3-row broadcast probe set
    "sim_filtered",     // 1-row broadcast query vector after the id pre-filter
    "q_join_theta",     // residual-only fallback is fine on tiny dims
    "q_gap_fill",       // spine construction: 1-row bounds × tiny type dim
    "q_histogram",      // 1-row global (min, max) bounds broadcast
    "text_unigram_nll", // 1-row global token-total broadcast
    "corpus_tfidf",     // 1-row global doc-count broadcast
    "sim_range_search", // 1-row broadcast query vector (threshold scan)
    "knn_join_brute",   // 5-row broadcast probe batch
    "mix_temperature",  // 1-row global normalizer broadcast
    "sim_recall_report", // 1-row probe + 1-row top-10 summary broadcasts
    "q15_top_supplier",  // 1-row broadcast max-revenue scalar
    "q22_global_sales",  // 1-row broadcast average-balance scalar
    "sim_ivf_train",     // k-row broadcast centroid table (k=4)
    "sim_pq_adc",        // 1-row broadcast query vector over the 10 winners
    "sim_ivfpq",         // kc-row broadcast coarse-centroid table (kc=4)
    "sim_ivfpq_stored",  // same probe shapes over the persisted index
    "q11_important_stock", // 1-row broadcast national-total scalar
    "graph_triangles",   // three 1-row count scalars assembled into one row
    "corpus_heavy_hitters", // 1-row broadcast token-total scalar
    "sim_ivfpq_recall",  // same probe shapes + 1-row hit/candidate scalars
    "q_incremental_agg", // 1-row broadcast max-day cutoff scalar
    "events_cooccurrence", // 1-row broadcast distinct-user total
    "events_attribution", // 1-row broadcast purchase-total scalar
    "dq_expectations",   // three 1-row rule aggregates stacked into a ledger
    "dq_drift_psi",      // 1-row broadcast window-cutoff scalar
    "mix_epochs",        // 1-row global normalizer + budget broadcast
    "eval_langid_kappa", // 1-row accuracy × 1-row expected-agreement scalar
    "events_rfm",        // 1-row broadcast quintile-cutoff table
    "events_interpolate", // spine construction: 1-row bounds × tiny type dim
    "sim_matryoshka",    // 1-row broadcast query vector (two-stage rerank)
    "sim_cluster_silhouette", // k-row broadcast centroid table (k=4)
    "events_survival",   // 31-row broadcast day spine over the per-user fold
    "sim_hardneg_mine",  // 8-row broadcast anchor batch (label-exclusion probe)
    "sim_bucket_balance", // 1-row broadcast occupancy-stats scalar
    "corpus_heaps",      // two 1-row prefix-sum aggregates + 1-row doc-count scalar
    "bpe_train",         // 1-row broadcast elected merge pair, once per round
    "mix_doremi_weights", // 1-row broadcast token total / max-NLL / softmax denominator
    "stream_drift_psi",  // 1-row broadcast cutoff date (dq_drift_psi's shape)
    "eval_retrieval_mrr", // 10-row broadcast probe batch (knn_join_brute's shape)
    "bpe_encode",        // 1-row broadcast elected merge pair, once per round
    "events_sequence_mining", // 1-row broadcast distinct-user total
    "dedup_cluster_stats", // 1-row broadcast doc-count scalar
    "split_leakage_free", // two 1-row policy aggregates stacked into the ledger
    "q_approx_quantile", // 1-row broadcast bounds / exact-percentile scalars
    "eval_retrieval_ndcg", // 10-row broadcast probe batch (retrieval-eval shape)
    "text_perplexity_band", // 1-row global token-total broadcast (unigram_nll's shape)
    "sim_ivfpq_delete",  // same broadcast-probe shapes as sim_ivfpq_stored
    "graph_label_spread", // 1-row broadcast node-count scalar
    "sim_ivf_nprobe_curve", // 1-row broadcast probe vector + per-n 1-row scalars
    "graph_modularity",  // 1-row broadcast edge-count scalar
    "sim_hamming_topk",  // 1-row broadcast packed query vector
    "events_mttr",       // 1-row broadcast burst-threshold scalar
    "sim_rrf_fusion",    // 1-row broadcast packed query vector (two rankings)
    "dq_benford",        // 1-row broadcast total / chi2 scalars
    "curate_dsir",       // 1-row broadcast feature-total scalar
    "corpus_pmi",        // 1-row unigram-total × 1-row bigram-total broadcasts
    "events_markov_stationary", // 1-row broadcast type-count scalar
    "rec_eval_hitrate",  // 1-row hit-counter row × 1-row user-total broadcast
    "rec_eval_mrr",      // same 1-row counter × 1-row total spine as hitrate
    "rec_eval_pop_baseline", // 50-row broadcast popularity list fan-out + 1-row spine
    "rec_metrics",       // 1-row user/catalog-total broadcasts
    "eval_bootstrap_ci", // 1-row sorted replica-accuracy array broadcast
    "dq_load_anomaly",   // 1-row median / MAD baseline broadcasts
    "bpe_vocab_coverage", // 1-row round-0 baseline-tokens broadcast
    "dq_profile"         // 1-row distinct-counter × 1-row min/max-card spine (r12)
  )

  test("no unplanned cartesian or nested-loop joins anywhere") {
    val offenders = SparkEntry.declared
      .filterNot(d => allowedCartesian.contains(d.name))
      .filterNot(d => d.name.startsWith("op_") || d.name == "stream_window_agg" ||
        d.name == "mm_decode_features" || d.name == "dedup_minhash")
      .flatMap { d =>
        try {
          val plan = d.run(spark, TestSpark.sf).queryExecution.executedPlan.toString
          if (plan.contains("CartesianProduct") ||
              plan.contains("BroadcastNestedLoopJoin")) Some(d.name) else None
        } catch { case _: Throwable => None }
      }
    assert(offenders.isEmpty, s"unexpected cartesian/BNLJ in: $offenders")
  }

  /** A Window with NO partition keys sorts its entire input on one task —
    * the classic silent single-reducer at 100 TB. Every declared query's
    * window must be partitioned (global orderings belong to top-k /
    * sort-merge output, not window state).
    */
  /** Global windows whose input is bounded BY CONSTRUCTION before the window
    * runs (a LIMIT/top-k upstream), so the single task touches a fixed row
    * count at any data size.
    */
  private val allowedGlobalWindow = Set(
    "corpus_zipf", // rank over a TakeOrderedAndProject'd top-100 term list
    "q_approx_quantile", // cumulative walk over the 256-row bin table
    "events_mttr", // islands walk over the calendar-bounded burst-hour table
    "sim_rrf_fusion", // rank over each TakeOrderedAndProject'd top-30 list
    "q_skyline_pareto" // running min over the ≤|size-domain|-row fold
  )

  test("no unpartitioned (single-reducer) window operators anywhere") {
    val offenders = SparkEntry.declared
      .filterNot(d => d.name.startsWith("op_") || d.name.startsWith("stream_"))
      .filterNot(d => allowedGlobalWindow.contains(d.name))
      .flatMap { d =>
        try {
          val bad = d.run(spark, TestSpark.sf).queryExecution.optimizedPlan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty => w
          }
          if (bad.nonEmpty) Some(d.name) else None
        } catch { case _: Throwable => None }
      }
    assert(offenders.isEmpty, s"unpartitioned window in: $offenders")
  }
}

/** Timestamp-dialect audit: everything the DuckDB oracle sees must be
  * timestamp_ntz / date / non-temporal. A session-tz TimestampType column in
  * a declared result writes an INT96/instant-annotated parquet column that
  * DuckDB reads as TIMESTAMPTZ, so rows match but schema/hash don't (the
  * exact q_gap_fill failure mode of rounds 3–4). Covers ALL declared
  * queries — including op_* (eager writes, cheap at sf0.001) and stream_*
  * (synchronous finite replay, ~1 s each) — because the oracle checks all
  * of them; for pure queries only the schema is resolved, nothing executes.
  */
class TimestampDialectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  import org.apache.spark.sql.types._

  private def sessionTzPaths(dt: DataType, path: String): Seq[String] = dt match {
    case TimestampType          => Seq(path)
    case s: StructType          => s.fields.flatMap(f => sessionTzPaths(f.dataType, s"$path.${f.name}")).toSeq
    case a: ArrayType           => sessionTzPaths(a.elementType, s"$path[]")
    case m: MapType             => sessionTzPaths(m.keyType, s"$path<key>") ++ sessionTzPaths(m.valueType, s"$path<val>")
    case _                      => Seq.empty
  }

  test("no declared query's result schema contains a session-tz timestamp") {
    val offenders = SparkEntry.declared.flatMap { d =>
      try {
        val bad = d.run(spark, TestSpark.sf).schema.fields
          .flatMap(f => sessionTzPaths(f.dataType, f.name))
        if (bad.nonEmpty) Some(s"${d.name}: ${bad.mkString(", ")}") else None
      } catch { case _: Throwable => None } // build failures are other specs' business
    }
    assert(offenders.isEmpty,
      s"session-tz TimestampType reaches the oracle (cast to timestamp_ntz):\n  ${offenders.mkString("\n  ")}")
  }

  /** The negative-zero discipline's Spark half (convention in [[Declared]]'s
    * scaladoc — the class behind round 7's graph_modularity red row): Spark's
    * BigDecimal-backed round() cannot emit IEEE −0.0, so a signed zero in any
    * declared double/float column means a raw computed double bypassed the
    * round-once convention and could split the cross-engine hash on the sign
    * bit of zero. Detection is distributed (one aggregate per query, no
    * collect of the result): x == 0 with 1/x < 0 identifies −0.0 exactly.
    */
  test("no declared double/float column carries an IEEE signed zero") {
    val offenders = SparkEntry.declared.flatMap { d =>
      try {
        val df = d.run(spark, TestSpark.sf)
        val dcols = df.schema.fields.collect {
          case f if f.dataType == DoubleType || f.dataType == FloatType => f.name
        }.toSeq
        if (dcols.isEmpty) None
        else {
          val checks = dcols.map { c =>
            max(when(col(s"`$c`") === 0.0 &&
              lit(1.0) / col(s"`$c`") < 0.0, 1).otherwise(0)).as(c)
          }
          val row = df.agg(checks.head, checks.tail: _*).collect().headOption
          val bad = row.toSeq.flatMap(r => dcols.filter(c => r.getAs[Int](c) == 1))
          if (bad.nonEmpty) Some(s"${d.name}: ${bad.mkString(", ")}") else None
        }
      } catch { case _: Throwable => None } // build failures are other specs' business
    }
    assert(offenders.isEmpty,
      s"signed zero (-0.0) in declared result:\n  ${offenders.mkString("\n  ")}")
  }
}

/** AQE skew-join: a pathologically hot join key must be SPLIT at runtime
  * (OptimizeSkewedJoin) rather than landing on one reducer — the runtime
  * complement to the static salting in BucketJoin/SkewJoin. Thresholds are
  * lowered so the fixture-sized hot key trips the optimization; the asserted
  * plan marker (`isSkew=true` on the sort-merge join) is what a 100 TB run
  * relies on for free skew handling.
  */
class AqeSkewJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hot key is split by OptimizeSkewedJoin (skew=true in final plan)") {
    LocalSession.withConfs(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // 200k rows on ONE key, a sprinkle on others; the payload column stays
      // live through the agg so the hot partition can't compress away below
      // the skew threshold
      val fact = spark.range(200000).select(
        when($"id" % 100 === 0, ($"id" % 7) + 1).otherwise(lit(0L)).as("k"),
        (($"id" * 2654435761L) % 1000000007L).as("payload")) // bounded: ANSI sum can't overflow
      val dim = (0L to 7L).map(k => (k, s"dim_$k")).toDF("k", "name")
      val joined = fact.join(dim, "k").groupBy("name")
        .agg(count(lit(1)).as("n"), sum($"payload").as("ps"))
      val rows = joined.collect()
      assert(rows.map(_.getLong(1)).sum == 200000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isSkew=true") || plan.contains("skew=true"),
        s"no skew split in final plan:\n${plan.take(1200)}")
    }
  }
}

/** Bucketed co-located join: the join itself must run with NO exchange below
  * it — both inputs are pre-bucketed on the key, so the only shuffle in the
  * whole query is the final aggregation's.
  */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed join has no shuffle below the SortMergeJoin") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, TestSpark.sf)
    // plan text is printed top-down, so everything after the SortMergeJoin
    // line is its subtree (AQE's wrapper hides the tree from collect())
    val plan = df.queryExecution.executedPlan.toString
    val at = plan.indexOf("SortMergeJoin")
    assert(at >= 0, s"expected a SortMergeJoin:\n${plan.take(800)}")
    val below = plan.substring(at)
    assert(!below.contains("Exchange"),
      s"bucketed join still shuffles:\n${below.take(800)}")
    // result sanity: every market segment present
    assert(df.collect().length == 5)
  }

  test("bucket-key aggregation runs with no exchange below the per-key agg") {
    val df = SparkEntry.queries("q_bucketed_agg")(spark, TestSpark.sf)
    df.collect() // materialize so AQE's final plan text is complete
    val plan = df.queryExecution.executedPlan.toString
    // top-down text: the LAST HashAggregate line is the per-custkey fold
    // directly over the bucketed scan — nothing between it and the scan may
    // shuffle (the scan's HashPartitioning(o_custkey, 8) already satisfies
    // the aggregate's distribution requirement)
    val at = plan.lastIndexOf("HashAggregate")
    assert(at >= 0, s"expected a HashAggregate:\n${plan.take(800)}")
    val below = plan.substring(at)
    assert(!below.contains("Exchange"),
      s"bucket-key aggregate still shuffles its input:\n${below.take(800)}")
    assert(below.contains("Scan"), s"per-key agg should sit on the scan:\n$below")
  }
}

/** Approximate aggregates must land near the exact values. */
class ApproxAccuracySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 15% ≈ 3σ of the sketch's default 5% rsd — a 5% assertion sits at ~1σ
  // and can flip at other scale factors with the sketch behaving correctly
  test("approx_count_distinct within 15% and approx median within p40-p60") {
    val li = Tables.t(spark, TestSpark.sf, "lineitem")
    val row = li.agg(
      approx_count_distinct(col("l_partkey")).as("approx"),
      countDistinct(col("l_partkey")).as("exact"),
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("amed"),
      expr("percentile(l_extendedprice, 0.4)").as("p40"),
      expr("percentile(l_extendedprice, 0.6)").as("p60")).head()
    val (approx, exact) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.15, s"approx=$approx exact=$exact")
    assert(row.getDouble(2) >= row.getDouble(3) && row.getDouble(2) <= row.getDouble(4))
  }
}
