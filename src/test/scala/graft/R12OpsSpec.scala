package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}

/** Round-12 specs (VERDICT r11 asks #3 and #6, ADVICE r11 #2/#4).
  *
  * 1. dedup_semantic's zero-exchange descent, PLAN-pinned: the r11 rebuild's
  *    governing invariant — nothing embedding-sized ever shuffles; each
  *    level is one broadcast join and `emb` never leaves its scan
  *    partition — previously lived only in scaladoc and probe captures
  *    (26.1→859 s flat k-means at sf10→sf100, then OOM at 20M vectors were
  *    both materialized-shuffle regressions found the hard way). The pin
  *    asserts the executed plan, so a refactor can't silently reintroduce
  *    the ~42 GB/level shuffle.
  *
  * 2. Bench's calm-capture gate: a contended full-suite run must not
  *    overwrite a calm-attested bench_full_latest.json (r11's final commit
  *    replaced the round's calm 248.7 s capture with a steal-1634 one, and
  *    "latest wins" made the noisy number the file of record).
  */
class R12OpsSpec extends AnyFunSuite {

  test("dedup_semantic descent: no exchange carries an embedding column", Family("dedup")) {
    val spark = TestSpark.spark
    // AQE wraps stages opaquely to collect(); disable for the structural
    // audit (the PlanAndPropertySpecs discipline)
    LocalSession.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      val descent = queries.DedupQ.semanticDescent(spark, TestSpark.sf)
      val plan = descent.queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      // exchanges DO exist — the codebook roll-up aggregates (cid, pos)
      // scalars and collects codebook-sized centroid arrays; what must
      // never appear in any exchange is the per-VECTOR embedding (the
      // n-sized 512-byte payload whose shuffle OOM'd the first
      // fourth-decade trial)
      exchanges.foreach { e =>
        val names = e.output.map(_.name.toLowerCase)
        assert(!names.exists(n => n == "emb" || n == "embedding"),
          s"an exchange carries an embedding-sized column: ${e.output.map(_.name)}")
      }
      // ...and every exchanged row set is codebook-keyed, never vec_id-keyed
      exchanges.foreach { e =>
        val names = e.output.map(_.name.toLowerCase)
        assert(!names.contains("vec_id"),
          s"an exchange carries per-vector rows: ${e.output.map(_.name)}")
      }
      // shape: exactly L broadcast joins (one per descent level), zero
      // sort-merge joins — the vector path is scan → L broadcast probes.
      // Level 1's probe key is the literal cell=0, which Catalyst plans as
      // a broadcast NESTED-LOOP join (no equi key once the literal folds);
      // deeper levels are broadcast HASH joins — both are broadcast-side
      // and shuffle nothing on the vector path
      val levels = queries.DedupQ.semanticLevels(
        Tables.t(spark, TestSpark.sf, "embeddings").count())
      val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
      val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
      val smj = plan.collect { case j: SortMergeJoinExec => j }
      assert(bhj.size + bnlj.size == levels,
        s"expected $levels broadcast joins (one per level), got " +
          s"${bhj.size} hash + ${bnlj.size} nested-loop")
      assert(smj.isEmpty, s"descent contains ${smj.size} sort-merge join(s)")
      assert(exchanges.nonEmpty,
        "no exchanges at all — the codebook roll-up vanished; vacuous pin")
    }
  }

  test("bench calm gate: ceiling is 0.1% of run ticks, floored at 100") {
    // r11's real captures straddle the gate: calm 248.7 s / steal 97 passes,
    // the contended overwrite 279.8 s / steal 1634 fails
    assert(Bench.calmCeiling(248.7, 32) == 795L)
    assert(97L <= Bench.calmCeiling(248.7, 32))
    assert(1634L > Bench.calmCeiling(279.8, 32))
    // sub-second probes aren't flagged by a stray tick
    assert(Bench.calmCeiling(0.4, 32) == 100L)
  }

  test("multiBandedCandidates: per-config pair set equals bandedCandidates'", Family("dedup")) {
    // the r12 dedup_lsh_tuning rebuild banded all three geometries in one
    // pass (one bucket shuffle / census / distinct instead of three, one
    // shared signature est-join instead of per-config) — this pin is the
    // semantic half of that trade: per config, the tagged pair set must be
    // EXACTLY what the single-config primitive produces, so the sweep's
    // DuckDB oracle (unchanged) keeps checking the same candidates
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    val docs = Tables.t(spark, TestSpark.sf, "documents")
    val sigs = operators.MinHashLsh
      .signatures(docs, "doc_id", "text").localCheckpoint()
    val configs = Seq(32 -> 2, 16 -> 4, 8 -> 8)
    val multi = operators.MinHashLsh
      .multiBandedCandidates(sigs, "doc_id", configs)
      .collect().map(r => (r.getInt(2), (r.getLong(0), r.getLong(1)))).toSet
    for (((b, r), ci) <- configs.zipWithIndex) {
      val single = operators.MinHashLsh
        .bandedCandidates(sigs, "doc_id", b, r)
        .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
      val tagged = multi.collect { case (c, p) if c == ci => p }
      assert(tagged == single, s"config ${b}x$r pair sets differ")
      assert(single.nonEmpty, s"config ${b}x$r vacuous on the fixture")
    }
  }

  test("graph rounds are exchange-free: peel + power iteration move no edge-sized bytes", Family("graph")) {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    LocalSession.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      // kcore peel round over a src-partitioned static edge table: the
      // r12 rebuild's whole point is that a round is one broadcast
      // semi-join + one in-place degree aggregate — zero exchanges
      val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
        .toDF("src", "dst").repartition(col("src")).localCheckpoint()
      val alive = Seq(1L, 2L, 3L).toDF("node")
      val round = queries.GraphQ.peelRound(edges, Some((alive, 3L)), k = 2)
      val peelEx = round.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      assert(peelEx.isEmpty,
        s"peel round must not exchange (got ${peelEx.size}): a refactor " +
          "reintroduced per-round edge motion")
      assert(round.queryExecution.executedPlan
        .collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
        "alive set must ship to the edges by broadcast")
      assert(round.as[Long].collect().toSet == Set(1L, 2L, 3L))

      // pagerank power-iteration round over a dst-partitioned edge table
      // carrying outdeg: broadcast rank join + in-place aggregate-by-dst
      val pre = Seq((1L, 2L, 2L), (1L, 3L, 2L), (2L, 1L, 1L), (3L, 1L, 1L))
        .toDF("src", "dst", "outdeg").repartition(col("dst")).localCheckpoint()
      val rank0 = Seq((1L, 1000000000L), (2L, 1000000000L), (3L, 1000000000L))
        .toDF("node", "rank")
      val next = queries.GraphQ.rankRound(pre, rank0, nNodes = 3L)
      val prEx = next.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      assert(prEx.isEmpty,
        s"power iteration must not exchange (got ${prEx.size})")
      val got = next.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // node 1 receives 1e9 from each single-out-degree neighbor:
      // 0.15e9 + 0.85 * 2e9; nodes 2,3 each receive 1e9 div 2
      assert(got(1L) == 150000000L + 85L * 2000000000L / 100L)
      assert(got(2L) == 150000000L + 85L * 500000000L / 100L)
      assert(got(3L) == got(2L))
    }
  }

  test("kcore peel early-exits at the fixed point with the identical edge set", Family("graph")) {
    val spark = TestSpark.spark
    import spark.implicits._
    // triangle + a pendant chain: peeling at k=2 removes the chain in a
    // cascade; once only the triangle remains, every further round is a
    // no-op — 6 budgeted rounds and 60 budgeted rounds must agree exactly
    val und0 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val und = (und0 ++ und0.map(_.swap)).toDF("src", "dst")
    def edgeSet(rounds: Int) =
      queries.GraphQ.kcorePeel(und, k = 2, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tri0 = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val tri = (tri0 ++ tri0.map(_.swap)).toSet
    assert(edgeSet(6) == tri)
    assert(edgeSet(60) == tri, "early exit changed the fixed point")
  }

  test("CF serving: owned-item exclusion is anti-join-equivalent and keeps " +
      "the top-3 window exchange-free above the vote stream", Family("rec")) {
    val spark = TestSpark.spark
    import spark.implicits._
    // pin the AT-SCALE shape: a fixture-sized byUser broadcasts (harmless),
    // but the claim under test is the shuffle-join form a 100 TB catalog
    // takes — force it so the partitioning-reuse pin is deterministic
    LocalSession.withConfs(spark,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // small but non-trivial basket matrix: shared pairs, an owned
      // candidate that must be excluded, a user below the support threshold
      val baskets = Seq(
        (1L, 10L), (1L, 11L), (1L, 12L),
        (2L, 10L), (2L, 11L), (2L, 13L),
        (3L, 11L), (3L, 12L), (3L, 13L),
        (4L, 10L), (4L, 12L)).toDF("u", "i")
      val (capped, byUser, scored) = queries.RecQ.buildCf(baskets)
      val served = queries.RecQ.serveTop3(capped, byUser, scored)
      // r11's anti-join formulation, inline: the r12 array-membership filter
      // must select the IDENTICAL survivors
      val nbrs = scored.select($"i1".as("i"), $"i2".as("j"), $"cos_nano")
        .union(scored.select($"i2".as("i"), $"i1".as("j"), $"cos_nano"))
      val topNbrs = nbrs.withColumn("nr",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"i").orderBy($"cos_nano".desc, $"j")))
        .filter($"nr" <= 10).select($"i", $"j", $"cos_nano")
      val votes = capped.join(topNbrs, "i")
        .groupBy($"u", $"j")
        .agg(org.apache.spark.sql.functions.sum($"cos_nano").as("score_nano"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_nbr"))
      val old = votes
        .join(capped.select($"u", $"i".as("j")), Seq("u", "j"), "left_anti")
        .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"u").orderBy($"score_nano".desc, $"j")))
        .filter($"rnk" <= 3)
        .select($"u", $"rnk", $"j".as("item"), $"score_nano", $"n_nbr")
      val got = served.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val want = old.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(got == want, "array-membership exclusion drifted from the anti-join")
      assert(got.nonEmpty)
      // plan pins: the serving chain carries no anti-join, and the per-user
      // top-3 window sits directly on the u-keyed join output — zero
      // exchanges between the window and the vote aggregate's exchange
      val p = served.queryExecution.executedPlan
      val anti = p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.joinType.toString.contains("Anti") => j
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType.toString.contains("Anti") => j
      }
      assert(anti.isEmpty, "serving reintroduced an owned-item anti-join")
      val win = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }.head
      // walk the single-child spine from the window down to the u-keyed
      // join: the join's hashpartitioning(u) must feed the window directly
      // (sorts/filters/projects only) — an exchange on this path means the
      // window re-shuffled what the join already partitioned
      var node: org.apache.spark.sql.execution.SparkPlan = win.child
      var sawExchange = false
      var sawJoin = false
      while (!sawJoin && node.children.size == 1) {
        node match {
          case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            sawExchange = true
          case _ => ()
        }
        node = node.children.head
        node match {
          case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec |
               _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
            sawJoin = true
          case _ => ()
        }
      }
      assert(sawJoin, "expected the u-keyed owned-array join below the window")
      assert(!sawExchange,
        "window re-exchanged the u-join output instead of reusing its partitioning")
    }
  }

  test("bench calm gate: contended run never overwrites a calm file of record") {
    val calm = Some("""{"metric":"total","value":1.0,"contended":false}""")
    val noisy = Some("""{"metric":"total","value":1.0,"contended":true}""")
    val sf = "/root/testdata/sf0.1"
    def target(contended: Boolean, existing: Option[String], sfDir: String = sf, cpus: Int = 32) =
      Bench.latestWriteTarget("bench_full_latest.json", contended, existing, sfDir, cpus)
    // the r11 failure mode, now diverted
    assert(target(contended = true, calm) == "bench_full_latest.contended.json")
    // calm capture always lands in place
    assert(target(contended = false, calm) == "bench_full_latest.json")
    // nothing calm to protect: first write, or an unattested legacy file
    assert(target(contended = true, None) == "bench_full_latest.json")
    assert(target(contended = true,
      Some("""{"metric":"total","value":1.0}""")) == "bench_full_latest.json")
    // a contended file of record is fair game for a newer contended capture
    assert(target(contended = true, noisy) == "bench_full_latest.json")
    // the r13 failure mode: a calm capture of another sf or cpu count
    // diverts instead of replacing the calm file of record
    val record = Some(s"""{"metric":"total","value":1.0,"sf":"$sf","cpus":32,"contended":false}""")
    assert(target(contended = false, record) == "bench_full_latest.json")
    assert(target(contended = false, record, "/root/testdata/sf0.001", 4)
      == "bench_full_latest.sf0.001.4cpu.json")
    assert(target(contended = false, record, sf, 8) == "bench_full_latest.sf0.1.8cpu.json")
    assert(target(contended = false, record, "/root/testdata/sf0.01")
      == "bench_full_latest.sf0.01.32cpu.json")
    // contended still wins over the sf/cpus divert
    assert(target(contended = true, record, "/root/testdata/sf0.001", 4)
      == "bench_full_latest.contended.json")
  }
}
