package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-13 specs (VERDICT r12 asks #1, #2, #3; ADVICE r12 #2).
  *
  * 1. The rec family's single-scan basket artifact: RecQ.taggedBaskets is
  *    now the ONE lineitem ⋈ orders pass both model families derive from —
  *    its distinct (u, i) projection must equal the plain basket derivation
  *    cfShared used to run, and evalShared's one-pass eligible-set fold must
  *    equal the old test-anti-join-train formulation. Both pins run the
  *    PRODUCTION functions on the fixture.
  *
  * 2. Bench.driftSuspects: a capture self-flags per-query outliers against
  *    the committed calm file of record (>2× either way, above the 0.5 s
  *    jitter floor) and refuses to compare against a contended / other-sf /
  *    other-cpu reference.
  *
  * 3. The BPE merge loop materializes exactly TWO vocab states (round 0 and
  *    the final), with intermediate rounds left as stacked constant-replace
  *    projections — pinned structurally on the per-round states' plans. An
  *    empty election round fails with an explicit message, not a
  *    MatchError (ADVICE r12 #2).
  */
class R13OpsSpec extends AnyFunSuite {

  test("rec: taggedBaskets' (u, i) projection equals the plain basket derivation", Family("rec")) {
    val spark = TestSpark.spark
    val sf = TestSpark.sf
    val shared = queries.RecQ.taggedBaskets(spark, sf)
      .select(col("u"), col("i")).distinct()
    val plain = Tables.t(spark, sf, "lineitem")
      .join(Tables.t(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .distinct()
    assert(shared.exceptAll(plain).isEmpty && plain.exceptAll(shared).isEmpty,
      "shared tagged projection diverged from the plain lineitem⋈orders basket set")
  }

  test("rec: taggedBaskets' era flag equals the last-order join formulation", Family("rec")) {
    val spark = TestSpark.spark
    val sf = TestSpark.sf
    val shared = queries.RecQ.taggedBaskets(spark, sf)
    // the r12 shape: last order per user via window, joined on u
    val lastOrder = Tables.t(spark, sf, "orders")
      .select(col("o_custkey").as("u"), col("o_orderkey").as("ok"),
        col("o_orderdate").as("od"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("u")).orderBy(col("od").desc, col("ok").desc)))
      .filter(col("rn") === 1).select(col("u"), col("ok").as("tok"))
    val old = Tables.t(spark, sf, "lineitem")
      .join(Tables.t(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("o_orderkey").as("ok"),
        col("l_partkey").as("i"))
      .join(lastOrder, "u")
      .select(col("u"), col("i"), (col("ok") === col("tok")).as("is_test"))
      .distinct()
    assert(shared.exceptAll(old).isEmpty && old.exceptAll(shared).isEmpty,
      "tagged basket table diverged from the last-order-join formulation")
  }

  test("rec: evalShared's one-pass eligible fold equals the anti-join formulation", Family("rec")) {
    val spark = TestSpark.spark
    val sf = TestSpark.sf
    val (elig, _, _, _, _) = queries.RecQ.evalShared(spark, sf)
    val tagged = queries.RecQ.taggedBaskets(spark, sf)
    val test = tagged.filter(col("is_test")).select(col("u"), col("i"))
    val train = tagged.filter(!col("is_test")).select(col("u"), col("i"))
    val anti = test.join(train, Seq("u", "i"), "left_anti")
    assert(elig.exceptAll(anti).isEmpty && anti.exceptAll(elig).isEmpty,
      "one-pass eligible fold diverged from test-anti-join-train")
  }

  test("bpe: exactly two vocab materializations (round 0 and final)", Family("text")) {
    val spark = TestSpark.spark
    val (_, _, states) = queries.TextQ.bpeLoop(spark, TestSpark.sf)
    assert(states.size == 5, s"expected 5 vocab states, got ${states.size}")
    def isMaterialized(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    assert(isMaterialized(states.head), "round-0 vocab must be checkpointed")
    assert(isMaterialized(states.last), "final vocab must be checkpointed")
    // rounds 1..3 are constant-replace projections over the round-0
    // checkpoint — materializing them re-buys one job per merge round
    (1 to 3).foreach { r =>
      assert(!isMaterialized(states(r)),
        s"round-$r vocab is materialized — the r13 build pays only 2 vocab jobs")
    }
  }

  test("cc: propagate round has ONE node-sized exchange; jump round has none", Family("dedup")) {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    LocalSession.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
      val und0 = Seq((1L, 2L), (2L, 3L), (4L, 5L))
      val edges = (und0 ++ und0.map(_.swap)).toDF("src", "dst").localCheckpoint()
      val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L))
        .toDF("id", "label").localCheckpoint()
      val prop = operators.DedupClusters.ccPropagate(edges, labels, nNodes = 5L)
      val propPlan = prop.queryExecution.executedPlan
      val propEx = propPlan.collect { case e: ShuffleExchangeExec => e }
      // the ONLY shuffle in a round is the node-sized min-aggregate by dst;
      // labels ship to the checkpointed edge list by broadcast
      assert(propEx.size == 1,
        s"expected exactly 1 (node-sized) exchange in propagate, got ${propEx.size}")
      assert(propEx.head.output.map(_.name.toLowerCase).forall(
        n => n.contains("dst") || n.contains("min") || n.contains("id")),
        s"propagate's exchange carries unexpected columns: ${propEx.head.output}")
      assert(propPlan.collect { case b: BroadcastHashJoinExec => b }.size >= 2,
        "propagate joins must be broadcast in the gated regime")
      val propCk = prop.localCheckpoint()
      val step = operators.DedupClusters.ccJump(propCk, nNodes = 5L)
      val jumpEx = step.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      assert(jumpEx.isEmpty,
        s"the jump is a broadcast self-probe of the snapshot — got ${jumpEx.size} exchanges")
      // semantics: propagate + jump on the chain 1-2-3 pulls 3 to label 1
      // in ONE round (the jump: 3 adopts 2's propagated label's label)
      val got = step.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L), got)
    }
  }

  test("bench: drift suspects flag >2x movers vs a usable calm reference only") {
    val ref = """{"metric":"total","value":10.0,"unit":"sec","queries":{"a":1.0,"b":4.0,"c":0.1,"d":2.0},""" +
      """"sf":"/root/testdata/sf0.1","cpus":32,"contended":false,"session_id":"refsess"}"""
    val now = Seq("a" -> 2.5, "b" -> 1.5, "c" -> 0.3, "d" -> 2.1)
    val (meta, sus) = Bench.driftSuspects(
      Some(ref), "/root/testdata/sf0.1", 32, now)
    assert(meta.contains("\"usable\":true") && meta.contains("refsess"))
    // a: 2.5x up -> flagged; b: 0.375x down -> flagged; c: 3x but sub-0.5s
    // both sides -> jitter floor, not flagged; d: 1.05x -> not flagged
    assert(sus.contains("\"a\":2.5"), sus)
    assert(sus.contains("\"b\":0.38"), sus)
    assert(!sus.contains("\"c\""), sus)
    assert(!sus.contains("\"d\""), sus)
    // a session id holding a quote (Bench writes it escaped) is read back
    // whole and re-escaped, so drift_ref stays valid JSON
    val quoted = ref.replace("\"refsess\"", "\"r\\\"9\"")
    val (qmeta, qsus) = Bench.driftSuspects(Some(quoted), "/root/testdata/sf0.1", 32, now)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(qmeta)
    assert(parsed.get("usable").asBoolean, qmeta)
    assert(parsed.get("session_id").asText == "r\"9", qmeta)
    assert(qsus == sus)
  }

  test("bench: drift reference must be calm, same sf and same cpus") {
    val mk = (contended: Boolean, sf: String, cpus: Int) =>
      s"""{"queries":{"a":1.0},"sf":"$sf","cpus":$cpus,"contended":$contended,"session_id":"x"}"""
    val now = Seq("a" -> 9.0)
    assert(Bench.driftSuspects(Some(mk(true, "/root/testdata/sf0.1", 32)),
      "/root/testdata/sf0.1", 32, now)._2 == "{}")
    assert(Bench.driftSuspects(Some(mk(false, "/root/testdata/sf0.01", 32)),
      "/root/testdata/sf0.1", 32, now)._2 == "{}")
    assert(Bench.driftSuspects(Some(mk(false, "/root/testdata/sf0.1", 8)),
      "/root/testdata/sf0.1", 32, now)._2 == "{}")
    assert(Bench.driftSuspects(None, "/root/testdata/sf0.1", 32, now) ==
      ("null", "{}"))
    // an unreadable "queries" map is not usable, not usable-with-nothing-in-common
    val ok = mk(false, "/root/testdata/sf0.1", 32)
    for (ref <- Seq(ok.replace(""""queries":{"a":1.0}""", """"queries":{"a":"fast"}"""),
        ok.replace(""""queries":{"a":1.0},""", "")))
      assert(Bench.driftSuspects(Some(ref), "/root/testdata/sf0.1", 32, now) ==
        ("""{"usable":false,"parse":false}""", "{}"), ref)
    // the usable case does flag
    assert(Bench.driftSuspects(Some(mk(false, "/root/testdata/sf0.1", 32)),
      "/root/testdata/sf0.1", 32, now)._2.contains("\"a\":9.0"))
  }
}
