package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 operator specs: driver-side replays for the two round-8 ops that
  * shipped oracle-only (VERDICT r8 ask #5).
  */
class R9OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.sf)

  private def micros(t: java.time.LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L

  /** Spark's exact `percentile(col, p)`: sorted ascending, position
    * p*(n-1), linear interpolation between the straddling values.
    */
  private def pctile(sorted: IndexedSeq[Long], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val lo = pos.toInt
    val frac = pos - lo
    if (lo + 1 >= sorted.length) sorted(lo).toDouble
    else sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
  }

  test("events_funnel_time: driver-side greedy replay matches exactly", Family("events")) {
    // replay the three-fold greedy funnel (first view -> first click after
    // it -> first purchase after that) on collected events — an independent
    // imperative path against the query's join/agg plan
    val ev = Tables.t(spark, TestSpark.sf, "events")
      .select(col("user_id"), col("ts"), col("event_type")).collect()
      .map(r => (r.getLong(0),
        micros(r.getAs[java.time.LocalDateTime](1)), r.getString(2)))
    def firstAfter(kind: String, after: Map[Long, Long]): Map[Long, Long] =
      ev.filter(e => e._3 == kind && after.get(e._1).exists(_ < e._2))
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val v = ev.filter(_._3 == "view").groupBy(_._1).view
      .mapValues(_.map(_._2).min).toMap
    val c = firstAfter("click", v)
    val p = firstAfter("purchase", c)
    def secs(a: Long, b: Long) = Math.floorDiv(b - a, 1000000L)
    val steps = Map(
      "1_view->click" -> c.map { case (u, ct) => secs(v(u), ct) },
      "2_click->purchase" -> p.map { case (u, pt) => secs(c(u), pt) },
      "3_view->purchase" -> p.map { case (u, pt) => secs(v(u), pt) })
    val rs = run("events_funnel_time").collect().map(r =>
      r.getAs[String]("step") -> (r.getAs[Long]("n_users"),
        r.getAs[Long]("med_sec_nano"), r.getAs[Long]("p90_sec_nano"))).toMap
    assert(rs.keySet == steps.keySet)
    steps.foreach { case (step, lats) =>
      val sorted = lats.toIndexedSeq.sorted
      val (n, med, p90) = rs(step)
      assert(n == sorted.length.toLong, s"$step population")
      assert(med == math.round(pctile(sorted, 0.5) * 1e9), s"$step median")
      assert(p90 == math.round(pctile(sorted, 0.9) * 1e9), s"$step p90")
    }
    // population identities: steps 2 and 3 share the converting-user set;
    // all three agree with events_funnel's stage counters (same greedy
    // semantics, independent window-based plan)
    assert(rs("2_click->purchase")._1 == rs("3_view->purchase")._1)
    val funnel = run("events_funnel").collect()(0)
    assert(rs("1_view->click")._1 == funnel.getAs[Long]("n_click"))
    assert(rs("3_view->purchase")._1 == funnel.getAs[Long]("n_purchase"))
  }

  test("stream_topk_purchasers: stream state equals the batch ranking; replay idempotent", Family("streaming")) {
    // exact-cents batch recompute: per-event round(value*100) HALF_UP in
    // the decimal domain (Spark's round), folded per user — the stream's
    // integer state is batching-invariant so it must match this EXACTLY
    val byUser = Tables.t(spark, TestSpark.sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value")).collect()
      .map(r => (r.getLong(0), java.math.BigDecimal.valueOf(r.getDouble(1) * 100)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()))
      .groupBy(_._1).view.mapValues(cs => (cs.length.toLong, cs.map(_._2).sum))
      .toMap
    val want = byUser.toSeq
      .sortBy { case (u, (_, tot)) => (-tot, u) }.take(10).zipWithIndex
      .map { case ((u, (n, tot)), i) => (i + 1, u, n, tot) }
    def snap() = run("stream_topk_purchasers").collect().map(r =>
      (r.getAs[Int]("rnk"), r.getAs[Long]("user_id"),
        r.getAs[Long]("n_purchases"), r.getAs[Long]("total_cents"))).toSeq
    val got = snap()
    assert(got == want, s"stream top-10 $got != batch $want")
    // replay idempotency: re-running the full stream (fresh memory sink,
    // fresh state store) reproduces the identical ranking
    assert(snap() == got, "replay must be idempotent")
  }
}
