package graft

import graft.streaming.{GatedSink, StreamingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The foreachBatch sinks of the stream ops, driven through [[GatedSink]]
  * with each op's merge function. Pins what the fixture stream cannot show
  * (its single file arrives as one micro-batch):
  *  - merges are genuinely incremental: N micro-batches produce the same
  *    state as one batch over their union;
  *  - the batchId gate makes replay idempotent: re-delivering an
  *    already-merged batchId (what the engine does after a crash
  *    mid-commit) must not double-count additive columns;
  *  - state belongs to one sink instance, never to another run.
  */
class StreamingSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def events(rows: Seq[(Long, Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("user_id", "event_id", "event_type", "ts_str")
      .withColumn("ts", col("ts_str").cast("timestamp_ntz")).drop("ts_str")
  }

  private def gateBatch(rows: Seq[(String, Long, Double, String)]) = {
    import spark.implicits._
    rows.toDF("event_type", "user_id", "value", "ts_str")
      .withColumn("ts", col("ts_str").cast("timestamp_ntz")).drop("ts_str")
  }

  private def ledger(sink: GatedSink) = sink.result.get
    .orderBy(col("check_name"))
    .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  test("upsert: two micro-batches merge incrementally and replayed batchIds are skipped") {
    val in = Tables.scratch("upsert_in")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(in))
    new java.io.File(in).mkdirs()
    val a = events(Seq(
      (1L, 10L, "view", "2024-01-01 10:00:00"),
      (2L, 11L, "click", "2024-01-01 10:05:00")))
    val b = events(Seq(
      (2L, 12L, "purchase", "2024-01-01 11:00:00"),
      (3L, 13L, "view", "2024-01-01 11:30:00")))
    a.coalesce(1).write.mode("append").parquet(in)
    b.coalesce(1).write.mode("append").parquet(in)

    val sink = new GatedSink(StreamingOps.mergeLatestBatch)
    val batchIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .schema(a.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batchIds.synchronized { batchIds += id }
        sink.step(id, batch.toDF())
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batchIds.distinct.size >= 2,
      s"maxFilesPerTrigger=1 over two files should yield >=2 micro-batches, got $batchIds")

    def readout = sink.result.get
      .select(col("user_id"), col("last.event_type").as("t"),
        col("last.ts").as("ts"), col("n_events"))
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.get(2).toString, r.getLong(3))).toSeq

    val expected = Seq(
      (1L, "view", "2024-01-01T10:00", 1L),
      (2L, "purchase", "2024-01-01T11:00", 2L),
      (3L, "view", "2024-01-01T11:30", 1L))
    assert(readout == expected, s"incremental merge diverged: $readout")

    // crash-replay: the engine re-delivers the LAST batchId after recovery
    sink.step(batchIds.max, b)
    assert(readout == expected, "replayed batchId was merged twice")

    // and a genuinely new batch still lands
    sink.step(batchIds.max + 1,
      events(Seq((3L, 14L, "click", "2024-01-01 12:00:00"))))
    assert(readout.find(_._1 == 3L).get == (3L, "click", "2024-01-01T12:00", 2L),
      "post-replay batch with a fresh id must merge")
  }

  test("cdc: tombstone beats earlier upsert, loses to later; replay is a no-op") {
    import spark.implicits._
    def batch(rows: (Long, Long, String, Long, String)*) =
      rows.toDF("user_id", "event_id", "op", "cents", "ts0")
        .withColumn("ts", col("ts0").cast("timestamp_ntz")).drop("ts0")
    val sink = new GatedSink(StreamingOps.cdcMerge)
    // batch 0: user 1 upserts, user 2 upserts
    sink.step(0L, batch(
      (1L, 1L, "U", 100L, "2024-01-01 00:00:01"),
      (2L, 2L, "U", 200L, "2024-01-01 00:00:02")))
    // batch 1: user 1 deleted AFTER its upsert; user 2 deleted BEFORE its
    // upsert (late-arriving tombstone — must lose)
    sink.step(1L, batch(
      (1L, 3L, "D", 0L, "2024-01-01 00:00:03"),
      (2L, 1L, "D", 0L, "2024-01-01 00:00:00")))
    def state() = sink.result.get
      .select(col("user_id"), col("last.op").as("op")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1 = state()
    assert(s1(1L) == "D", "later tombstone must beat the earlier upsert")
    assert(s1(2L) == "U", "earlier tombstone must lose to the later upsert")
    // replaying batch 1 (crash-redelivery) must not change anything
    sink.step(1L, batch((1L, 9L, "U", 999L, "2024-01-02 00:00:00")))
    assert(state() == s1, "replayed batchId must be skipped")
    // batch 2: user 1 re-inserted after its delete
    sink.step(2L, batch((1L, 4L, "U", 300L, "2024-01-01 00:00:04")))
    assert(state()(1L) == "U", "a later upsert must resurrect a tombstoned key")
  }

  test("quality gate: ledger sums across batches and skips replayed batchIds") {
    val sink = new GatedSink(StreamingOps.gateMerge)
    // batch 0: one bad type + one range violation; batch 1: one bad uid
    sink.step(0L, gateBatch(Seq(
      ("view", 1L, 10.0, "2024-01-01 10:00:00"),
      ("BOGUS", 2L, 20.0, "2024-01-01 10:01:00"),
      ("click", 3L, 500.0, "2024-01-01 10:02:00"))))
    sink.step(1L, gateBatch(Seq(
      ("purchase", -7L, 30.0, "2024-01-01 11:00:00"))))
    val expected = Seq(
      ("event_type_known", 4L, 1L),
      ("ts_not_null", 4L, 0L),
      ("user_id_positive", 4L, 1L),
      ("value_in_0_100", 4L, 1L))
    assert(ledger(sink) == expected, s"cross-batch ledger diverged: ${ledger(sink)}")

    // crash-replay of batch 1 must not double-count
    sink.step(1L, gateBatch(Seq(
      ("purchase", -7L, 30.0, "2024-01-01 11:00:00"))))
    assert(ledger(sink) == expected, "replayed batch was counted twice")

    // a fresh batch still lands
    sink.step(2L, gateBatch(Seq(
      ("view", 9L, 1.0, "2024-01-01 12:00:00"))))
    assert(ledger(sink).head == ("event_type_known", 5L, 1L))
  }

  test("HLL: re-merging the identical batch under a fresh batchId leaves the estimates unchanged") {
    import spark.implicits._
    val sink = new GatedSink(StreamingOps.hllMerge)
    val b = Seq(("view", 1L), ("view", 2L), ("click", 3L))
      .toDF("event_type", "user_id")
    sink.step(0L, b)
    def est = sink.result.get
      .select(col("event_type"),
        hll_sketch_estimate(col("sk")).as("e"))
      .orderBy(col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val first = est
    assert(first == Seq(("click", 1L), ("view", 2L)))
    // the gate would skip a repeated id, so the re-merge takes a fresh one:
    // HLL union is a per-register max, so the identical sketch is a no-op
    sink.step(1L, b)
    assert(est == first, "re-merging the identical sketch changed the estimates")
    // new users still register
    sink.step(2L, Seq(("click", 4L)).toDF("event_type", "user_id"))
    assert(est == Seq(("click", 2L), ("view", 2L)))
  }

  test("two sink instances never see each other's state") {
    val a = new GatedSink(StreamingOps.gateMerge)
    val b = new GatedSink(StreamingOps.gateMerge)
    a.step(0L, gateBatch(Seq(("BOGUS", 1L, 10.0, "2024-01-01 10:00:00"))))
    assert(b.result.isEmpty, "a fresh sink must start empty")
    // the same batchId in the other sink is that sink's first batch, not a replay
    b.step(0L, gateBatch(Seq(
      ("view", 2L, 10.0, "2024-01-01 10:00:00"),
      ("view", -3L, 10.0, "2024-01-01 10:01:00"))))
    assert(ledger(a).map(r => r._1 -> r._3) == Seq(
      "event_type_known" -> 1L, "ts_not_null" -> 0L,
      "user_id_positive" -> 0L, "value_in_0_100" -> 0L))
    assert(ledger(a).forall(_._2 == 1L), ledger(a))
    assert(ledger(b).map(r => r._1 -> r._3) == Seq(
      "event_type_known" -> 0L, "ts_not_null" -> 0L,
      "user_id_positive" -> 1L, "value_in_0_100" -> 0L))
    assert(ledger(b).forall(_._2 == 2L), ledger(b))
  }
}
