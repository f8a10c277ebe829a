package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once across a RESTART: the property that makes Structured
  * Streaming deployable — a stopped query resumed from its checkpoint must
  * process each input file exactly once (no loss, no duplication), even
  * though the second run never sees the first run's batches.
  */
class StreamingRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  test("file-sink stream resumed from checkpoint emits each row exactly once") {
    val in = Tables.scratch("recovery_in")
    val out = Tables.scratch("recovery_out")
    val ckpt = Tables.scratch("recovery_ckpt")
    Seq(in, out, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    new java.io.File(in).mkdirs()

    def writeBatch(from: Long, n: Long): Unit =
      spark.range(from, from + n).toDF("v")
        .coalesce(1).write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.LongType))))
        .parquet(in)
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }

    writeBatch(0, 1000)
    runOnce()                      // processes file A, checkpoints, stops
    writeBatch(1000, 500)
    runOnce()                      // resumed run must process ONLY file B
    val got = spark.read.parquet(out)
    assert(got.count() == 1500L, "row count after restart")
    assert(got.agg(countDistinct(col("v"))).head().getLong(0) == 1500L,
      "no duplicated rows across the restart")
  }
}

/** At 100 TB streaming state the deployment answer is
  * `spark.sql.streaming.stateStore.providerClass = RocksDBStateStoreProvider`
  * (state lives in per-executor RocksDB instances instead of the JVM heap,
  * so state size is bounded by disk, not memory). The streaming queries are
  * provider-agnostic; this spec proves the RocksDB provider actually runs in
  * this environment (rocksdbjni is on the classpath) and returns the same
  * answers as the default HDFS-backed store.
  */
class RocksDbStateStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import scala.jdk.CollectionConverters._

  test("stateful streaming agg runs on RocksDBStateStoreProvider, same results") {
    LocalSession.withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      Tables.legacyNanos(spark)
      val schema = spark.read.parquet(s"${TestSpark.sf}/events.parquet").schema
      val q = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(TestSpark.sf)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("graft_rocksdb_sink").start()
      val metrics =
        try {
          q.processAllAvailable()
          Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
            .flatMap(_.customMetrics.keySet().asScala)
        } finally q.stop()
      // the state operator's custom metrics are provider-specific: rocksdb*
      // keys appear only when the RocksDB store actually backed the agg
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"state metrics carry no rocksdb evidence: $metrics")
      val got = spark.table("graft_rocksdb_sink").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = Tables.t(spark, TestSpark.sf, "events")
        .groupBy(col("event_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want, "RocksDB-backed result differs from batch truth")
    }
  }
}
