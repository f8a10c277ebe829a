package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** embed_quantize's zero-vector guard: an all-zero embedding has max|x| = 0,
  * and without the nullif guard scale 0 makes q = x/0 NaN (Spark) vs Inf
  * (DuckDB) — a latent oracle break the fixtures never trip. The guard must
  * turn the whole quantized row into deterministic NULLs while leaving
  * normal vectors untouched.
  */
class EmbedQuantizeZeroVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("all-zero vector quantizes to NULL scale/stats, normal vector unchanged") {
    val dir = Tables.scratch("quantize_zero_spec")
    Seq(
      (1L, Seq(0f, 0f, 0f, 0f), 0),
      (2L, Seq(1f, -2f, 0.5f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val rows = graft.queries.SimilarityQ.embedQuantize.run(spark, dir)
      .collect().sortBy(_.getLong(0))

    val zero = rows(0)
    assert(zero.isNullAt(1) && zero.isNullAt(2) && zero.isNullAt(3) && zero.isNullAt(4),
      s"zero vector must yield NULL scale and stats, got $zero")

    val normal = rows(1)
    // scale = 2/127; q = floor(x*127/2 + 0.5) = [64, -127, 32, 0]
    assert(math.abs(normal.getDouble(1) - 2.0 / 127.0) < 1e-9)
    assert(normal.getLong(2) == -31L, s"q_sum: $normal")
    assert(normal.getLong(3) == -127L, s"q_min: $normal")
    assert(normal.getLong(4) == 64L, s"q_max: $normal")
  }
}

/** The persisted IVF-PQ index is partitioned by coarse cell so a probe is a
  * partition-pruned scan: this pins that the codes scan carries a static
  * cell PartitionFilter and lists only the 2 probed directories of 4 —
  * the property that makes a billion-vector stored index readable at 2/kc
  * of its size per query.
  */
class StoredIndexPruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("sim_ivfpq_stored scans only the probed cell partitions") {
    val df = SparkEntry.queries("sim_ivfpq_stored")(spark, TestSpark.sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("ivfpq_index/codes")) => f
    }
    assert(scans.nonEmpty, "no scan over the persisted codes table in the plan")
    val pf = scans.head.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("cell"), s"codes scan has no cell partition filter: $pf")
    assert(scans.head.selectedPartitions.partitionCount == 2,
      s"probe should list exactly 2 of 4 cell partitions, " +
        s"got ${scans.head.selectedPartitions.partitionCount}")
    // and the result itself still matches the inline variant
    val stored = df.collect().map(_.toSeq).toSeq
    val inline = SparkEntry.queries("sim_ivfpq")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(stored == inline, "stored-index probe diverged from inline IVF-PQ")
  }
}
