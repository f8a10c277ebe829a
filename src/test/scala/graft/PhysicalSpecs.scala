package graft

import graft.functions.ZOrder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bit interleave matches hand-computed Morton key") {
    // x=5 (0101b) at even bit positions, y=3 (0011b) at odd:
    // x: bits 0,2 set -> key bits 0,4 -> 1+16; y: bits 0,1 set -> key bits 1,3 -> 2+8
    val got = Seq((5L, 3L)).toDF("x", "y")
      .select(ZOrder.zKey(Seq($"x", $"y"), 4).as("z"))
      .head().getLong(0)
    assert(got == 27L)
  }

  test("quadrant containment: both coords < 2^k iff zkey < 4^k") {
    val grid = spark.range(16).toDF("x")
      .crossJoin(spark.range(16).toDF("y"))
      .select($"x", $"y", ZOrder.zKey(Seq($"x", $"y"), 4).as("z"))
    val inQuad = grid.filter($"x" < 8 && $"y" < 8)
    assert(inQuad.agg(max($"z")).head().getLong(0) < 64L)
    val outQuad = grid.filter($"x" >= 8 || $"y" >= 8)
    assert(outQuad.agg(min($"z")).head().getLong(0) >= 64L)
  }

  test("zOrderSql mirror computes the identical key") {
    // the generated SQL is plain ANSI bit arithmetic, so Spark itself can
    // evaluate the DuckDB-dialect string — cross-checks the two generators
    val sql = ZOrder.zOrderSql(Seq("x", "y"), 6)
    val diff = spark.range(64).toDF("x")
      .crossJoin(spark.range(64).toDF("y"))
      .select(
        ZOrder.zKey(Seq($"x", $"y"), 6).as("a"),
        expr(sql).as("b"))
      .filter($"a" =!= $"b")
      .count()
    assert(diff == 0L)
  }
}

/** The q_runtime_bloom query's reason to exist is the runtime filter: with
  * the confs active, Catalyst must inject a bloom-filter `might_contain`
  * predicate on the fact side of the join (InjectRuntimeFilter). Result
  * correctness is the oracle's job; the PLAN property is pinned here.
  */
class BloomFilterJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("runtime bloom filter is injected into the fact side") {
    LocalSession.withConfs(spark, graft.queries.Physical.bloomConfs: _*) {
      val plan = graft.queries.Physical.bloomJoin(spark, TestSpark.sf)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"), s"no runtime bloom filter in plan:\n$plan")
    }
  }
}

/** Proof of the zorder_layout claim at the STORAGE layer: writing the table
  * sorted by the Morton key must leave every parquet row group with narrow
  * min/max ranges on BOTH interleaved dimensions (checked via the real
  * footer stats through ParquetMeta), which is exactly what row-group
  * pruning keys on. A single-dimension sort gets narrow ranges only on the
  * leading column — the second dimension stays near the full domain.
  */
class ZOrderLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("z-sorted write narrows row-group stats on both dimensions") {
    import graft.operators.ParquetMeta
    val n = 1 << 16
    val xs = spark.range(n).select(
      (col("id") % 256).as("px"), ((col("id") / 256) % 256).as("sx"))
    def rowGroupSpread(dir: String): Map[String, Double] = {
      val file = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).head.getAbsolutePath
      ParquetMeta.metadata(spark, file)
        .select(col("path_in_schema").as("c"),
          (col("stats_max_value").cast("double") - col("stats_min_value").cast("double")).as("spread"))
        .groupBy(col("c")).agg(avg(col("spread")).as("s"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val zDir = Tables.scratch("zorder_spec_z")
    val linDir = Tables.scratch("zorder_spec_lin")
    val rowsPerGroup = 4096
    // tiny parquet.block.size → many row groups per file, so the footer
    // stats give a meaningful per-group spread sample from 64k rows
    def write(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
      df.coalesce(1).sortWithinPartitions(col("k"))
        .write.mode("overwrite")
        .option("parquet.block.size", (rowsPerGroup * 16).toString)
        .parquet(dir)
    write(xs.select(graft.functions.ZOrder.zKey(Seq($"px", $"sx"), 8).as("k"), $"px", $"sx"), zDir)
    write(xs.select($"px".as("k"), $"px", $"sx"), linDir)
    val z = rowGroupSpread(zDir)
    val lin = rowGroupSpread(linDir)
    // z-order: both dimensions narrow; linear: sx stays ~full-domain (255)
    assert(z("px") < 100 && z("sx") < 100, s"z spreads: $z")
    assert(lin("sx") > 200, s"linear spreads: $lin")
    assert(z("sx") < lin("sx") / 2)
  }
}
