package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()

  private def frame = spark.range(0, 1000).select(
    col("id"), (col("id") * 0.5).as("x"), concat(lit("s"), col("id").cast("string")).as("s"),
    map(lit("k"), col("id")).as("m"))

  test("digest is stable across runs, row order and partitioning") {
    val a = Digest.of(frame)
    assert(Digest.of(frame) == a)
    assert(Digest.of(frame.orderBy(col("id").desc)) == a)
    assert(Digest.of(frame.repartition(7)) == a)
    assert(a.rows == 1000)
  }

  test("digest reads every column, so a change in any one of them shows") {
    val a = Digest.of(frame)
    assert(Digest.of(frame.withColumn("x", when(col("id") === 3, 0.0).otherwise(col("x")))) != a)
    assert(Digest.of(frame.withColumn("s", when(col("id") === 3, "t").otherwise(col("s")))) != a)
    assert(Digest.of(frame.withColumn("m", map(lit("k"), col("id") + 1))) != a)
    assert(Digest.of(frame.drop("s")) != a)
    assert(Digest.of(frame.filter(col("id") =!= 3)) != a)
  }

  test("an empty result has a digest") {
    assert(Digest.of(frame.filter(lit(false))).toString == "0:0")
  }
}
