package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.{Formats, InputResolver}
import graft.streaming.StreamingOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftListenerBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** The session-scoped input resolver ([[InputResolver]]): a hit serves the
  * schema a miss inferred, launches no job and reads the same rows; an
  * input whose files move is re-resolved; sessions never share an entry.
  * Each test runs in its own session, so its miss count starts at 0.
  */
class InputResolverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withTempDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft-input-resolver")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  private def misses(s: SparkSession): Long = InputResolver.misses(s)._1

  /** Spark jobs `body` launches in `s`'s context. */
  private def jobsOf(s: SparkSession)(body: => Unit): Int = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftListenerBridge.drain(s)
    s.sparkContext.addSparkListener(l)
    try { body; GraftListenerBridge.drain(s) }
    finally s.sparkContext.removeSparkListener(l)
    n.get
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** The bytes of the single part file `df` writes as `format`. */
  private def partBytes(df: DataFrame, format: String, tmp: Path): Array[Byte] = {
    val out = tmp.resolve("part-out").toString
    df.coalesce(1).write.mode("overwrite").format(format).save(out)
    val part = new java.io.File(out).listFiles().find(_.getName.startsWith("part-")).get
    Files.readAllBytes(part.toPath)
  }

  private lazy val region = spark.read.parquet(s"${TestSpark.sf}/region.parquet")

  test("a hit returns the schema and rows of an uncached read, with no job, per format") {
    withTempDir { dir =>
      val csv = dir.resolve("r.csv").toString
      val json = dir.resolve("r.json").toString
      val orc = dir.resolve("r.orc").toString
      region.write.option("header", "true").csv(csv)
      region.write.json(json)
      region.write.orc(orc)
      val parquet = s"${TestSpark.sf}/region.parquet"
      val s = spark.newSession()
      val cases: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
        ("csv", () => Formats.read(s, csv),
          () => s.read.option("header", "true").option("inferSchema", "true").csv(csv)),
        ("csv without header", () => Formats.readCsvNoHeader(s, csv),
          () => s.read.option("header", "false").option("inferSchema", "true").csv(csv)),
        ("json", () => Formats.read(s, json), () => s.read.json(json)),
        ("orc", () => Formats.read(s, orc), () => s.read.orc(orc)),
        ("parquet", () => Formats.read(s, parquet), () => s.read.parquet(parquet)))
      cases.foreach { case (name, cached, plain) =>
        val m0 = misses(s)
        val miss = cached()
        assert(misses(s) == m0 + 1, s"$name: the first read must be a miss")
        var hit: DataFrame = null
        assert(jobsOf(s) { hit = cached() } == 0, s"$name: a hit must launch no job")
        assert(misses(s) == m0 + 1, s"$name: the second read must be a hit")
        val uncached = plain()
        assert(hit.schema == uncached.schema && miss.schema == uncached.schema, name)
        assert(rows(hit) == rows(uncached), name)
      }
      assert(misses(s) == cases.size)
    }
  }

  test("a hit keeps the FileScan: same pushed filters and pruned read schema") {
    val path = s"${TestSpark.sf}/lineitem.parquet"
    val s = spark.newSession()
    def scan(df: DataFrame) = {
      val plan = df.filter(col("l_quantity") > 10).select("l_orderkey")
        .queryExecution.executedPlan.toString
      plan.linesIterator.filter(_.contains("FileScan")).map(_.replaceAll("#\\d+", "")).toSeq
    }
    val miss = Tables.t(s, TestSpark.sf, "lineitem")
    val hit = Tables.t(s, TestSpark.sf, "lineitem")
    assert(misses(s) == 1)
    val expected = scan(s.read.parquet(path))
    assert(expected.exists(_.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity")))
    assert(scan(miss) == expected && scan(hit) == expected)
  }

  test("a file rewritten with an extra column re-resolves") {
    withTempDir { dir =>
      val path = dir.resolve("t.parquet")
      Files.write(path, partBytes(region, "parquet", dir))
      val s = spark.newSession()
      assert(!Formats.read(s, path.toString).columns.contains("extra"))
      Files.write(path, partBytes(region.withColumn("extra", lit(7L)), "parquet", dir))
      val again = Formats.read(s, path.toString)
      assert(misses(s) == 2)
      assert(again.columns.last == "extra")
      assert(again.select("extra").distinct().collect().map(_.getLong(0)).toSeq == Seq(7L))
    }
  }

  test("a directory that gains a part file re-resolves") {
    withTempDir { dir =>
      val table = dir.resolve("t.parquet").toString
      region.coalesce(1).write.parquet(table)
      val s = spark.newSession()
      assert(Formats.read(s, table).count() == region.count())
      assert(Formats.read(s, table).count() == region.count())
      assert(misses(s) == 1)
      region.coalesce(1).write.mode("append").parquet(table)
      assert(Formats.read(s, table).count() == 2 * region.count())
      assert(misses(s) == 2)
    }
  }

  test("a directory whose part file is rewritten in place re-resolves, for a stream too") {
    withTempDir { dir =>
      // a bare part file (no .crc beside it) written into the table dir,
      // then overwritten through the same inode: the dir's own length and
      // mtime stay as they were, only the part file's move
      val table = Files.createDirectory(dir.resolve("region.parquet"))
      val part = table.resolve("part-00000.parquet")
      Files.write(part, partBytes(region, "parquet", dir))
      val dirMtime = Files.getLastModifiedTime(table)
      val s = spark.newSession()
      val before = StreamingOps.source(s, dir.toString, "region")
      assert(!before.schema.fieldNames.contains("extra"))

      Files.write(part, partBytes(region.withColumn("extra", lit(7L)), "parquet", dir))
      assert(Files.getLastModifiedTime(table) == dirMtime,
        "the rewrite must leave the directory's mtime alone")
      val src = StreamingOps.source(s, dir.toString, "region")
      assert(src.schema.fieldNames.last == "extra", src.schema.treeString)
      val extras = StreamingOps.toMemory(src, "graft_spec_resolver_inplace", OutputMode.Append)(
        src.stream.select(col("extra")))
        .distinct().collect().map(_.getLong(0)).toSeq
      assert(extras == Seq(7L), "the stream must carry the rewritten part's new column")
      assert(Formats.read(s, table.toString).columns.last == "extra")
    }
  }

  test("a hive-partitioned directory keeps its partition columns on a hit") {
    withTempDir { dir =>
      val table = dir.resolve("p.parquet").toString
      region.withColumn("p", col("r_regionkey") % 2).write.partitionBy("p").parquet(table)
      val s = spark.newSession()
      val miss = Formats.read(s, table)
      val hit = Formats.read(s, table)
      assert(misses(s) == 1)
      val uncached = s.read.parquet(table)
      assert(uncached.columns.last == "p")
      assert(hit.schema == uncached.schema && miss.schema == uncached.schema)
      assert(rows(hit.filter(col("p") === 1)) == rows(uncached.filter(col("p") === 1)))
      assert(hit.filter(col("p") === 1).queryExecution.executedPlan.toString
        .contains("PartitionFilters: [isnotnull(p"), "partition pruning must survive a hit")
    }
  }

  test("two sessions never share an entry") {
    val a = spark.newSession()
    val b = spark.newSession()
    Tables.t(a, TestSpark.sf, "nation")
    Tables.t(a, TestSpark.sf, "nation")
    assert(misses(a) == 1 && misses(b) == 0)
    Tables.t(b, TestSpark.sf, "nation")
    assert(misses(a) == 1 && misses(b) == 1, "b must resolve for itself")
    Tables.t(a, TestSpark.sf, "nation")
    assert(misses(a) == 1, "b's resolve must not evict a's entry")
  }
}
