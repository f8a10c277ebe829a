package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}

import graft.streaming.StreamingOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The one stream source and the one memory-sink runner of [[StreamingOps]]:
  *  - the source's schema cache follows the file: a table rewritten at the
  *    same path, or a directory-layout table that gains a part file, is
  *    re-resolved in the same session;
  *  - the NANOS read path: events whose `ts` is parquet INT64
  *    TIMESTAMP(NANOS) (no fixture has one) read as the µs truncation
  *    through `Tables.t` and through a stream op;
  *  - the runner's conf clamp is undone after the run, also when the stream
  *    fails, on a session whose shuffle partitions differ from the clamp.
  */
class StreamSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withTempDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft-stream-source")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  /** Writes `df` as one parquet file at `dest`, replacing what is there. */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame, dest: Path): Unit = {
    val tmp = dest.resolveSibling(dest.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(f => f.getName.startsWith("part-")).get
    Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  test("a file rewritten at the same path is re-resolved: new schema in the same session") {
    withTempDir { dir =>
      val events = dir.resolve("events.parquet")
      Files.copy(java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"), events)
      val before = StreamingOps.windowedTypeCounts(spark, dir.toString).count()
      assert(before > 0)
      val src0 = StreamingOps.source(spark, dir.toString, "events")
      assert(!src0.schema.fieldNames.contains("extra"))

      writeSingleFile(
        spark.read.parquet(s"${TestSpark.sf}/events.parquet").withColumn("extra", lit(7L)),
        events)
      val src = StreamingOps.source(spark, dir.toString, "events")
      assert(src.schema.fieldNames.toSeq ==
        src0.schema.fieldNames.toSeq :+ "extra", src.schema.treeString)
      val extras = StreamingOps.toMemory(src, "graft_spec_source_extra", OutputMode.Append)(
        src.stream.select(col("extra")))
        .distinct().collect().map(_.getLong(0)).toSeq
      assert(extras == Seq(7L), "the stream must carry the rewritten file's new column")
    }
  }

  test("a directory-layout table that gains a part file is re-resolved") {
    withTempDir { dir =>
      val table = dir.resolve("region.parquet").toString
      val region = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
      region.coalesce(1).write.parquet(table)
      val one = StreamingOps.source(spark, dir.toString, "region")
      assert(one.scanParts == 1)
      region.coalesce(1).write.mode("append").parquet(table)
      val two = StreamingOps.source(spark, dir.toString, "region")
      assert(two.scanParts == 2, "the cached partition count survived a new part file")
      val n = StreamingOps.toMemory(two, "graft_spec_source_dir", OutputMode.Append)(two.stream)
        .count()
      assert(n == 2 * region.count())
    }
  }

  test("events with a TIMESTAMP(NANOS) ts read as the µs truncation, batch and stream") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    withTempDir { dir =>
      val schema = MessageTypeParser.parseMessageType(
        """message events {
          |  required int64 event_id;
          |  required int64 ts (TIMESTAMP(NANOS,false));
          |  required int64 user_id;
          |  required binary event_type (STRING);
          |  required double value;
          |  required binary props (STRING);
          |}""".stripMargin)
      // 20 rows, one per user, each ts carrying sub-µs nanos to truncate
      val nanos = (0 until 20).map(i => 1704067200000000000L + i * 3600123456789L)
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString))
        .withType(schema)
        .withConf(new org.apache.hadoop.conf.Configuration())
        .build()
      val groups = new SimpleGroupFactory(schema)
      try nanos.zipWithIndex.foreach { case (n, i) =>
        w.write(groups.newGroup()
          .append("event_id", i.toLong).append("ts", n).append("user_id", i.toLong + 1)
          .append("event_type", "view").append("value", i.toDouble).append("props", "{}"))
      } finally w.close()
      val expected = nanos.map { n =>
        val us = n / 1000L
        LocalDateTime.ofEpochSecond(
          Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
          ZoneOffset.UTC)
      }

      assert(StreamingOps.source(spark, dir.toString, "events").schema("ts").dataType == LongType,
        "the NANOS column must surface as a raw long")
      val batch = Tables.t(spark, dir.toString, "events")
        .orderBy(col("user_id")).select(col("ts")).collect().map(_.get(0)).toSeq
      assert(batch == expected)
      val streamed = StreamingOps.foreachBatchUpsert(spark, dir.toString)
        .select(col("last_ts")).collect().map(_.get(0)).toSeq
      assert(streamed == expected)
    }
  }

  test("the runner restores shuffle partitions and no-data batches, also when the stream fails") {
    val s = spark.newSession()
    val parts = "spark.sql.shuffle.partitions"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    s.conf.set(parts, "8")
    s.conf.set(noData, "true")
    val src = StreamingOps.source(s, TestSpark.sf, "events")
    assert(src.scanParts < 4, "the fixture must sit below the clamp floor")
    // the clamp the runner runs under: max(4, scanParts), capped at the session's 8
    assert(StreamingOps.runTuned(s, src.scanParts)(s.conf.get(parts)) == "4")
    def restored() = assert(s.conf.get(parts) == "8" && s.conf.get(noData) == "true")
    restored()

    val counts = StreamingOps.toMemory(src, "graft_spec_runner_sink", OutputMode.Complete)(
      src.stream.groupBy(col("event_type")).count())
    restored()
    val batch = Tables.t(s, TestSpark.sf, "events").groupBy(col("event_type")).count()
    assert(counts.orderBy(col("event_type")).collect().toSeq ==
      batch.orderBy(col("event_type")).collect().toSeq)

    intercept[Exception] {
      StreamingOps.toMemory(src, "graft_spec_runner_fail", OutputMode.Append)(
        src.stream.select(expr("raise_error(concat('boom ', event_type))").as("x")))
    }
    restored()
    assert(s.streams.active.isEmpty, "a failed run must still stop its query")
  }
}
