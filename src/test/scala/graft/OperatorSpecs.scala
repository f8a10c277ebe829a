package graft

import graft.operators.{Compact, Convert, ParquetMeta, SchemaOp}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SchemaOpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("ANSI type names") {
    assert(SchemaOp.ansiTypeName(LongType) == "BIGINT")
    assert(SchemaOp.ansiTypeName(StringType) == "VARCHAR")
    assert(SchemaOp.ansiTypeName(ArrayType(FloatType)) == "FLOAT[]")
    assert(SchemaOp.ansiTypeName(DecimalType(12, 2)) == "DECIMAL(12,2)")
    assert(SchemaOp.ansiTypeName(TimestampNTZType) == "TIMESTAMP")
  }

  test("describe shape matches information_schema.columns") {
    val df = SchemaOp.describePath(spark, s"${TestSpark.sf}/lineitem.parquet")
    assert(df.columns.toSeq ==
      Seq("column_name", "data_type", "is_nullable", "ordinal_position"))
    assert(df.count() == 11)
    assert(df.head().getString(0) == "l_orderkey")
  }
}

class ConvertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("parquet -> csv -> parquet preserves rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conv").toString
    val in = s"${TestSpark.sf}/region.parquet"
    Convert.convert(spark, in, s"$dir/r.csv", singleFile = true)
    Convert.convert(spark, s"$dir/r.csv", s"$dir/r.parquet")
    val a = spark.read.parquet(in)
    val b = spark.read.parquet(s"$dir/r.parquet")
    assert(a.count() == b.count())
    assert(a.columns.toSeq == b.columns.toSeq)
  }

  test("zstd + single-file writes one zstd part file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conv2").toString
    Convert.convert(spark, s"${TestSpark.sf}/nation.parquet", s"$dir/n.parquet",
      singleFile = true, zstd = true)
    val parts = new java.io.File(s"$dir/n.parquet").listFiles()
      .filter(f => f.getName.startsWith("part-"))
    assert(parts.length == 1)
    val meta = ParquetMeta.metadata(spark, parts.head.getPath)
    assert(meta.select("compression").distinct().head().getString(0) == "ZSTD")
  }

  test("convert does not leak writer conf into the session (dictionary stays on)") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    def encodings(dir: String): Set[String] = {
      val part = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).head
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(part.getPath), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala)
        .flatMap(_.getEncodings.asScala.map(_.name)).toSet
      finally r.close()
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_conv3").toString
    Convert.convert(spark, s"${TestSpark.sf}/nation.parquet", s"$dir/c.parquet")
    // convert itself writes without dictionary pages (reference writes PLAIN)
    assert(!encodings(s"$dir/c.parquet").exists(_.contains("DICTIONARY")))
    // ...but the session conf is untouched, so a plain follow-up write keeps
    // Spark's default dictionary encoding (this regressed when convert set
    // parquet.enable.dictionary on the session-global Hadoop conf)
    assert(spark.sparkContext.hadoopConfiguration.get("parquet.enable.dictionary") == null)
    spark.read.parquet(s"${TestSpark.sf}/nation.parquet")
      .write.mode("overwrite").parquet(s"$dir/plain.parquet")
    assert(encodings(s"$dir/plain.parquet").exists(_.contains("DICTIONARY")))
  }

  test("avro output rejected like the reference") {
    intercept[IllegalArgumentException] {
      Convert.convert(spark, s"${TestSpark.sf}/region.parquet", "/tmp/x.avro")
    }
  }

  test("avro input converts to parquet (the reference's canonical avro flow)") {
    // `bdt convert in.avro out.parquet` is what the reference's avro read
    // support exists for — prove the same flow end-to-end here
    val dir = java.nio.file.Files.createTempDirectory("graft_conv5").toString
    val nation = Tables.t(spark, TestSpark.sf, "nation")
    graft.sources.AvroRead.writeFixture(nation, s"$dir/n.avro")
    Convert.convert(spark, s"$dir/n.avro", s"$dir/n.parquet")
    val back = spark.read.parquet(s"$dir/n.parquet")
    assert(back.count() == nation.count())
    assert(back.columns.toSeq == nation.columns.toSeq)
  }

  test("parquet -> orc -> read round trip (engine extension)") {
    // the sniffer knows .orc, so convert must write it rather than
    // MatchError (regression: Orc was added to Formats without a write arm)
    val dir = java.nio.file.Files.createTempDirectory("graft_conv4").toString
    Convert.convert(spark, s"${TestSpark.sf}/region.parquet", s"$dir/r.orc")
    val a = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    val b = graft.sources.Formats.read(spark, s"$dir/r.orc")
    assert(b.count() == a.count())
    assert(b.columns.toSeq == a.columns.toSeq)
  }
}

class ParquetMetaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("footer stats match the data") {
    val path = s"${TestSpark.sf}/region.parquet"
    val meta = ParquetMeta.metadata(spark, path)
    val n = spark.read.parquet(path).count()
    assert(meta.select("row_group_num_rows").head().getLong(0) == n)
    val names = meta.select("path_in_schema").collect().map(_.getString(0)).toSet
    assert(names == Set("r_regionkey", "r_name"))
    // string min/max decoded as UTF-8, not raw bytes
    val rName = meta.filter(meta("path_in_schema") === "r_name").head()
    assert(rName.getAs[String]("stats_min_value").nonEmpty)
    assert(rName.getAs[String]("type") == "BYTE_ARRAY")
  }

  test("fileInfo totals") {
    val info = ParquetMeta.fileInfo(spark, s"${TestSpark.sf}/region.parquet").head()
    assert(info.getLong(1) == 5L) // rows
    assert(info.getInt(3) == 2)   // columns
  }
}

/** information_schema SQL-queryability (reference enables DataFusion's
  * information_schema session-wide, main.rs:111).
  */
class InformationSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("information_schema views queryable through the query op") {
    val df = graft.operators.QueryRunner.run(
      spark,
      tables = Seq(s"${TestSpark.sf}/region.parquet"),
      tableDir = None,
      sql = """SELECT table_name, column_name, data_type
               FROM information_schema_columns
               WHERE table_name = 'region' ORDER BY ordinal_position""")
    val rows = df.collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("r_regionkey", "r_name"))
    assert(rows.forall(_.getString(0) == "region"))
    val tables = spark.sql(
      "SELECT table_type FROM information_schema_tables WHERE table_name = 'region'")
    assert(tables.head().getString(0) == "VIEW")
  }
}

class CliExtensionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("describe and compact CLI verbs dispatch cleanly") {
    val in = Tables.scratch("cli_compact_in")
    val out = Tables.scratch("cli_compact_out")
    spark.range(1000).toDF("v").repartition(4).write.mode("overwrite").parquet(in)
    assert(graft.cli.Main.dispatch(spark, List("describe", in)) == 0)
    assert(graft.cli.Main.dispatch(spark,
      List("compact", in, out, "--target-mb", "512")) == 0)
    assert(spark.read.parquet(out).count() == 1000L)
  }

  test("query --output runs its SQL once, prints its rows in order and writes the same rows") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val s = spark.newSession()
    val in = Tables.scratch("cli_query_in")
    s.range(50).toDF("v").withColumn("w", (col("v") * 7) % 11)
      .repartition(3).write.mode("overwrite").parquet(s"$in/t.parquet")
    val out = s"${Tables.scratch("cli_query_out")}/r.parquet"
    val sql = "SELECT w, count(*) AS n, sum(v) AS s FROM t GROUP BY w ORDER BY n DESC, w"
    // count the executions that scan the input: one per run of the SQL
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (collect(qe.executedPlan) { case x: FileSourceScanExec => x }.nonEmpty)
          scans.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val buf = new java.io.ByteArrayOutputStream()
    s.listenerManager.register(listener)
    try {
      Console.withOut(buf) {
        assert(graft.cli.Main.dispatch(s,
          List("query", "--table", s"$in/t.parquet", "--sql", sql, "--output", out)) == 0)
      }
      org.apache.spark.sql.GraftListenerBridge.drain(s)
    } finally s.listenerManager.unregister(listener)
    assert(scans.get == 1, s"the query ran ${scans.get} times")
    s.read.parquet(s"$in/t.parquet").createOrReplaceTempView("t")
    val want = s.sql(sql)
    val shown = new java.io.ByteArrayOutputStream()
    Console.withOut(shown)(want.show(100, truncate = false))
    assert(buf.toString("UTF-8") == shown.toString("UTF-8"))
    // part files carry no order on read: re-sort by the query's own order
    assert(s.read.parquet(out).orderBy(col("n").desc, col("w")).collect().toSeq ==
      want.collect().toSeq)
  }

  test("schema-diff CLI verb: exit 0 on same schema, -1 on drift") {
    val a = Tables.scratch("cli_sdiff_a")
    val b = Tables.scratch("cli_sdiff_b")
    spark.range(10).toDF("v").write.mode("overwrite").parquet(a)
    spark.range(10).toDF("v")
      .withColumn("extra", org.apache.spark.sql.functions.lit("x"))
      .write.mode("overwrite").parquet(b)
    assert(graft.cli.Main.dispatch(spark, List("schema-diff", a, a)) == 0)
    assert(graft.cli.Main.dispatch(spark, List("schema-diff", a, b)) == -1)
  }
}

class CompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshDirs(tag: String): (String, String) =
    (Tables.scratch(s"compact_spec_in_$tag"), Tables.scratch(s"compact_spec_out_$tag"))

  test("compaction to a huge target collapses to one file, content preserved") {
    val (in, out) = freshDirs("one")
    spark.range(100000).toDF("v").repartition(16)
      .write.mode("overwrite").parquet(in)
    val (before, after) = Compact.compact(spark, in, out, 1L << 30)
    assert(before == 16 && after == 1, s"before=$before after=$after")
    val got = spark.read.parquet(out)
    assert(got.count() == 100000L)
    assert(got.agg(sum(col("v"))).head().getLong(0) == 100000L * 99999 / 2)
  }

  test("target smaller than total yields multiple files near ceil(total/target)") {
    val (in, out) = freshDirs("multi")
    spark.range(200000).toDF("v").repartition(32)
      .write.mode("overwrite").parquet(in)
    val (_, total) = Compact.stats(spark, in)
    val target = total / 4
    val (_, after) = Compact.compact(spark, in, out, target)
    val expected = ((total + target - 1) / target).toInt
    assert(after == expected, s"after=$after expected=$expected")
    assert(spark.read.parquet(out).count() == 200000L)
  }
}

/** Round-5 robustness pins (VERDICT r4 #7): partitioned-dir Compact behavior,
  * Describe identifier safety, CLI usage-error paths.
  */
class CompactPartitionedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stats recurses into hive partitions; compact fails fast on them") {
    val in = Tables.scratch("compact_part_spec_in")
    spark.range(10000).toDF("v")
      .withColumn("p", col("v") % 4)
      .write.mode("overwrite").partitionBy("p").parquet(in)

    val (files, bytes) = Compact.stats(spark, in)
    assert(files >= 4, s"partitioned data files not counted: $files")
    assert(bytes > 0L, "partitioned bytes must not read as 0 (pre-fix coalesce(1) bug)")

    val e = intercept[IllegalArgumentException] {
      Compact.compact(spark, in, Tables.scratch("compact_part_spec_out"), 1L << 20)
    }
    assert(e.getMessage.contains("partition"), e.getMessage)
  }

  test("stats on a RELATIVE input path under a hidden ancestor still counts data") {
    // an unqualified dir never equals the fs-qualified file URIs at the
    // ancestor-walk stop sentinel, so the walk escapes the input dir; with a
    // hidden ancestor component (.hidden here, a dot-dir in cwd in the wild)
    // every file classifies non-data → stats (0, 0) → silent coalesce(1)
    val abs = Tables.scratch("compact_rel_spec") + "/.hidden/in"
    spark.range(1000).toDF("v").coalesce(2).write.mode("overwrite").parquet(abs)
    val cwd = new java.io.File(".").getCanonicalPath
    val rel = java.nio.file.Paths.get(cwd).relativize(java.nio.file.Paths.get(abs)).toString
    val (files, bytes) = Compact.stats(spark, rel)
    assert(files == 2 && bytes > 0L, s"relative-path stats broken: ($files, $bytes)")
  }

  test("an empty or metadata-only subdirectory does not abort compaction") {
    val in = Tables.scratch("compact_emptydir_spec_in")
    spark.range(1000).toDF("v").coalesce(2).write.mode("overwrite").parquet(in)
    new java.io.File(s"$in/leftover_tmp").mkdirs()      // empty subdir
    new java.io.File(s"$in/backup/_staging").mkdirs()   // metadata-only subdir
    val out = Tables.scratch("compact_emptydir_spec_out")
    val (before, after) = Compact.compact(spark, in, out, 1L << 30)
    assert(before == 2 && after >= 1)
  }
}

class DescribeQuotingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("column names with dots, spaces and hyphens survive describe") {
    val df = Seq((1.0, 2.0, 3.0), (3.0, 4.0, 5.0))
      .toDF("a.b", "a b", "a-b")
    val got = graft.operators.Describe.describe(df, Seq("a.b", "a b", "a-b"))
      .orderBy(col("col_name")).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a b", "a-b", "a.b"))
    // values flow through, not just names: mean of a.b is 2.0
    val ab = got.find(_.getString(0) == "a.b").get
    assert(ab.getLong(1) == 2L && ab.getDouble(3) == 2.0)
  }
}

class CliUsageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("missing positionals yield exit 1, not an exception") {
    assert(graft.cli.Main.dispatch(spark, List("view")) == 1)
    assert(graft.cli.Main.dispatch(spark, List("schema")) == 1)
    assert(graft.cli.Main.dispatch(spark, List("count")) == 1)
    assert(graft.cli.Main.dispatch(spark, List("convert", "only-one")) == 1)
    assert(graft.cli.Main.dispatch(spark, List("compare", "one")) == 1)
    assert(graft.cli.Main.dispatch(spark, List("describe")) == 1)
    assert(graft.cli.Main.dispatch(spark, List("compact", "in-only")) == 1)
    assert(graft.cli.Main.dispatch(spark, List("query")) == 1)
  }

  test("describe with zero numeric columns yields exit 1") {
    import spark.implicits._
    val p = Tables.scratch("cli_usage_strings.parquet")
    Seq("x", "y").toDF("s").write.mode("overwrite").parquet(p)
    assert(graft.cli.Main.dispatch(spark, List("describe", p)) == 1)
  }
}
