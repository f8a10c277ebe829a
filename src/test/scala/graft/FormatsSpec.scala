package graft

import graft.sources.Formats
import org.scalatest.funsuite.AnyFunSuite

class FormatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("format sniffing by extension") {
    assert(Formats.fileFormat("/x/a.parquet") == Right(Formats.Parquet))
    assert(Formats.fileFormat("/x/a.parq") == Right(Formats.Parquet))
    assert(Formats.fileFormat("/x/a.csv") == Right(Formats.Csv))
    assert(Formats.fileFormat("/x/a.json") == Right(Formats.Json))
    assert(Formats.fileFormat("/x/a.avro") == Right(Formats.Avro))
    assert(Formats.fileFormat("/x/a.xyz").isLeft)
    assert(Formats.fileFormat("/x/noext").isLeft)
  }

  test("sanitize table name replaces non-identifier chars") {
    assert(Formats.sanitizeTableName("yellow_tripdata_2022-01") == "yellow_tripdata_2022_01")
    assert(Formats.sanitizeTableName("a.b c/d") == "a_b_c_d")
    assert(Formats.sanitizeTableName("ok_name_9") == "ok_name_9")
  }

  test("file stem") {
    assert(Formats.fileStem("/p/q/data.parquet") == "data")
    assert(Formats.fileStem("noext") == "noext")
  }

  test("register parquet file as view named after stem") {
    val (name, df) = Formats.registerTable(spark, s"${TestSpark.sf}/region.parquet")
    assert(name == "region")
    assert(spark.sql("SELECT count(*) FROM region").head().getLong(0) == df.count())
  }

  test("csv and json round trip through read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val src = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    src.write.mode("overwrite").option("header", "true").csv(s"$dir/r.csv")
    src.write.mode("overwrite").json(s"$dir/r.json")
    assert(Formats.read(spark, s"$dir/r.csv").count() == src.count())
    assert(Formats.read(spark, s"$dir/r.json").count() == src.count())
  }

  test("a directory given as a file: URI is sniffed from its part files and read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fmt_uri")
    try {
      val src = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
      val out = dir.resolve("compacted")
      src.repartition(2).write.parquet(out.toString)
      val uri = out.toUri.toString
      assert(uri.startsWith("file:"), uri)
      assert(Formats.fileFormat(uri, graft.sources.Listing.of(spark, uri)) ==
        Right(Formats.Parquet))
      assert(Formats.read(spark, uri).count() == src.count())
      assert(Formats.read(spark, out.toString).count() == src.count())
      // a dotted name that is no supported extension is sniffed from its parts
      val dotted = dir.resolve("v1.2").toString
      src.write.parquet(dotted)
      assert(Formats.read(spark, dotted).count() == src.count())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("a table directory given as a file: URI registers each of its entries") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fmt_tables")
    try {
      val src = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
      src.write.parquet(dir.resolve("regions.parquet").toString)
      src.write.option("header", "true").csv(dir.resolve("regions_csv.csv").toString)
      val names = Formats.registerDir(spark, dir.toUri.toString)
      assert(names == Seq("regions", "regions_csv"))
      names.foreach(n => assert(spark.table(n).count() == src.count(), n))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
