package graft.cli

import graft.operators._
import graft.sources.Formats
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** CLI mirroring the reference's seven subcommands
  * (/root/reference/src/bin/main.rs:29-99). Thin by design: every command is
  * one call into the operators package; the driver talks to SparkEntry, not
  * this.
  *
  * Usage:
  *   view <file> [--limit N]
  *   schema <file>
  *   count --table <file>
  *   convert [--single-file] [--zstd] <in> <out>
  *   query [--table f]... [--tables dir] (--sql s | --sql-file f) [--output p] [--verbose]
  *   view-parquet-meta <file>
  *   compare <f1> <f2> [--epsilon e] [--no-header-row] [--key c1,c2]
  *   describe <file> [--columns c1,c2]          (extension: per-column stats)
  *   compact <inDir> <outDir> [--target-mb N]   (extension: small-file rewrite)
  *   schema-diff <left> <right>                 (extension: evolution report, exit -1 on drift)
  *
  * `compare --key` routes to the order-free keyed compare
  * ([[Compare.summarizeByKey]]) — one full-outer equi-join, no global sort or
  * positional snapshot, so it's the at-scale path. Positional compare stays
  * the default for bdt parity (keyless files).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.start()
    try {
      val exit = dispatch(spark, args.toList)
      spark.stop()
      if (exit != 0) sys.exit(exit)
    } catch {
      case e: Exception =>
        System.err.println(s"Error: ${e.getMessage}")
        spark.stop()
        sys.exit(-1)
    }
  }

  /** Bad invocation (missing positional, nothing to do): usage to stderr +
    * exit 1, distinct from runtime failures (exit -1 via the main catch).
    */
  private final case class UsageError(msg: String) extends RuntimeException(msg)

  private def required(ps: List[String], n: Int, usage: String): List[String] = {
    if (ps.length < n) throw UsageError(s"missing argument(s)\nusage: $usage")
    ps
  }

  private def flag(args: List[String], name: String): Boolean = args.contains(name)

  private def opt(args: List[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case `name` :: v :: Nil => v }

  private def opts(args: List[String], name: String): List[String] =
    args.sliding(2).collect { case `name` :: v :: Nil => v }.toList

  private def positional(args: List[String]): List[String] = {
    val flagNames = Set("--single-file", "-s", "--zstd", "-z", "--verbose", "-v", "--no-header-row")
    val valueFlags = Set("--limit", "--table", "--tables", "--sql", "--sql-file", "--output",
      "--epsilon", "--key", "--columns", "--target-mb")
    def loop(rest: List[String]): List[String] = rest match {
      case Nil => Nil
      case f :: _ :: tail if valueFlags(f) => loop(tail)
      case f :: tail if flagNames(f) => loop(tail)
      case x :: tail => x :: loop(tail)
    }
    loop(args)
  }

  /** Runs `df` once, prints its first `numRows` rows as `df.show` would and
    * returns every row, so a command that also tests the rows (for its exit
    * code) does not run the plan a second time. For small reports only.
    */
  private def showOnce(spark: SparkSession, df: DataFrame, numRows: Int): Seq[Row] = {
    val rows = df.collect().toSeq
    spark.createDataFrame(rows.asJava, df.schema).show(numRows, truncate = false)
    rows
  }

  def dispatch(spark: SparkSession, args: List[String]): Int =
    try dispatchImpl(spark, args)
    catch { case UsageError(m) => System.err.println(m); 1 }

  private def dispatchImpl(spark: SparkSession, args: List[String]): Int = args match {
    case "view" :: rest =>
      val path = required(positional(rest), 1, "view <file> [--limit N]").head
      val limit = opt(rest, "--limit").map(_.toInt).getOrElse(10)
      val df = Formats.read(spark, path)
      // --limit 0 = all rows (reference parity). Stream partitions through
      // the driver one at a time (toLocalIterator) instead of collecting the
      // whole dataset for show() — unbounded output, bounded driver memory.
      if (limit == 0) {
        val cols = df.columns
        println(cols.mkString("\t"))
        df.toLocalIterator().forEachRemaining { row =>
          println(cols.indices.map(i =>
            if (row.isNullAt(i)) "NULL" else row.get(i).toString).mkString("\t"))
        }
      } else df.show(limit, truncate = false)
      0

    case "schema" :: rest =>
      SchemaOp.describePath(spark, required(positional(rest), 1, "schema <file>").head)
        .show(1000, truncate = false)
      0

    case "count" :: rest =>
      val path = opt(rest, "--table").getOrElse(
        required(positional(rest), 1, "count --table <file>").head)
      val (name, _) = Formats.registerTable(spark, path)
      spark.sql(s"SELECT COUNT(*) FROM $name").show()
      0

    case "convert" :: rest =>
      val ps = required(positional(rest), 2, "convert [--single-file] [--zstd] <in> <out>")
      Convert.convert(spark, ps(0), ps(1),
        singleFile = flag(rest, "--single-file") || flag(rest, "-s"),
        zstd = flag(rest, "--zstd") || flag(rest, "-z"))
      0

    case "query" :: rest =>
      val sql = opt(rest, "--sql").orElse(
        opt(rest, "--sql-file").map(f =>
          new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)))))
        .getOrElse(throw UsageError(
          "usage: query [--table f]... [--tables dir] (--sql s | --sql-file f) [--output p] [--verbose]"))
      QueryRunner.run(spark, opts(rest, "--table"), opt(rest, "--tables"), sql,
        opt(rest, "--output"), flag(rest, "--verbose") || flag(rest, "-v"))
        .show(100, truncate = false)
      0

    case "view-parquet-meta" :: rest =>
      val path = required(positional(rest), 1, "view-parquet-meta <file>").head
      ParquetMeta.fileInfo(spark, path).show(truncate = false)
      ParquetMeta.metadata(spark, path).show(1000, truncate = false)
      0

    case "compare" :: rest =>
      val ps = required(positional(rest), 2,
        "compare <f1> <f2> [--epsilon e] [--no-header-row] [--key c1,c2]")
      val epsilon = opt(rest, "--epsilon").map(_.toDouble).getOrElse(0.0)
      val result = opt(rest, "--key") match {
        case Some(keys) =>
          // order-free keyed compare: no sort/snapshot, scales like a join;
          // honors --no-header-row exactly like the positional branch
          def readSide(p: String) =
            if (flag(rest, "--no-header-row") && p.toLowerCase.endsWith(".csv"))
              Formats.readCsvNoHeader(spark, p)
            else Formats.read(spark, p)
          Compare.summarizeByKey(
            readSide(ps(0)), readSide(ps(1)),
            keys.split(",").map(_.trim).toSeq, epsilon)
        case None =>
          Compare.compareFiles(spark, ps(0), ps(1),
            epsilon = epsilon,
            noHeaderRow = flag(rest, "--no-header-row"))
      }
      // exit -1 on mismatch like the reference (main.rs:104-107,241-246)
      if (showOnce(spark, result, 20).head.getBoolean(4)) 0 else -1

    case "describe" :: rest =>
      val df = Formats.read(spark,
        required(positional(rest), 1, "describe <file> [--columns c1,c2]").head)
      val numeric = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name
      }.toSeq
      val cols = opt(rest, "--columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(numeric)
      if (cols.isEmpty) throw UsageError(
        "describe: no numeric columns found; name columns explicitly with --columns c1,c2")
      Describe.describe(df, cols).orderBy("col_name").show(1000, truncate = false)
      0

    case "compact" :: rest =>
      val ps = required(positional(rest), 2, "compact <inDir> <outDir> [--target-mb N]")
      val targetBytes = opt(rest, "--target-mb").map(_.toLong).getOrElse(128L) * 1024 * 1024
      val (before, after) = Compact.compact(spark, ps(0), ps(1), targetBytes)
      println(s"files: $before -> $after")
      0

    case "schema-diff" :: rest =>
      // extension: schema evolution report between two snapshots — exit -1
      // when schemas differ (gate semantics mirroring compare's)
      val ps = required(positional(rest), 2, "schema-diff <left> <right>")
      val d = SchemaDiff.diff(spark, Formats.read(spark, ps(0)), Formats.read(spark, ps(1)))
      if (showOnce(spark, d, 1000).forall(_.getAs[String]("status") == "same")) 0 else -1

    case other =>
      System.err.println(s"unknown command: ${other.headOption.getOrElse("")}")
      System.err.println(
        "commands: view schema count convert query view-parquet-meta compare describe compact schema-diff")
      1
  }
}
