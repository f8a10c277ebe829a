package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File

/** File-format handling: extension sniffing, table-name sanitization and
  * table registration.
  *
  * Reference behavior (re-expressed, not ported):
  *  - format-by-extension map `avro/csv/json/parquet|parq`
  *    (/root/reference/src/utils.rs:12-33)
  *  - `sanitize_table_name` replaces every non `[A-Za-z0-9_]` char with `_`
  *    (/root/reference/src/utils.rs:41-51)
  *  - `register_table` registers one file-backed table and returns a lazy
  *    DataFrame (/root/reference/src/utils.rs:53-87); CSV assumes a header
  *    row and inferred schema, JSON is newline-delimited.
  *  - "Arrow" format is declared but unimplemented in the reference
  *    (/root/reference/src/utils.rs:59-61); we do not add it (SURVEY §7.5).
  */
object Formats {

  sealed abstract class FileFormat(val name: String)
  case object Avro extends FileFormat("avro")
  case object Csv extends FileFormat("csv")
  case object Json extends FileFormat("json")
  case object Parquet extends FileFormat("parquet")
  /** Engine extension beyond the reference's format map: ORC is a Spark
    * built-in columnar source/sink (footer stats, predicate pushdown) and a
    * bdt user migrating a lakehouse will meet it; costs one match arm.
    */
  case object Orc extends FileFormat("orc")

  /** Sniff the format of a path from its extension. A path named with a
    * supported extension is that format, file or directory alike (Spark
    * writes `out.parquet` as a directory of parquet parts), and nothing is
    * listed. Any other directory, given its [[Listing]], is sniffed from its
    * first data file, as the reference registers dirs of parquet (its
    * `src/bin/main.rs:154-166`) — from a Hadoop FS listing, so a `file:` URI
    * or a cluster path sniffs like a local one.
    */
  def fileFormat(path: String, listing: => Option[Listing] = None): Either[String, FileFormat] =
    byExtension(path, path).left.flatMap { _ =>
      val first = listing.filter(_.isDirectory).flatMap(_.dataLeaves.headOption)
      byExtension(first.map(_.path.getName).getOrElse(path), path)
    }

  private def byExtension(name: String, path: String): Either[String, FileFormat] =
    extension(name) match {
      case Some("avro")             => Right(Avro)
      case Some("csv")              => Right(Csv)
      case Some("json")             => Right(Json)
      case Some("orc")              => Right(Orc)
      case Some("parquet" | "parq") => Right(Parquet)
      case Some(other)              => Left(s"unsupported file extension '$other'")
      case None                     => Left(s"no file extension in '$path'")
    }

  private def extension(path: String): Option[String] = {
    val name = new File(path).getName
    val i = name.lastIndexOf('.')
    if (i <= 0 || i == name.length - 1) None
    else Some(name.substring(i + 1).toLowerCase)
  }

  /** File stem (name without the final extension). */
  def fileStem(path: String): String = {
    val name = new File(path).getName
    val i = name.lastIndexOf('.')
    if (i <= 0) name else name.substring(0, i)
  }

  /** Replace every char outside [A-Za-z0-9_] with '_' so a file stem is a
    * legal SQL table identifier (e.g. `yellow_tripdata_2022-01` →
    * `yellow_tripdata_2022_01`).
    */
  def sanitizeTableName(name: String): String =
    name.map(c => if (c.isLetterOrDigit || c == '_') c else '_')

  /** Read a file/dir with the sniffed format, its schema resolved once per
    * session and input fingerprint ([[InputResolver]]). CSV: header +
    * inferred schema; JSON: newline-delimited (Spark's default); Avro via
    * the avro-mapred Hadoop input format ([[AvroRead]] — no spark-avro
    * connector needed; its schema comes from one file header, no job).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    def resolved(format: String, options: Map[String, String] = Map.empty) =
      InputResolver.read(spark, format, options, path)
    fileFormat(path, Listing.of(spark, path)) match {
      case Right(Csv)     => resolved("csv", Map("header" -> "true", "inferSchema" -> "true"))
      case Right(Json)    => resolved("json")
      case Right(Orc)     => resolved("orc")
      case Right(Parquet) => resolved("parquet")
      case Right(Avro)    => AvroRead.read(spark, path)
      case Left(err)      => throw new IllegalArgumentException(err)
    }
  }

  /** CSV read without a header row (columns become _c0, _c1, ...) — used by
    * compare's `--no-header-row` escape hatch.
    */
  def readCsvNoHeader(spark: SparkSession, path: String): DataFrame =
    InputResolver.read(spark, "csv", Map("header" -> "false", "inferSchema" -> "true"), path)

  /** Register one file as a temp view named after its sanitized stem.
    * Returns (viewName, DataFrame).
    */
  def registerTable(spark: SparkSession, path: String): (String, DataFrame) = {
    val name = sanitizeTableName(fileStem(path))
    val df = read(spark, path)
    df.createOrReplaceTempView(name)
    (name, df)
  }

  /** Register every entry of a directory as its own table (reference
    * `--tables <dir>`, /root/reference/src/bin/main.rs:154-166). Listed
    * through the Hadoop FS, so a `file:` URI or a cluster path works too.
    */
  def registerDir(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val entries = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
    entries.map(_.getPath).sortBy(_.getName).map(f => registerTable(spark, f.toString)._1).toSeq
  }
}
