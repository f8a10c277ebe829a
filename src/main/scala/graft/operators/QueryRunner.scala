package graft.operators

import graft.sources.Formats
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `query` op: register files/dirs as temp views named after their sanitized
  * stems, run arbitrary SQL, optionally write the result
  * (reference /root/reference/src/bin/main.rs:146-225).
  */
object QueryRunner {

  /** information_schema emulation: the reference enables DataFusion's
    * information_schema session-wide (main.rs:111) and its README demos
    * `SELECT * FROM information_schema.columns`. Spark temp views can't live
    * in a dotted schema, so the views are `information_schema_tables` /
    * `information_schema_columns` — same shape (and the same ANSI type
    * spellings as SchemaOp, so the output is DuckDB-information_schema
    * comparable). Metadata-only: built from spark.catalog on the driver,
    * rows ∝ number of registered views.
    */
  def registerInformationSchema(spark: SparkSession): Unit = {
    val names = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).sorted
      .filterNot(_.startsWith("information_schema_"))

    val tSchema = StructType(Seq(
      StructField("table_catalog", StringType, nullable = false),
      StructField("table_schema", StringType, nullable = false),
      StructField("table_name", StringType, nullable = false),
      StructField("table_type", StringType, nullable = false)))
    val tRows = names.map(n => Row("spark_catalog", "main", n, "VIEW")).toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(tRows, 1), tSchema)
      .createOrReplaceTempView("information_schema_tables")

    val cSchema = StructType(Seq(
      StructField("table_name", StringType, nullable = false),
      StructField("column_name", StringType, nullable = false),
      StructField("ordinal_position", IntegerType, nullable = false),
      StructField("is_nullable", StringType, nullable = false),
      StructField("data_type", StringType, nullable = false)))
    val cRows = names.flatMap { n =>
      // a session can hold views whose backing files are gone (temp outputs
      // from earlier ops); skip those instead of failing the whole catalog
      scala.util.Try(spark.table(n).schema).toOption.toSeq.flatMap {
        _.fields.zipWithIndex.map { case (f, i) =>
          Row(n, f.name, i + 1, if (f.nullable) "YES" else "NO",
            SchemaOp.ansiTypeName(f.dataType))
        }
      }
    }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(cRows, 1), cSchema)
      .createOrReplaceTempView("information_schema_columns")
  }

  /** @param tables   individual files to register
    * @param tableDir optional directory whose entries all get registered
    * @param output   optional result path; extension must be .csv or .parquet
    *                 (reference rejects others, main.rs:210-221). With an
    *                 output the result is materialized once, in order, and
    *                 the write and the returned frame both read that
    *                 snapshot, so showing the result runs nothing again.
    * @param verbose  print logical + physical plan (reference main.rs:183-186)
    */
  def run(
      spark: SparkSession,
      tables: Seq[String],
      tableDir: Option[String],
      sql: String,
      output: Option[String] = None,
      verbose: Boolean = false): DataFrame = {

    tables.foreach(p => Formats.registerTable(spark, p))
    tableDir.foreach(d => Formats.registerDir(spark, d))
    registerInformationSchema(spark)

    val df = spark.sql(sql)
    if (verbose) df.explain(true)

    output.fold(df) { out =>
      val lower = out.toLowerCase
      if (!lower.endsWith(".csv") && !lower.endsWith(".parquet"))
        throw new IllegalArgumentException(
          s"unsupported output extension for '$out' (use .csv or .parquet)")
      val snapshot = df.localCheckpoint()
      if (lower.endsWith(".csv"))
        snapshot.write.mode("overwrite").option("header", "true").csv(out)
      else snapshot.write.mode("overwrite").parquet(out)
      snapshot
    }
  }
}
