package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The cli_files workload: a generated script of bdt commands, each run
  * through `graft.cli.Main.dispatch` exactly as the command line would run it.
  * The harness keeps each command's stdout and exit code for the checks.
  */
object CliScript {

  final case class Command(id: String, kind: String, args: Seq[String]) {
    def bind(in: String, out: String): List[String] =
      args.map(_.replace("{in}", in).replace("{out}", out)).toList
    def inputs(in: String): Seq[Path] =
      args.filter(_.startsWith("{in}/")).map(a => Paths.get(a.replace("{in}", in)))
    def output(out: String): Option[Path] =
      args.find(_.startsWith("{out}/")).map(a => Paths.get(a.replace("{out}", out)))
  }

  /** The script in the generator's manifest, in its seeded order. */
  def load(inputsDir: String): Seq[Command] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(inputsDir, "manifest.json").toFile)
    m.get("commands").elements().asScala.map { c =>
      Command(c.get("id").asText, c.get("kind").asText, c.get("args").elements().asScala.map(_.asText).toSeq)
    }.toSeq
  }

  /** Run one command; returns its stdout and exit code. */
  def run(spark: SparkSession, c: Command, in: String, out: String): (String, Int) = {
    val buf = new ByteArrayOutputStream()
    val exit = Console.withOut(buf)(graft.cli.Main.dispatch(spark, c.bind(in, out)))
    (buf.toString("UTF-8"), exit)
  }

  /** Bytes that convert, compact and `query --output` wrote in one pass,
    * over the bytes of the inputs those commands read.
    */
  def bytesWrittenPerInputByte(script: Seq[Command], in: String, passOut: Path): Double = {
    val writers = script.filter(c => Set("convert", "compact", "query_output")(c.kind))
    val read = writers.flatMap(_.inputs(in)).map(Main.dataBytes).sum
    val written = writers.flatMap(_.output(passOut.toString)).map(Main.dataBytes).sum
    if (read == 0) 0.0 else written.toDouble / read
  }

  private def timeS[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Traced-run probes of the layers under the CLI: `sources` (read plus
    * schema per format, and the Spark jobs that schema inference launches)
    * and `operators` (convert writes, positional compare throughput).
    */
  def probes(spark: SparkSession, tracer: Tracer, script: Seq[Command], in: String, dir: Path): Map[String, Double] = {
    Files.createDirectories(dir)
    val files = Seq("parquet" -> "lineitem.parquet", "csv" -> "lineitem.csv",
      "json" -> "orders.json", "avro" -> "orders.avro")
    val sources = files.flatMap { case (fmt, f) =>
      val runs = (1 to 3).map { _ =>
        tracer.beginPass()
        val (_, s) = timeS(graft.sources.Formats.read(spark, s"$in/$f").schema)
        (s, tracer.endPass().getOrElse("exec.jobs", 0.0))
      }
      Seq(s"sources.read_s.$fmt" -> median(runs.map(_._1)), s"sources.read_jobs.$fmt" -> median(runs.map(_._2)))
    }
    val targets = Seq("lineitem.csv", "lineitem.json", "lineitem_zstd.parquet")
    val (_, convertS) = timeS(targets.foreach { t =>
      graft.operators.Convert.convert(spark, s"$in/lineitem.parquet", dir.resolve(t).toString,
        zstd = t.endsWith(".parquet"))
    })
    val written = targets.map(t => Main.dataBytes(dir.resolve(t))).sum
    val (rows, compareS) = timeS {
      val r = graft.operators.Compare.compareFiles(spark, s"$in/lineitem.parquet",
        s"$in/lineitem_near.parquet", epsilon = 0.01).head()
      r.getAs[Long]("rows_left")
    }
    val distinctInputs = script.flatMap(_.inputs(in)).distinct.size
    (sources ++ Seq(
      "operators.convert_write_s" -> convertS,
      "operators.convert_bytes_written" -> written.toDouble,
      "operators.compare_rows_per_s" -> rows / compareS,
      "sources.distinct_files" -> distinctInputs.toDouble)).toMap
  }
}
