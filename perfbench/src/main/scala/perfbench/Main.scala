package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run inside one JVM: start a session, set the workload up
  * several times, run one untimed cold pass, then closed-loop passes over the
  * workload's ops (one client) until the time is up. Raw samples go to a
  * result file; `run.py` turns them into metrics and checks the outputs.
  * With `--session-only` the JVM only starts a session, records how long
  * that took and exits: a cold session start can only be repeated in a new
  * JVM.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --fixtures DIR
  *   --work DIR --result FILE [--inputs DIR]
  *        Main --session-only --work DIR --result FILE
  */
object Main {

  /** Timed passes, at least; `wall_s` is the median pass. */
  val MinPasses = 4
  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3

  final case class Sample(
      pass: Int, traced: Boolean, op: String, kind: String, seconds: Double,
      output: String, error: Option[String], exit: Int = 0,
      buildS: Double = 0, actionS: Double = 0)

  /** Writes the result and trace files; knows Scala maps, sequences and options. */
  val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  /** A `local[cpus]` session with `GraftExtensions`, and the seconds it took. */
  def startSession(work: Path, cpus: Int): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // room for every class the workload's ops generate: at Spark's default
      // of 100 entries the ops of one pass evict each other's classes, and an
      // op's warm time then depends on which ops ran before it
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  /** Generated-class cache size; the cold pass still compiles every class once. */
  val CodegenCacheEntries = 2000

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def need(n: String) = arg(args, n).getOrElse(sys.error(s"missing $n"))
    val work = Paths.get(need("--work")).toAbsolutePath
    val result = need("--result")
    val cpus = Runtime.getRuntime.availableProcessors
    if (args.contains("--session-only")) {
      val (spark, s) = startSession(work, cpus)
      json.writeValue(Paths.get(result).toFile, Map("session_start_s" -> s))
      spark.stop()
      return
    }
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val traced = need("--trace") == "1"
    val fixtures = need("--fixtures")
    val inputs = arg(args, "--inputs")
    val steal0 = Noise.stealTicks()

    val (spark, sessionStartS) = startSession(work, cpus)

    val cli = workload == "cli_files"
    require(cli || workload == "events_stream", s"unknown workload $workload")
    val script = if (cli) CliScript.load(inputs.getOrElse(sys.error("cli_files needs --inputs"))) else Nil

    // set-up, several times from the same empty state; the last one is used
    val setupS = mutable.ArrayBuffer.empty[Double]
    var dir: Path = null
    for (rep <- 1 to SetupReps) {
      val s0 = System.nanoTime()
      dir = work.resolve(s"rep$rep")
      Files.createDirectories(dir)
      if (cli) copyTree(Paths.get(inputs.get), dir.resolve("in"))
      else copyTree(Paths.get(fixtures), dir.resolve("data"))
      setupS += (System.nanoTime() - s0) / 1e9
    }
    val data = dir.resolve(if (cli) "in" else "data").toString

    val tracer = new Tracer(spark)
    val rng = new scala.util.Random(seed)
    val declared = graft.SparkEntry.declared.map(d => d.name -> d).toMap
    type Op = (String, String) // (id, kind)
    val ops: Seq[Op] =
      if (cli) script.map(c => (c.id, c.kind)) else Workloads.eventsStream.map(n => (n, "query"))

    def runOp(op: Op, pass: Int, tracing: Boolean): Sample = {
      val (id, kind) = op
      val s0 = System.nanoTime()
      var build = 0.0
      var action = 0.0
      def timed[T](name: String)(body: => T): T = {
        val a = System.nanoTime()
        try (if (tracing) tracer.span(name, "queries")(body) else body)
        finally {
          val d = (System.nanoTime() - a) / 1e9
          if (name == "build") build = d else action = d
        }
      }
      def body(): (String, Int) =
        if (cli) {
          val out = work.resolve(s"out/p$pass")
          Files.createDirectories(out)
          CliScript.run(spark, script.find(_.id == id).get, data, out.toString)
        } else {
          val df: DataFrame = timed("build")(declared(id).run(spark, data))
          (timed("action")(Digest.of(df)).toString, 0)
        }
      val (output, exit, err) =
        try {
          val (o, e) = if (tracing) tracer.span(id, "op")(body()) else body()
          (o, e, None)
        } catch {
          case t: Throwable =>
            val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).reduceLeft((_, c) => c)
            ("", -1, Some(s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(300)}"))
        }
      Sample(pass, tracing, id, kind, (System.nanoTime() - s0) / 1e9, output, err, exit, build, action)
    }

    // one cold pass, timed as part of set-up: each op's first run pays
    // codegen, class loading and lazy set-up. The JVM compiles with C1 only
    // (see run.py), so its code is close to steady after this pass
    val coldT0 = System.nanoTime()
    val warm = rng.shuffle(ops).map(op => runOp(op, 0, tracing = false))
    val coldS = (System.nanoTime() - coldT0) / 1e9

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passSeconds = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val layerPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val gc0 = Noise.gcSeconds()
    val timedT0 = System.nanoTime()
    def timeUp = (System.nanoTime() - timedT0) / 1e9 >= seconds
    var pass = 0
    while (pass < MinPasses || !timeUp || (traced && !passSeconds.exists(_._2))) {
      pass += 1
      // a traced run alternates plain and traced passes: the plain ones give
      // the same run's untraced pass time, for the tracing overhead
      val tracing = traced && pass % 2 == 0
      if (tracing) tracer.beginPass()
      val p0 = System.nanoTime()
      // whole passes only, so every op has the same share of the samples
      rng.shuffle(ops).foreach(op => samples += runOp(op, pass, tracing))
      passSeconds += ((pass, tracing, (System.nanoTime() - p0) / 1e9))
      if (tracing) layerPasses += tracer.endPass()
    }
    val gcS = Noise.gcSeconds() - gc0

    val (probes, probeDigests): (Map[String, Double], Map[String, String]) =
      if (!traced) (Map.empty, Map.empty)
      else if (cli) (CliScript.probes(spark, tracer, script, data, work.resolve("probe")), Map.empty)
      else {
        val (art, digests) = Probes.artifacts(spark, tracer, fixtures, work.resolve("probe"))
        (Probes.tables(spark, data) ++ Probes.functions(spark, data) ++ art, digests)
      }

    val bytesRatio = if (cli) CliScript.bytesWrittenPerInputByte(script, data, work.resolve(s"out/p$pass")) else 0.0
    val stealTicks = { val s = Noise.stealTicks(); if (s < 0 || steal0 < 0) -1L else s - steal0 }

    def sampleJson(s: Sample) = Map(
      "pass" -> s.pass, "traced" -> s.traced, "op" -> s.op, "kind" -> s.kind, "seconds" -> s.seconds,
      "output" -> s.output, "error" -> s.error, "exit" -> s.exit, "build_s" -> s.buildS,
      "action_s" -> s.actionS)
    val out = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "session_start_s" -> sessionStartS,
      "setup_s" -> setupS.toSeq,
      "cold_pass_s" -> coldS,
      "first_op_s" -> (timedT0 - t0) / 1e9,
      "passes" -> passSeconds.map { case (p, t, s) => Map("pass" -> p, "traced" -> t, "seconds" -> s) }.toSeq,
      "warm" -> warm.map(sampleJson),
      "samples" -> samples.toSeq.map(sampleJson),
      "layers" -> layerPasses.toSeq,
      "probes" -> probes, "probe_digests" -> probeDigests,
      "bytes_written_per_input_byte" -> bytesRatio,
      "gc_s" -> gcS, "steal_ticks" -> stealTicks, "peak_rss_mb" -> Noise.peakRssMb())
    json.writeValue(Paths.get(result).toFile, out)
    if (traced) json.writeValue(Paths.get(result + ".trace.json").toFile, tracer.spanRecords)
    try spark.stop() catch { case _: Throwable => () }
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Bytes of the data files under a path (Spark's bookkeeping files excluded). */
  def dataBytes(path: Path): Long = {
    if (!Files.exists(path)) 0L
    else {
      val walk = Files.walk(path)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }.map(Files.size).sum
      finally walk.close()
    }
  }
}
