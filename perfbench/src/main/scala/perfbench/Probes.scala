package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Traced-run probes that call one module's public functions directly. */
object Probes {

  private def seconds[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** The dedup and graph shared artifacts, built through their warm hooks on a
    * fresh fixture copy, then read once by each consumer op. Builds are
    * counted as the `localCheckpoint` jobs seen, so a consumer that rebuilds
    * an artifact lowers reads per build. Returns the metrics and each
    * consumer's output digest, for the output check.
    */
  def artifacts(spark: SparkSession, tracer: Tracer, fixtures: String, dir: java.nio.file.Path)
      : (Map[String, Double], Map[String, String]) = {
    Main.copyTree(java.nio.file.Paths.get(fixtures), dir)
    val data = dir.toString
    val arts = Workloads.sharedArtifacts
    val declared = graft.SparkEntry.declared.map(d => d.name -> d).toMap
    tracer.beginPass()
    val buildS = arts.map(a => seconds(a.warm(spark, data))._2).sum
    val consumers = arts.flatMap(_.consumers).sorted
    val reads = consumers.map { c =>
      val df = declared(c).run(spark, data)
      val (digest, s) = seconds(Digest.of(df).toString)
      (c, digest, s)
    }
    val builds = tracer.endPass().getOrElse("queries.checkpoint_jobs", 0.0)
    (Map(
      "queries.artifact_build_s" -> buildS,
      "queries.artifact_readout_s" -> reads.map(_._3).sum,
      "queries.artifact_reads_per_build" -> (if (builds > 0) reads.size / builds else 0.0)),
      reads.map(r => r._1 -> r._2).toMap)
  }

  private def medianOf3(body: => Any): Double =
    (1 to 3).map { _ =>
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e9
    }.sorted.apply(1)

  /** `Tables.t` per fixture table: listing plus schema inference. */
  def tables(spark: SparkSession, dir: String): Map[String, Double] = {
    val perTable = graft.Tables.names.map { n =>
      s"tables.t_ms.$n" -> medianOf3(graft.Tables.t(spark, dir, n).schema) * 1e3
    }
    val sorted = perTable.map(_._2).sorted
    (perTable :+ ("tables.t_ms" -> sorted(sorted.size / 2))).toMap
  }

  /** Nanoseconds per input row of one native kernel over a cached input:
    * the kernel's aggregate minus the same aggregate over a constant.
    */
  private def nsPerRow(input: DataFrame, kernel: Column): Double = {
    val rows = input.count()
    val withKernel = medianOf3(input.agg(sum(kernel.cast("double"))).head())
    val baseline = medianOf3(input.agg(sum(lit(1.0))).head())
    math.max(0.0, withKernel - baseline) * 1e9 / rows
  }

  /** The native similarity, hashing and MinHash kernels, each once over the
    * sf0.01 `documents` / `embeddings` tables.
    */
  def functions(spark: SparkSession, dir: String): Map[String, Double] = {
    import graft.functions._
    // each table 20 times over, so that the kernel, not the job, dominates
    val copies = spark.range(20).withColumnRenamed("id", "copy")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").crossJoin(copies)
      .select(col("embedding").as("a"), reverse(col("embedding")).as("b"))
      .withColumn("da", col("a").cast("array<double>")).withColumn("db", col("b").cast("array<double>"))
      .cache()
    val docs = spark.read.parquet(s"$dir/documents.parquet").crossJoin(copies)
      .select(col("doc_id"), col("copy"), col("text"), lower(col("text")).as("text2"),
        array_distinct(TextFns.words(col("text"))).as("wa"),
        array_distinct(TextFns.words(lower(col("text")))).as("wb")).cache()
    val shingles = docs.select((col("doc_id") * 20 + col("copy")).as("doc_id"), explode(TextFns.charShingles("text", 5)).as("sh"))
      .select(col("doc_id"), Md5Pair.md5_pair(col("sh")).as("h")).cache()
    try Map(
      "functions.cosine_sim_ns_per_row" -> nsPerRow(emb, CosineSim.cosine_sim(col("a"), col("b"))),
      "functions.sq_dist_ns_per_row" -> nsPerRow(emb, SqDist.sq_dist(col("da"), col("db"))),
      "functions.md5_pair_ns_per_row" -> nsPerRow(docs, Md5Pair.md5_pair(col("text")).getItem(0)),
      "functions.rolling_hash_ns_per_row" -> nsPerRow(docs, RollingHash.rolling_hash(col("text"))),
      "functions.jaccard_ns_per_row" -> nsPerRow(docs, TextFns.jaccard(col("wa"), col("wb"))),
      "functions.minhash_signature_ns_per_row" -> {
        val rows = shingles.count()
        medianOf3(shingles.groupBy("doc_id")
          .agg(MinHashSignatureAgg.minhash_signature(col("h").getItem(0), col("h").getItem(1), 64).as("s"))
          .agg(sum(size(col("s")))).head()) * 1e9 / rows
      })
    finally Seq(emb, docs, shingles).foreach(_.unpersist())
  }
}
