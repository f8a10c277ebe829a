package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main of the repo runs in (`Bench`,
  * `Verify`, the CLI, `tools.ScaleUp`, `tools.Probe`). A setting only one
  * caller needs stays with that caller, as a runtime SQL conf set after
  * [[start]].
  */
object LocalSession {
  /** Task threads: `SPARK_GRAFT_CPUS` if set, else every available core. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def start(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new GraftExtensions) // native kernels in SQL
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` under the given runtime SQL confs, then puts each key back
    * as it was, also when `body` throws: a key that was set gets its value
    * back, a key that was unset is unset again. A plan built in `body` reads
    * the confs when it executes, so `body` materializes what needs them.
    */
  def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val set = conf.getAll // the explicitly set keys only, no defaults
    val saved = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => conf.set(k, v) }
      body
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }
}
