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
}
