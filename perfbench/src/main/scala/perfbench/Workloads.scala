package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The declared ops the benchmark runs, and the shared artifacts its traced
  * run probes. Membership is fixed; the seed only orders the ops.
  */
object Workloads {

  /** The events table read in batch and as Structured Streaming sources:
    * 4 of the 33 `events_*` ops and 2 of the 19 `stream_*` ops, picked from
    * measured per-op times by the rule in `perfbench/sample.py`.
    */
  val eventsStream: Seq[String] = Seq(
    "events_cuped", "events_forecast_sma", "events_interpolate", "events_stickiness",
    "stream_topk_purchasers", "stream_stream_join")

  /** A shared artifact's warm hook and the ops that read the artifact. */
  final case class Artifact(warm: (SparkSession, String) => Unit, consumers: Set[String])

  /** The dedup and graph shared artifacts, for the traced run's artifact probe. */
  val sharedArtifacts: Seq[Artifact] = Seq(
    Artifact((s, d) => graft.queries.DedupQ.warmShared(s, d),
      Set("dedup_ngram_jaccard", "dedup_containment")),
    Artifact(graft.queries.GraphQ.warmTrade, Set("graph_assortativity")),
    Artifact(graft.queries.GraphQ.warmCoPart, Set("graph_link_predict")))
}
