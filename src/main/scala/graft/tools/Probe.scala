package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftListenerBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{LocalSession, SharedArtifact, SparkEntry, Tables}

/** Plan and timing evidence taken from the code that actually runs:
  * `runMain graft.tools.Probe <name> [sfDir]`, where `name` is a declared
  * query or a [[SharedArtifact]] and `sfDir` defaults to the verify
  * fixture. Every Dataset action the build runs (an artifact's eager
  * `localCheckpoint`, each round of a loop, the final count) is printed
  * with its seconds and its formatted plan as executed, so the scans and
  * rounds behind a checkpointed readout are visible. A declared query also
  * prints the formatted plan of the DataFrame it returns and two timed
  * counts: construction is inside the timing (some ops execute eagerly at
  * build time), and the second run is the warm, bench-comparable number.
  */
object Probe {
  /** One Dataset action as its session ran it. */
  final case class Action(func: String, seconds: Double, plan: String, executed: SparkPlan)

  /** What [[report]] captured; `plan` and `runs` are empty for an artifact. */
  final case class Report(actions: Seq[Action], plan: Option[String], runs: Seq[(Long, Double)]) {
    def text: String = (
      actions.zipWithIndex.map { case (a, i) =>
        f"== action ${i + 1}: ${a.func} ${a.seconds}%.3f s ==\n${a.plan}"
      } ++ plan.map("== returned DataFrame ==\n" + _) ++
        runs.zipWithIndex.map { case ((n, sec), i) => s"run=${i + 1} rows=$n time=${sec}s" }
    ).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val (name, sfDir) = args match {
      case Array(n) => (n, Tables.verifySfDir)
      case Array(n, d) => (n, d)
      case _ => sys.error("usage: graft.tools.Probe <query|artifact> [sfDir]")
    }
    val spark = LocalSession.start()
    try println(report(spark, name, sfDir).text) finally spark.stop()
  }

  /** Runs `name` in `spark.newSession()`, so every artifact it reads is
    * stale and rebuilt, and records every Dataset action of that session.
    * The listener is gone again when this returns.
    */
  def report(spark: SparkSession, name: String, dir: String): Report = {
    val query = SparkEntry.queries.get(name)
    // forcing `declared` (above) initialized every query module, so every
    // artifact has registered by now
    val artifact = SharedArtifact.registry.asScala.find(_.name == name)
    require(query.isDefined || artifact.isDefined, s"unknown query or artifact: $name")
    val s = spark.newSession()
    val seen = new ConcurrentLinkedQueue[(String, Long, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add((func, durationNs, qe))
      // a failed action's exception reaches report's caller
      def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    val (plan, runs) =
      try query match {
        case Some(q) =>
          val plan = q(s, dir).queryExecution.explainString(FormattedMode)
          val runs = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            val n = q(s, dir).count()
            (n, (System.nanoTime() - t0) / 1e9)
          }
          (Some(plan), runs)
        case None =>
          artifact.get(s, dir)
          (None, Nil)
      } finally {
        // listener calls are asynchronous: wait until every action posted
        // so far has been recorded
        GraftListenerBridge.drain(s)
        s.listenerManager.unregister(listener)
      }
    val actions = seen.asScala.toSeq.map { case (func, ns, qe) =>
      Action(func, ns / 1e9, qe.explainString(FormattedMode), qe.executedPlan)
    }
    Report(actions, plan, runs)
  }
}
