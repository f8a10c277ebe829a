package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.ExecutionListenerCount
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** [[Probe.report]] records what a declared query or shared artifact
  * actually runs, and leaves the session as it found it.
  */
class ProbeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("the rec basket build scans lineitem once and orders once") {
    val r = Probe.report(spark, "rec_tagged_baskets", sf)
    assert(r.actions.map(_.func) == Seq("localCheckpoint"))
    // through AQE: collect descends into the final plan and its query stages
    val scanned = r.actions.flatMap(a => collect(a.executed) {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.getName)
    }).flatten
    assert(scanned.count(_ == "lineitem.parquet") == 1, scanned)
    assert(scanned.count(_ == "orders.parquet") == 1, scanned)
    assert(r.actions.head.plan.contains("Scan parquet"))
  }

  test("a declared query reports its plan and its row count") {
    val r = Probe.report(spark, "q1_pricing_summary", sf)
    val expected = SparkEntry.queries("q1_pricing_summary")(spark, sf).count()
    assert(r.plan.exists(_.contains("== Physical Plan ==")))
    assert(r.runs.size == 2 && r.runs.forall(_._1 == expected))
    // the timed counts are Dataset actions too
    assert(r.actions.count(_.func == "count") == 2)
    assert(r.text.contains(s"rows=$expected"))
  }

  test("an unknown name fails naming it") {
    val e = intercept[IllegalArgumentException](Probe.report(spark, "no_such_thing", sf))
    assert(e.getMessage.contains("no_such_thing"))
  }

  test("no artifact shares a name with a declared query") {
    val queries = SparkEntry.declared.map(_.name).toSet
    val artifacts = SharedArtifact.registry.asScala.map(_.name).toSet
    assert(artifacts.nonEmpty)
    assert((queries intersect artifacts).isEmpty)
  }

  test("report leaves no listener behind") {
    val before = ExecutionListenerCount(spark)
    Probe.report(spark, "q1_pricing_summary", sf)
    assert(ExecutionListenerCount(spark) == before)
  }
}
