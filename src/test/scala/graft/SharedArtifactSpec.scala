package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The [[SharedArtifact]] policy: one value per (session object, dir), built
  * once under the lock, rebuilt on any switch — and, for an on-disk
  * artifact, rebuilt when its output is gone.
  */
class SharedArtifactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A counting artifact, taken back out of the registry afterwards so the
    * uses-consistency check only sees the query modules' artifacts. */
  private def withArtifact(body: (SharedArtifact[AnyRef], AtomicInteger) => Unit): Unit = {
    val builds = new AtomicInteger()
    val a = new SharedArtifact[AnyRef]("spec_counter")((_, _) => {
      builds.incrementAndGet()
      Thread.sleep(20) // widen the race window for concurrent callers
      new Object
    })
    try body(a, builds) finally SharedArtifact.registry.remove(a)
  }

  /** An on-disk counting artifact over a fresh temp dir: the build writes a
    * `_SUCCESS` file into the dir and returns it, the probe checks the file
    * is still there. */
  private def withLayout(body: (SharedArtifact[File], AtomicInteger, String) => Unit): Unit = {
    val builds = new AtomicInteger()
    val root = Files.createTempDirectory("graft-layout").toFile
    val a = SharedArtifact.onDisk[File]("spec_layout")((_, out) => out.isFile) { (_, dir) =>
      builds.incrementAndGet()
      val out = new File(dir, "_SUCCESS")
      Files.write(out.toPath, Array.emptyByteArray)
      out
    }
    try body(a, builds, root.getPath) finally {
      SharedArtifact.registry.remove(a)
      new File(root, "_SUCCESS").delete()
      root.delete()
    }
  }

  test("the same (session, dir) returns the identical value object") {
    withArtifact { (a, builds) =>
      val v = a(spark, "d1")
      assert(a(spark, "d1") eq v)
      assert(a(spark, "d1") eq v)
      assert(builds.get == 1)
      assert(a.holds(spark, "d1"))
    }
  }

  test("8 concurrent first callers run the build exactly once") {
    withArtifact { (a, builds) =>
      val pool = Executors.newFixedThreadPool(8)
      val start = new CountDownLatch(1)
      try {
        val call: Callable[AnyRef] = () => { start.await(); a(spark, "d1") }
        val futures = (1 to 8).map(_ => pool.submit(call))
        start.countDown()
        val values = futures.map(_.get(30, TimeUnit.SECONDS))
        assert(builds.get == 1)
        assert(values.forall(_ eq values.head))
      } finally pool.shutdownNow()
    }
  }

  test("a different dir rebuilds and drops the old slot") {
    withArtifact { (a, builds) =>
      val v1 = a(spark, "d1")
      val v2 = a(spark, "d2")
      assert(builds.get == 2)
      assert(!(v1 eq v2))
      assert(a.holds(spark, "d2") && !a.holds(spark, "d1"))
    }
  }

  test("spark.newSession() rebuilds") {
    withArtifact { (a, builds) =>
      val v1 = a(spark, "d1")
      val other = spark.newSession()
      val v2 = a(other, "d1")
      assert(builds.get == 2)
      assert(!(v1 eq v2))
      assert(a.holds(other, "d1") && !a.holds(spark, "d1"))
    }
  }

  test("an on-disk artifact with its output intact does not rebuild") {
    withLayout { (a, builds, dir) =>
      assert(a.onDisk)
      val v = a(spark, dir)
      assert(a(spark, dir) eq v)
      assert(builds.get == 1)
    }
    withArtifact((a, _) => assert(!a.onDisk))
  }

  test("an on-disk artifact whose output was deleted rebuilds on the same (session, dir)") {
    withLayout { (a, builds, dir) =>
      val out = a(spark, dir)
      assert(out.delete())
      assert(a(spark, dir).isFile)
      assert(builds.get == 2)
    }
  }

  test("an on-disk artifact rebuilds for spark.newSession()") {
    withLayout { (a, builds, dir) =>
      a(spark, dir)
      val other = spark.newSession()
      a(other, dir)
      assert(builds.get == 2)
      assert(a.holds(other, dir) && !a.holds(spark, dir))
    }
  }
}

/** Bench's warmup list comes from `Declared.uses`: every consumer of a
  * layout artifact gets it pre-built, in-memory artifacts only under a probe
  * filter. */
class BenchWarmSpec extends AnyFunSuite {
  private val layouts = Set(
    "layout_bucketed_tables", "layout_partitioned_events", "layout_event_class_dim",
    "layout_compact_input", "layout_schema_diff_right", "layout_ivfpq_index")

  test("a filtered probe warms every artifact its queries use") {
    assert(Bench.warmArtifacts(Some(Set("q_dpp_prune"))).map(_.name).toSet ==
      Set("layout_partitioned_events", "layout_event_class_dim"))
    assert(Bench.warmArtifacts(Some(Set("q_bucketed_agg", "op_compare_equal"))).map(_.name).toSet ==
      Set("layout_bucketed_tables", "sorted_lineitem"))
  }

  test("the full suite warms every layout artifact and no in-memory one") {
    val warmed = Bench.warmArtifacts(None)
    assert(warmed.map(_.name).toSet == layouts)
    assert(warmed.forall(_.onDisk))
    // forcing `declared` registered every artifact: none on disk is missed
    assert(SharedArtifact.registry.asScala.filter(_.onDisk).toSet == warmed.toSet)
  }
}

/** `Declared.uses` is checked, not trusted: every artifact consumer runs in a
  * fresh session, so every artifact starts stale, and the artifacts it built
  * must be exactly the ones it declares (dependencies included). A consumer
  * that reads an undeclared artifact — or declares one it never reads —
  * fails here. Bench warms isolated probes from these lists.
  */
class DeclaredUsesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("every artifact consumer builds exactly the artifacts it declares") {
    val consumers = SparkEntry.declared.filter(_.uses.nonEmpty)
    // forcing `declared` initialized every query module, so every artifact
    // has registered by now
    val artifacts = SharedArtifact.registry.asScala.toSeq
    assert(artifacts.nonEmpty)
    assert(artifacts.map(_.name).distinct.size == artifacts.size,
      s"artifact names must be unique: ${artifacts.map(_.name).sorted}")
    val declaredSomewhere = consumers.flatMap(_.uses).toSet
    assert(artifacts.toSet == declaredSomewhere,
      s"artifacts no query declares: ${artifacts.filterNot(declaredSomewhere).map(_.name)}")
    val mismatches = consumers.flatMap { d =>
      assert(!d.uses.contains(null), s"${d.name}: uses lists an artifact before it is defined")
      assert(d.uses.distinct.size == d.uses.size, s"${d.name}: duplicate uses")
      val session = spark.newSession()
      d.run(session, sf).collect()
      val built = artifacts.filter(_.holds(session, sf)).map(_.name).toSet
      val declared = d.uses.map(_.name).toSet
      if (built == declared) None
      else Some(s"${d.name}: built ${built.toSeq.sorted} but declares ${declared.toSeq.sorted}")
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
    info(s"${consumers.size} consumers of ${artifacts.size} artifacts checked")
  }
}
