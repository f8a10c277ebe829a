package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one op share the op's root span as ancestor;
  * Spark jobs, stages and streaming batches attach to the span that was open
  * when they started.
  */
final case class Span(
    id: Int, var parent: Int, name: String, layer: String,
    startNs: Long, var endNs: Long, attrs: mutable.Map[String, Double] = mutable.Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span store plus the Spark listeners that feed it. Listeners are
  * registered only while a traced pass runs; spans are written out once, when
  * the benchmark ends.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val nextId = new AtomicInteger(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val jobSpans = mutable.Map.empty[Int, Span]
  /** Layer counters for the current traced pass; reset by `beginPass`. */
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val streamRows = mutable.Map.empty[String, Long]
  // wall clock of span starts, to place listener events (epoch ms) on the
  // same axis as the nanoTime spans
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  val PropKey = "perfbench.span"

  private def add(name: String, layer: String, parent: Int, start: Long, end: Long): Span = synchronized {
    val s = Span(nextId.getAndIncrement(), parent, name, layer, start, end)
    spans += s
    s
  }

  /** Run `body` inside a span; jobs it launches carry the span id. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val parent = open.headOption.map(_.id).getOrElse(0)
    val s = add(name, layer, parent, System.nanoTime(), 0L)
    open.push(s)
    val prevProp = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      sc.setLocalProperty(PropKey, prevProp)
    }
  }

  private def count(key: String, v: Double): Unit = synchronized { counters(key) += v }

  private def parentOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(PropKey))).map(_.toInt).getOrElse(0)


  private def epochMsToNs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  private val sparkListener = new SparkListener {
    private val stageSubmit = mutable.Map.empty[Int, Long]
    private val stageJob = mutable.Map.empty[Int, Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // a stage's name and details hold the call site that launched the job
      val site = e.stageInfos.map(si => s"${si.name} ${si.details}").mkString(" ")
      val s = add(s"job ${e.jobId}", "exec", parentOf(e.properties), epochMsToNs(e.time), 0L)
      stageJob.synchronized(e.stageIds.foreach(stageJob(_) = s.id))
      if (site.contains("Tables.scala")) s.attrs("tables") = 1
      if (site.contains("Formats.scala") || site.contains("AvroRead.scala")) s.attrs("sources") = 1
      if (site.contains("localCheckpoint")) count("queries.checkpoint_jobs", 1)
      synchronized { jobSpans(e.jobId) = s }
      count("exec.jobs", 1)
      e.stageInfos.foreach(si => stageSubmit.synchronized(stageSubmit.getOrElseUpdate(si.stageId, e.time)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpans.remove(e.jobId).foreach { s =>
        s.endNs = epochMsToNs(e.time)
        if (s.attrs.contains("tables")) {
          counters("tables.resolve_jobs") += 1
          counters("tables.resolve_s") += s.seconds
        }
        if (s.attrs.contains("sources")) counters("sources.jobs") += 1
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.synchronized(stageSubmit(e.stageInfo.stageId) = t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      count("exec.stages", 1)
      stageSubmit.synchronized(stageSubmit.remove(si.stageId))
      val job = stageJob.synchronized(stageJob.remove(si.stageId)).getOrElse(0)
      for (a <- si.submissionTime; b <- si.completionTime)
        add(s"stage ${si.stageId}", "exec", job, epochMsToNs(a), epochMsToNs(b))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val submitted = stageSubmit.synchronized(stageSubmit.get(e.stageId))
      synchronized {
        counters("exec.tasks") += 1
        submitted.foreach(t => counters("exec.task_wait_s") += math.max(0L, e.taskInfo.launchTime - t) / 1e3)
        if (m != null) {
          counters("exec.task_cpu_s") += m.executorCpuTime / 1e9
          counters("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          counters("exec.shuffle_read_bytes") +=
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          counters("exec.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
          counters("exec.input_bytes") += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => count(s"catalyst.${p}_s", s.durationMs / 1e3))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      val end = epochMsToNs(java.time.Instant.parse(p.timestamp).toEpochMilli) +
        (d("triggerExecution") * 1e9).toLong
      val s = add(s"batch ${p.batchId}", "streaming", 0,
        end - (d("triggerExecution") * 1e9).toLong, end)
      synchronized {
        counters("streaming.batches") += 1
        counters("streaming.trigger_s") += d("triggerExecution")
        counters("streaming.query_planning_s") += d("queryPlanning")
        counters("streaming.wal_commit_s") += d("walCommit")
        counters("streaming.add_batch_s") += d("addBatch")
        streamRows(p.id.toString) = p.stateOperators.map(_.numRowsTotal).sum
      }
      s.attrs("state_rows") = p.stateOperators.map(_.numRowsTotal).sum.toDouble
    }
  }

  def beginPass(): Unit = {
    synchronized { counters.clear(); streamRows.clear() }
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain the listener bus so every event of the pass has been counted. */
  def endPass(): Map[String, Double] = {
    org.apache.spark.PerfbenchBridge.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    synchronized {
      counters("streaming.state_rows") += streamRows.values.sum.toDouble
      counters.toMap
    }
  }

  /** Streaming batches run on the stream thread; attach each to the op
    * span that covers its interval.
    */
  def attachBatches(): Unit = synchronized {
    val roots = spans.filter(_.parent == 0).filter(_.layer == "op")
    spans.filter(s => s.layer == "streaming" && s.parent == 0).foreach { b =>
      roots.find(r => r.startNs <= b.startNs && b.startNs <= r.endNs).foreach(r => b.parent = r.id)
    }
  }

  /** Span duration minus the part of it that its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, s.endNs - s.startNs - covered) / 1e9
  }

  /** Every span, ready to be written as JSON. */
  def spanRecords: Seq[Map[String, Any]] = synchronized {
    attachBatches()
    spans.toSeq.map { s =>
      Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s),
        "attrs" -> s.attrs.toMap)
    }
  }
}

/** Cumulative host and JVM noise counters, stamped on every run. */
object Noise {
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong).getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }
}
