package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.queries.QualityQ
import graft.sources.InputResolver

/** Structured Streaming operators over the events table.
  *
  * The reference is batch-only (SURVEY §1.1), so these are extension ops:
  * the same event analytics, incremental. Local smoke drives a finite
  * parquet file through a real streaming query (memory sink +
  * processAllAvailable); on a cluster the identical code tails a directory /
  * Kafka source.
  *
  * State store at scale: every op here is provider-agnostic — at 100 TB
  * state the deployment sets
  * `spark.sql.streaming.stateStore.providerClass = RocksDBStateStoreProvider`
  * so per-executor state is disk-bounded RocksDB instead of JVM heap;
  * RocksDbStateStoreSpec proves that provider runs these aggregations in
  * this environment with identical results.
  *
  * Every run goes through [[runTuned]], so its checkpoint and state-store
  * files go through the no-fork [[CheckpointFiles]] manager.
  */
object StreamingOps {

  // memory-sink temp views use FIXED names: a fresh name per invocation
  // would pin every past invocation's sink rows in driver memory for the
  // JVM lifetime (the dedup sink holds one row per unique event). With a
  // fixed name, starting the next query replaces the view and the previous
  // sink becomes GC-reclaimable — retention is bounded to the latest run.
  // Contract: each op's returned DataFrame must be consumed before the same
  // op is invoked again (Verify/Bench/specs are sequential).

  /** A file stream opened by [[source]]: the streaming frame, the raw
    * on-disk schema it was opened with, and the batch scan's partition
    * count (it sizes the state stores in [[runTuned]]). */
  private[graft] final case class Source(stream: DataFrame, schema: StructType, scanParts: Int)

  /** Opens `<dir>/<table>.parquet` as a file stream. In the read-only test
    * fixtures that path is a single FILE — the file source wants a
    * directory, so stream the parent glob-filtered to the one file. In any
    * production or scaled layout the table is a DIRECTORY of part files;
    * stream it directly (the glob would match nothing there: part files are
    * named part-*). Probed via Hadoop FS so the dispatch works on any
    * filesystem, not just local disk. The round-7 10x corpus caught this:
    * directory-layout tables made every glob-filtered stream read ZERO rows.
    *
    * `ts` (events only) is the type the `ts` column is normalized to,
    * `timestamp` or `timestamp_ntz` (see [[Tables.eventTsCol]]).
    */
  private[graft] def source(
      spark: SparkSession, dir: String, table: String, ts: Option[String] = None): Source = {
    if (table == "events") Tables.legacyNanos(spark)
    val path = s"$dir/$table.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val isDir = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).isDirectory
    // file-source streams need an explicit schema: the batch resolver's,
    // shared with Tables.t and re-resolved when the input's files move
    val (scan, entry) = InputResolver.resolve(spark, "parquet", Map.empty, path)
    val schema = entry.schema
    val rs = spark.readStream.schema(schema)
    val raw =
      if (isDir) rs.parquet(path)
      else rs.option("pathGlobFilter", s"$table.parquet").parquet(dir)
    Source(
      ts.fold(raw)(t => raw.withColumn("ts", Tables.eventTsCol(schema, t))),
      schema, entry.scanParts(scan))
  }

  /** Runs `frame` to completion into the memory sink `name` under
    * [[runTuned]] (state partitions sized to `src`), stopping the query
    * even when it fails, and returns the sink's table. */
  private[graft] def toMemory(
      src: Source, name: String, mode: OutputMode, noDataBatches: Boolean = false)(
      frame: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    runTuned(spark, src.scanParts, noDataBatches) {
      val q = frame.writeStream.outputMode(mode).format("memory").queryName(name).start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
  }

  /** Run a finite-replay streaming query with deployment-appropriate tuning,
    * restoring session confs afterwards:
    *
    *  - state partitions (= shuffle partitions at query start) sized to the
    *    INPUT's scan parallelism, clamped to [4, session default]. Each
    *    stateful operator pays a per-partition store load/commit every
    *    micro-batch (~100 ms × partitions × operators measured locally), so a
    *    100 k-row fixture must not carry 32 stores — while a 100 TB directory
    *    (thousands of splits) still gets the session default.
    *  - no-data micro-batches off: a finite replay needs no watermark-driven
    *    finalization batch (Complete-mode output is already full after the
    *    data batch; dedup emits first-seen rows in-batch). An unbounded
    *    append-mode deployment keeps them ON — that's what advances the
    *    watermark during lulls and evicts state.
    *  - checkpoint and state-store files through [[CheckpointFiles]]: on a
    *    local root they are written with no process forked (Spark's
    *    default manager forks a `readlink` per rename and Hadoop a `chmod`
    *    per file, ~600 processes per events_stream pass); any other root
    *    keeps Spark's FileContext-based manager.
    */
  private[graft] def runTuned[T](
      spark: SparkSession, scanParts: Int, noDataBatches: Boolean = false)(body: => T): T = {
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    graft.LocalSession.withConfs(spark,
      "spark.sql.shuffle.partitions" -> math.min(defaultParts, math.max(4, scanParts)).toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString,
      "spark.sql.streaming.checkpointFileManagerClass" -> classOf[CheckpointFiles].getName)(body)
  }

  /** Tumbling-window counts per event type, computed by a streaming query.
    * Complete mode (finite replay) so the final state includes every window;
    * an unbounded deployment would use append mode + withWatermark.
    */
  def windowedTypeCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "events", Some("timestamp_ntz"))
    toMemory(src, "graft_stream_window_sink", OutputMode.Complete)(src.stream
      .groupBy(window(col("ts"), "1 hour").getField("start").as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total")))
      .orderBy(col("h"), col("event_type"))
  }

  /** SLIDING windows (1 h length, 15 min slide): each event lands in 4
    * overlapping windows — the smoothing mode tumbling windows can't express
    * (a spike at :59 shows in the window starting :45, not only the one
    * that began an hour ago). Spark assigns each row its window set inside
    * the aggregate (an Expand of 4, no self-join); state is one row per
    * (window, type) like the tumbling case, just 4× the window count.
    */
  def slidingTypeCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "events", Some("timestamp_ntz"))
    toMemory(src, "graft_stream_sliding_sink", OutputMode.Complete)(src.stream
      .groupBy(
        window(col("ts"), "1 hour", "15 minutes").getField("start").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total")))
      .orderBy(col("ws"), col("event_type"))
  }

  /** Append-mode windowed counts — the UNBOUNDED-deployment mode the
    * Complete-mode variant's doc promises: a 10-minute watermark, windows
    * emitted exactly once when the watermark passes their end, state evicted
    * behind it. On a finite replay the watermark settles at max(ts) − 10 min
    * (the no-data finalization batch advances it — kept ON here, unlike the
    * other finite-replay drivers, because append-mode emission NEEDS it), so
    * the result is every window whose end ≤ that bound: deterministic, and
    * the oracle states the same cutoff. Windows still open at end-of-replay
    * are exactly what an unbounded run would also not yet have emitted.
    */
  def windowedTypeCountsAppend(spark: SparkSession, sfDir: String): DataFrame = {
    // watermarks require TIMESTAMP (LTZ); session TZ is UTC so the window
    // starts cast to NTZ below carry identical values to the batch oracle
    val src = source(spark, sfDir, "events", Some("timestamp"))
    // group on the window STRUCT itself — projecting/casting window.start
    // before the aggregation severs the event-time column the watermark is
    // attached to (append mode then rejects the plan); project after
    toMemory(src, "graft_stream_append_sink", OutputMode.Append, noDataBatches = true)(
      src.stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(
          col("w.start").cast("timestamp_ntz").as("h"),
          col("event_type"), col("n"), col("total")))
      .orderBy(col("h"), col("event_type"))
  }

  /** Streaming exact dedup: dropDuplicatesWithinWatermark over a content
    * hash (the incremental form of dedup_exact). Plain
    * dropDuplicates("content_key") would IGNORE the watermark for state
    * eviction — without the event-time column in the dedup keys its state
    * grows one entry per unique key forever; dropDuplicatesWithinWatermark
    * is the Spark 3.5+/4 operator whose state the watermark actually evicts,
    * so at 100 TB the store holds one hash per unique doc inside the
    * watermark horizon instead of the full history. (In a finite single-batch
    * replay like this fixture all rows share a batch, so the result equals a
    * global dedup and stays oracle-checkable.)
    */
  def dedupStream(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "events", Some("timestamp"))
    // the STREAMING operator here is the dedup (the one that needs state);
    // the per-type count is a batch readout over the deduped sink. Keeping
    // the count inside the stream would add a second stateful operator —
    // each one pays a per-partition state-store load/commit every
    // micro-batch, and at 100 TB the natural deployment is exactly this
    // split: streaming dedup → files/queue sink → downstream consumers
    // aggregate.
    toMemory(src, "graft_dedup_sink", OutputMode.Append)(src.stream
      // dedup key: the payload identity (same user+type+props = duplicate)
      .withColumn("content_key",
        md5(concat_ws("|", col("user_id"), col("event_type"), col("props"))))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_key")
      .select(col("event_type")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
      .orderBy(col("event_type"))
  }

  /** Stream-static enrichment join: streaming events joined to a STATIC
    * dimension (customer), then aggregated per (segment, type). The join is
    * STATELESS — Spark re-plans the static side per micro-batch and
    * broadcasts it (no state store, no watermark needed on an inner
    * stream-static join), which is exactly the 100 TB deployment shape: a
    * firehose enriched against a slowly-changing dim table; only the small
    * (segment × type) aggregate carries state.
    */
  def enrichedTypeCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "events")
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    toMemory(src, "graft_stream_enrich_sink", OutputMode.Complete)(src.stream
      .select(col("user_id"), col("event_type"), col("value"))
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total")))
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** Stream-stream interval join: clicks joined to purchases by the same
    * user within 30 minutes — both sides unbounded. This is the stateful
    * join shape (attribution, request/response matching): each side buffers
    * rows in a state store and the watermark + time-range condition bound
    * how long — a click older than watermark − 30 min can never match a
    * future purchase, so its state is evicted. Inner joins emit matches
    * in-batch, so a finite replay (one micro-batch, watermark still at its
    * initial floor) emits exactly every qualifying pair — same multiset as
    * the batch join the oracle runs.
    */
  def clickPurchaseJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (src, pairs) = clickPurchasePairs(spark, sfDir, "inner")
    toMemory(src, "graft_stream_join_sink", OutputMode.Append)(pairs)
      .orderBy(col("user_id"), col("click_ts"), col("purchase_ts"))
  }

  /** The click → purchase interval join of [[clickPurchaseJoin]] and
    * [[clickPurchaseJoinOuter]], joined `how`, with the clicks' source (it
    * sizes the state stores). Each side is its own events stream,
    * watermarked on TIMESTAMP (LTZ) as watermarks require; the outputs are
    * cast back to NTZ. */
  private def clickPurchasePairs(
      spark: SparkSession, sfDir: String, how: String): (Source, DataFrame) = {
    def side(src: Source, tpe: String, uid: String, tsName: String) = src.stream
      .filter(col("event_type") === tpe)
      .select(col("user_id").as(uid), col("ts").as(tsName))
      .withWatermark(tsName, "10 minutes")
    val clicks = source(spark, sfDir, "events", Some("timestamp"))
    val purchases = source(spark, sfDir, "events", Some("timestamp"))
    val pairs = side(clicks, "click", "c_uid", "ct")
      .join(
        side(purchases, "purchase", "p_uid", "pt"),
        col("c_uid") === col("p_uid") &&
          col("pt") >= col("ct") &&
          col("pt") <= col("ct") + expr("INTERVAL 30 MINUTES"),
        how)
      .select(
        col("c_uid").as("user_id"),
        col("ct").cast("timestamp_ntz").as("click_ts"),
        col("pt").cast("timestamp_ntz").as("purchase_ts"))
    (clicks, pairs)
  }

  /** Stream-stream LEFT OUTER interval join — the semantics the inner join
    * can't show: a click with no purchase within its 30-minute horizon
    * must still be emitted (with nulls), but only once the engine can
    * PROVE no future purchase can match — i.e. when the watermark passes
    * ct + 30 min and the click's buffered state is evicted. That makes
    * null emission watermark-DRIVEN: it requires the no-data finalization
    * batch (kept ON here, like append-mode windows), and on a finite
    * replay exactly the unmatched clicks older than
    * min(max click ts, max purchase ts) − 10 min − 30 min are emitted;
    * younger unmatched clicks are still buffered, exactly as an unbounded
    * run would hold them. The oracle reproduces that cutoff.
    */
  def clickPurchaseJoinOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val (src, pairs) = clickPurchasePairs(spark, sfDir, "left_outer")
    toMemory(src, "graft_stream_outer_sink", OutputMode.Append, noDataBatches = true)(pairs)
      .orderBy(col("user_id"), col("click_ts"), col("purchase_ts").asc_nulls_first)
  }

  /** Streaming incremental dedup: a document stream LEFT-ANTI joined against
    * a STATIC fingerprint index — the streaming form of dedup_incremental
    * (new docs flow in continuously; anything whose content fingerprint is
    * already in the corpus index is dropped in-flight). The anti join is
    * STATELESS: Spark re-plans the static side per micro-batch (on a cluster
    * the index is a slowly-growing table the batch indexer appends to), so
    * unlike dropDuplicatesWithinWatermark there is no per-key state store at
    * all — the stream never remembers what it passed; the INDEX is the
    * memory. That split (streaming filter → batch indexer owns the state) is
    * the deployment shape that survives 100 TB corpora: state size is the
    * index table's, not the stream engine's.
    */
  def incrementalDedupStream(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "documents")
    val fp = md5(regexp_replace(trim(col("text")), "\\s+", " ")).as("fp")
    // "already-ingested" corpus: same 80/20 split as dedup_incremental
    val index = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 10 < 8)
      .select(fp).distinct()
    // batch readout over the passed-through docs (same discipline as
    // dedupStream: the streaming operator is the anti join, the summary is
    // the consumer's)
    toMemory(src, "graft_incr_dedup_sink", OutputMode.Append)(src.stream
      .filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("lang"), fp)
      .join(index, Seq("fp"), "left_anti"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_new"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"))
  }

  /** The two 16-bit band keys of a 32-bit simhash — identical construction
    * to dedup_simhash_buckets, so the streaming gate and the batch bucket
    * inventory can never disagree on what "collides".
    */
  private def simhashBands(sh: org.apache.spark.sql.Column) = array(
    concat(lit("L"), sh.bitwiseAND(lit(0xFFFFL))),
    concat(lit("H"), shiftright(sh, 16).bitwiseAND(lit(0xFFFFL))))

  /** Streaming NEAR-dup gate — the serving half of the simhash family, the
    * same split [[incrementalDedupStream]] proves for EXACT dedup: the batch
    * indexer owns the memory (here: the distinct 16-bit band keys of the
    * already-ingested corpus, localCheckpointed once and re-joined per
    * micro-batch), the stream stays stateless. An incoming doc fingerprints
    * in-flight; any band collision with the index marks it SUSPECT (routed
    * to the exact-verify stage in production — band collision is the
    * standard Hamming-≤1 candidate guarantee, recall-biased by design), no
    * collision means provably novel at that radius and safe to ingest
    * directly. Readout: per-language novel/suspect counts + first novel doc.
    */
  def simhashDedupStream(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "documents")
    val idx = graft.operators.SimHash.simhash(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 10 < 8),
        "doc_id", "text")
      .select(explode(simhashBands(col("simhash"))).as("bucket"))
      .distinct().localCheckpoint()
    // per-doc flags accumulate batch over batch; a document is ONE stream
    // row, so the per-batch SimHash fold sees every token of a doc in the
    // same batch — fingerprints (and so the gate) are batching-invariant
    val sink = new GatedSink((flagged, batch) => {
      val sh = graft.operators.SimHash.simhash(batch, "doc_id", "text")
      val flags = sh
        .select(col("doc_id"), explode(simhashBands(col("simhash"))).as("bucket"))
        .join(idx.withColumn("hit", lit(1)), Seq("bucket"), "left")
        .groupBy(col("doc_id"))
        .agg((max(coalesce(col("hit"), lit(0))) === 1).as("suspect"))
      val out = batch.select(col("doc_id"), col("lang"))
        .join(flags, "doc_id").localCheckpoint(true)
      flagged.map(_.unionByName(out)).getOrElse(out)
    })
    val stream = src.stream
      .filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("lang"), col("text"))
    runTuned(spark, src.scanParts)(sink.drain(stream))
      .map(_.groupBy(col("lang"))
        .agg(
          sum(when(col("suspect"), 0L).otherwise(1L)).as("n_novel"),
          sum(when(col("suspect"), 1L).otherwise(0L)).as("n_suspect"),
          min(when(!col("suspect"), col("doc_id"))).as("first_novel"))
        .orderBy(col("lang")))
      .getOrElse(spark.emptyDataFrame)
  }

  /** Drift monitoring ON the ingest stream — dq_drift_psi's production
    * shape: the reference window (first 15 days) folds BATCH-side to
    * O(types) bin edges and O(types × 10) reference counts, both broadcast;
    * the current window then ARRIVES as a stream, each micro-batch bins
    * against the static edges (stream-static broadcast join, stateless) and
    * feeds one streaming aggregate whose state is the same O(types × bins)
    * grid — bounded regardless of stream length. The PSI readout over the
    * final state snapshot is the identical integer nano-unit arithmetic as
    * the batch op (counts are batching-invariant, so stream ≡ batch exactly
    * and the same oracle adjudicates both). The stream_topk
    * dashboard-over-state split, applied to data-quality monitoring.
    */
  def driftPsiStream(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "events", Some("timestamp_ntz"))
    val batch = Tables.t(spark, sfDir, "events")
      .select(col("event_type"), col("value"), to_date(col("ts")).as("d"))
    val cutoff = batch.agg(date_add(min(col("d")), 15).as("cut"))
      .localCheckpoint(true)
    val ref = batch.crossJoin(broadcast(cutoff)).filter(col("d") < col("cut"))
    val edges = ref.groupBy(col("event_type"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .localCheckpoint(true)
    val refCounts = ref.join(broadcast(edges), "event_type")
      .withColumn("bin", QualityQ.psiBin)
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("cr"))
      .localCheckpoint(true)
    val cur = toMemory(src, "graft_stream_psi_sink", OutputMode.Complete)(src.stream
      .select(col("event_type"), col("value"), to_date(col("ts")).as("d"))
      .crossJoin(broadcast(cutoff)).filter(col("d") >= col("cut"))
      .join(broadcast(edges), "event_type")
      .withColumn("bin", QualityQ.psiBin)
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("cc")))
    val perSide = refCounts
      .join(cur, Seq("event_type", "bin"), "full")
      .select(col("event_type"), col("bin"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cc"), lit(0L)).as("cc"))
    QualityQ.psiReadout(perSide)
  }

  /** Per-user CEP progress: earliest view, earliest click after it, and a
    * done flag so a completion emits exactly once across micro-batches. */
  case class PatternState(viewUs: Option[Long], clickUs: Option[Long], done: Boolean)
  case class PatternOut(
      user_id: Long, view_ts: java.sql.Timestamp, click_ts: java.sql.Timestamp,
      purchase_ts: java.sql.Timestamp, secs_to_convert: Long)

  /** Streaming pattern detection (the MATCH_RECOGNIZE / CEP shape Structured
    * Streaming expresses through custom state): per user, detect the first
    * strictly-ordered view → click → purchase and emit ONE completion row —
    * the conversion-path alert a growth team pages on, evaluated on the
    * ingest stream instead of a nightly batch. State per key is O(1) (two
    * optional timestamps + a done flag), carried by flatMapGroupsWithState
    * across micro-batches; rows are folded in event-time order within each
    * delivered batch (the finite-replay convention [[sessionize]]
    * documents), and the done flag makes the emission idempotent however
    * the replay is batched once per-key delivery is in ts order. The greedy
    * first-match semantics are exactly events_funnel's per-user logic, so
    * the batch SQL adjudicates the stream.
    */
  def patternDetect(
      events: Dataset[(Long, java.sql.Timestamp, String)]): Dataset[PatternOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[PatternState, PatternOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
         state: GroupState[PatternState]) =>
          val st0 = state.getOption.getOrElse(PatternState(None, None, done = false))
          if (st0.done) { Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(e => tsMicros(e._2))
            val (st, out) = sorted.foldLeft(
              (st0, Option.empty[PatternOut])) { case ((s, o), e) =>
              if (o.nonEmpty || s.done) (s, o)
              else {
                val t = tsMicros(e._2)
                e._3 match {
                  case "view" if s.viewUs.isEmpty =>
                    (s.copy(viewUs = Some(t)), o)
                  case "click" if s.viewUs.exists(_ < t) && s.clickUs.isEmpty =>
                    (s.copy(clickUs = Some(t)), o)
                  case "purchase" if s.clickUs.exists(_ < t) =>
                    (s.copy(done = true), Some(PatternOut(
                      userId, microsTs(s.viewUs.get), microsTs(s.clickUs.get),
                      microsTs(t),
                      Math.floorDiv(t - s.viewUs.get, 1000000L))))
                  case _ => (s, o)
                }
              }
            }
            state.update(st)
            out.iterator
          }
      }
  }

  /** Drive [[patternDetect]] as a real streaming query over the events file;
    * output timestamps return to NTZ (UTC-pinned session) per the fixture
    * convention.
    */
  def patternDetectStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = source(spark, sfDir, "events", Some("timestamp"))
    val stream = src.stream
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
    toMemory(src, "graft_stream_pattern_sink", OutputMode.Append)(patternDetect(stream).toDF())
      .select(
        col("user_id"),
        expr("CAST(view_ts AS TIMESTAMP_NTZ)").as("view_ts"),
        expr("CAST(click_ts AS TIMESTAMP_NTZ)").as("click_ts"),
        expr("CAST(purchase_ts AS TIMESTAMP_NTZ)").as("purchase_ts"),
        col("secs_to_convert"))
      .orderBy(col("user_id"))
  }

  /** Continuous top-k dashboard ("biggest spenders right now"): per-user
    * purchase totals maintained by a streaming aggregate whose state is
    * user-dimension-sized, read out as the top 10. Complete mode on the
    * finite replay; an unbounded deployment reads the same state through a
    * per-trigger foreachBatch top-k. Values fold to exact integer CENTS
    * inside the stream (round once per event), so the continuously-updated
    * state carries no float summation order — the property that makes the
    * streamed total equal the batch oracle's regardless of batching.
    */
  def topkPurchasersStream(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "events")
    // own sink name: sharing trendingTopK's would createOrReplace its temp
    // view with a different schema, breaking any deferred read of the other.
    // Readout over the user-dimension sink: top-10 then rank — the window
    // runs on 10 rows by construction
    toMemory(src, "graft_stream_topk_purchasers_sink", OutputMode.Complete)(src.stream
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("total_cents")))
      .orderBy(col("total_cents").desc, col("user_id")).limit(10)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("total_cents").desc, col("user_id"))))
      .select(col("rnk"), col("user_id"), col("n_purchases"), col("total_cents"))
      .orderBy(col("rnk"))
  }

  case class SessionState(start: Long, end: Long, n: Long, value: Double)
  case class SessionOut(
      user_id: Long, session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      n_events: Long, session_value: Double)

  // SessionState times are MICROSECONDS since epoch: java.sql.Timestamp
  // .getTime truncates to millis, which would both shift a session boundary
  // sitting within 1 ms of the gap and emit start/end timestamps that no
  // longer equal the source values (the oracle keeps micros).
  private def tsMicros(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Stateful streaming sessionization via flatMapGroupsWithState: emits a
    * session when 30 minutes pass with no activity (processing-time timeout
    * in production; here sessions are also flushed at end-of-stream by the
    * batch driver in the spec). State per key is O(1) — the canonical
    * mapGroupsWithState shape.
    */
  def sessionize(
      events: Dataset[(Long, java.sql.Timestamp, Double)],
      gapSeconds: Long = 1800L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[List[SessionState]]) =>
          // a finite replay delivers each key once with all its rows (one
          // micro-batch); fold them in time order into gap-separated sessions
          val sorted = rows.toSeq.sortBy(e => tsMicros(e._2))
          val sessions = sorted.foldLeft(List.empty[SessionState]) { (acc, e) =>
            val t = tsMicros(e._2)
            acc match {
              case head :: tail if t - head.end <= gapSeconds * 1000000L =>
                head.copy(end = t, n = head.n + 1, value = head.value + e._3) :: tail
              case _ =>
                SessionState(t, t, 1, e._3) :: acc
            }
          }
          state.update(Nil)
          sessions.reverse.iterator.map(s => SessionOut(
            userId, microsTs(s.start), microsTs(s.end), s.n, s.value))
      }
  }

  /** Drive `sessionize` as a real streaming query over the events file.
    * The finite replay arrives as ONE micro-batch (single source file), so
    * every key sees all its rows together and sessions close at end of
    * stream; an unbounded deployment keys the same fold off
    * GroupStateTimeout (event-time timeout at watermark + gap) instead of
    * end-of-batch — the per-key state is O(open sessions), not O(rows),
    * either way. Output timestamps go back to NTZ (the session is UTC-pinned,
    * so the cast is value-preserving) to match the fixture convention.
    */
  def sessionStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = source(spark, sfDir, "events", Some("timestamp"))
    val stream = src.stream
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
    toMemory(src, "graft_stream_session_sink", OutputMode.Append)(sessionize(stream).toDF())
      .select(
        col("user_id"),
        expr("CAST(session_start AS TIMESTAMP_NTZ)").as("session_start"),
        expr("CAST(session_end AS TIMESTAMP_NTZ)").as("session_end"),
        col("n_events"),
        round(col("session_value"), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Streaming trending top-k: the stream maintains daily per-type counts
    * (the stateful, incremental part — state is O(days × types), watermark-
    * evictable in an unbounded run), and the top-3 ranking is a batch
    * readout over the sink snapshot — exactly the production split, where a
    * dashboard ranks the continuously-maintained counters at render time
    * rather than asking the stream engine to hold a rank (which Structured
    * Streaming's no-windows-on-streams rule forbids anyway).
    */
  def trendingTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = source(spark, sfDir, "events", Some("timestamp_ntz"))
    val win = Window.partitionBy(col("d")).orderBy(col("n").desc, col("event_type"))
    toMemory(src, "graft_stream_topk_sink", OutputMode.Complete)(src.stream
      .groupBy(window(col("ts"), "1 day").getField("start").as("d"), col("event_type"))
      .agg(count(lit(1)).as("n")))
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 3)
      .select(col("d").cast("timestamp_ntz").as("d"), col("rk"),
        col("event_type"), col("n"))
      .orderBy(col("d"), col("rk"))
  }

  /** One foreachBatch merge step: fold a micro-batch into the running
    * (user_id → last event, total count) table. The batch side folds FIRST
    * (one row per user before touching the target), the keep-latest argmax
    * rides max(struct(ts, event_id, type)) inside the re-aggregate, and the
    * result is localCheckpointed so lineage stays one merge deep no matter
    * how many batches flow. At 100 TB the target is a keyed storage table
    * and this exact union-reaggregate is the MERGE the sink engine runs;
    * the state size is the target table's, not the stream engine's — the
    * same state-lives-in-the-table shape as incrementalDedupStream.
    */
  def mergeLatestBatch(target: Option[DataFrame], batch: DataFrame): DataFrame = {
    val delta = batch
      .groupBy(col("user_id"))
      .agg(
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("last"),
        count(lit(1)).as("n_events"))
    val merged = target match {
      case Some(t) =>
        t.unionByName(delta)
          .groupBy(col("user_id"))
          .agg(max(col("last")).as("last"), sum(col("n_events")).as("n_events"))
      case None => delta
    }
    merged.localCheckpoint(true)
  }

  /** foreachBatch upsert sink — the production pattern the memory-sink ops
    * deliberately avoid: every micro-batch is handed to batch-DataFrame code
    * that MERGEs it into a keyed target table ("latest event per user"
    * here). foreachBatch is where streaming meets arbitrary batch sinks
    * (JDBC upsert, keyed-table MERGE, multi-sink fan-out); idempotency under
    * batch replay comes from the [[GatedSink]] batchId gate — the argmax
    * is naturally replay-proof, the additive n_events sum is not, so the
    * gate is load-bearing. StreamingSinkSpec pins the multi-batch and replay
    * behavior on a two-file stream.
    */
  def foreachBatchUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "events", Some("timestamp_ntz"))
    val stream = src.stream
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    runTuned(spark, src.scanParts)(new GatedSink(mergeLatestBatch).drain(stream))
      .map(_.select(
        col("user_id"),
        col("last.event_type").as("last_type"),
        col("last.ts").as("last_ts"),
        col("n_events"))
        .orderBy(col("user_id")))
      .getOrElse(spark.emptyDataFrame)
  }

  /** One CDC merge step: fold the batch to each key's LATEST change (argmax
    * on (ts, event_id) carrying the op code and value), then merge into the
    * target keeping the later of (existing state, batch delta) — crucially
    * WITHOUT dropping deletes: a tombstone must beat every earlier upsert
    * yet lose to a later one, which only works if 'D' rows stay IN the
    * keyed state (the Kafka-compaction discipline) and the read path
    * filters them. State is O(keys), the merge is one keyed union +
    * re-aggregate, lineage stays one merge deep via localCheckpoint.
    */
  private[graft] def cdcMerge(target: Option[DataFrame], batch: DataFrame): DataFrame = {
    val delta = batch.groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("op"), col("cents")))
        .as("last"))
    val merged = target match {
      case Some(t) => t.unionByName(delta)
        .groupBy(col("user_id")).agg(max(col("last")).as("last"))
      case None => delta
    }
    merged.localCheckpoint(true)
  }

  /** Streaming CDC apply with DELETE tombstones — the op-code the plain
    * upsert sink ([[foreachBatchUpsert]]) never sees: the event stream is
    * read as a changelog (error events are deletes of their user's row,
    * everything else upserts the event's value), each micro-batch merges
    * into the keyed target via [[cdcMerge]], and the final readout counts
    * live rows, their total value, and the tombstoned keys. Batching-
    * invariant by construction (per-key argmax over a total (ts, event_id)
    * order commutes with any stream chopping), so the batch changelog
    * ranking adjudicates the stream — the oracle's check.
    */
  def foreachBatchCdc(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "events", Some("timestamp_ntz"))
    val stream = src.stream
      .select(
        col("user_id"), col("event_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("ts"))
    runTuned(spark, src.scanParts)(new GatedSink(cdcMerge).drain(stream))
      .map(_.agg(
        sum(when(col("last.op") =!= "D", 1L).otherwise(0L)).as("n_live_users"),
        round(sum(when(col("last.op") =!= "D", col("last.cents")).otherwise(0L)) / 100.0, 2)
          .as("total_value"),
        sum(when(col("last.op") === "D", 1L).otherwise(0L)).as("n_tombstoned")))
      .getOrElse(spark.emptyDataFrame)
  }

  /** Per-batch rule evaluation: each row-LOCAL rule folds to one
    * conditional-sum counter inside the batch's single aggregate, stacks to
    * a (check_name, n_checked, n_violations) ledger and merges additively
    * into the running ledger. Row-local rules are what keeps the gate
    * streaming-safe: counters are associative, so sum-over-batches equals
    * the whole-table evaluation no matter how the stream is chopped —
    * exactly the property the declared oracle checks.
    */
  private[graft] def gateMerge(target: Option[DataFrame], batch: DataFrame): DataFrame = {
    val ledger = batch
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("event_type").isin(
          "click", "error", "purchase", "signup", "view"), 0L)
          .otherwise(1L)).as("v_type"),
        sum(when(col("ts").isNull, 1L).otherwise(0L)).as("v_ts"),
        sum(when(col("user_id") <= 0, 1L).otherwise(0L)).as("v_uid"),
        sum(when(col("value") < 0 || col("value") > 100, 1L)
          .otherwise(0L)).as("v_range"))
      .selectExpr("n", """stack(4,
          'event_type_known', v_type,
          'ts_not_null', v_ts,
          'user_id_positive', v_uid,
          'value_in_0_100', v_range) AS (check_name, n_violations)""")
      .select(col("check_name"), col("n").as("n_checked"), col("n_violations"))
    val merged = target match {
      case Some(t) => t.unionByName(ledger)
        .groupBy(col("check_name"))
        .agg(
          sum(col("n_checked")).as("n_checked"),
          sum(col("n_violations")).as("n_violations"))
      case None => ledger
    }
    merged.localCheckpoint(true)
  }

  /** Streaming data-quality gate — the foreachBatch twin of the batch
    * dq_expectations: every micro-batch is scored against the rule battery
    * ON ARRIVAL (one conditional-sum aggregate per batch — no state store,
    * no shuffle beyond the 1-row fold) and merged into a running violation
    * ledger a deployment would alert on. Because every rule is row-local,
    * the ledger after the replay equals the batch evaluation of the whole
    * table — the oracle recomputes exactly that. The batchId gate keeps the
    * additive counters replay-idempotent; StreamingSinkSpec pins both
    * the multi-batch sum and the replay skip.
    */
  def qualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "events", Some("timestamp_ntz"))
    val stream = src.stream
      .select(col("event_type"), col("user_id"), col("value"), col("ts"))
    runTuned(spark, src.scanParts)(new GatedSink(gateMerge).drain(stream))
      .map(_.withColumn("passed", col("n_violations") === 0L)
        .orderBy(col("check_name")))
      .getOrElse(spark.emptyDataFrame)
  }

  private val hllLgK = 12

  /** Fold one micro-batch's per-type user sketch into the running state:
    * batch → per-type hll_sketch_agg partial (distributed), then union with
    * the stored sketch column via hll_union_agg. The state is O(types ×
    * 2^lgK bytes) FOREVER — a running exact countDistinct would hold every
    * user id ever seen; this is the sketch trade that makes unbounded
    * streams trackable.
    */
  private[graft] def hllMerge(target: Option[DataFrame], batch: DataFrame): DataFrame = {
    val delta = batch.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(hllLgK)).as("sk"))
    val merged = target match {
      case Some(t) => t.unionByName(delta)
        .groupBy(col("event_type"))
        .agg(hll_union_agg(col("sk")).as("sk"))
      case None => delta
    }
    merged.localCheckpoint(true)
  }

  /** Streaming distinct-user tracking — q_hll_sketch's mergeable-partials
    * pattern applied to an unbounded stream: each micro-batch contributes a
    * per-type HLL partial, the running state is the union, and the readout
    * is the estimate next to the batch-computed exact count with the same
    * 5% contract the batch query pins. The batchId gate skips a replayed
    * batch, though HLL union (a per-register max) would absorb it anyway.
    */
  def distinctUsersStream(spark: SparkSession, sfDir: String): DataFrame = {
    val src = source(spark, sfDir, "events")
    val stream = src.stream.select(col("event_type"), col("user_id"))
    val sketches = runTuned(spark, src.scanParts)(new GatedSink(hllMerge).drain(stream))
    val exact = Tables.t(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    sketches
      .map(_.select(
        col("event_type"), hll_sketch_estimate(col("sk")).as("est"))
        .join(exact, "event_type")
        .select(
          col("event_type"), col("exact_users"),
          (abs(col("est") - col("exact_users")).cast("double") /
            col("exact_users").cast("double") <= 0.05).as("est_within_5pct"))
        .orderBy(col("event_type")))
      .getOrElse(spark.emptyDataFrame)
  }
}
