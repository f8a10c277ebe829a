package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.OutputMode

/** The running result of one foreachBatch stream run: (last merged batchId,
  * merged state). [[step]] folds a micro-batch in through `merge` unless its
  * batchId was already merged — the standard replay guard for
  * non-transactional foreachBatch sinks: after a crash the engine
  * re-delivers the last uncommitted batch with the SAME batchId, and an
  * additive merge would double-count it without the gate.
  *
  * The state is a driver-held REFERENCE to a distributed DataFrame (merges
  * localCheckpoint, so the rows live in executor storage and lineage stays
  * one merge deep). One instance per invocation: concurrent runs never see
  * each other's state.
  */
final class GatedSink(merge: (Option[DataFrame], DataFrame) => DataFrame)
    extends Serializable {
  @volatile private var state: Option[(Long, DataFrame)] = None

  def step(batchId: Long, batch: DataFrame): Unit = state match {
    case Some((last, _)) if batchId <= last => // replayed batch: skip
    case cur => state = Some((batchId, merge(cur.map(_._2), batch)))
  }

  def result: Option[DataFrame] = state.map(_._2)

  /** Runs `stream` to completion in append mode, each micro-batch through
    * [[step]], and returns [[result]]. */
  def drain(stream: DataFrame): Option[DataFrame] = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => step(batchId, batch.toDF()) }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    result
  }
}
