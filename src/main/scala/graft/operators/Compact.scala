package graft.operators

import graft.sources.{InputResolver, Listing}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction: rewrite a parquet directory so output files land
  * near a target size. The small-files problem is THE operational failure
  * mode of long-lived 100 TB tables (every downstream scan pays a task +
  * footer read per file; a few million 1 MB files can cost more in scheduling
  * than in IO). The reference has no equivalent (its tables are single files
  * by construction — /root/reference/src/convert.rs:22 single_file output);
  * extension operator.
  *
  * Shape: `coalesce(ceil(totalBytes / targetBytes))` between read and write —
  * coalesce, not repartition, so compaction is SHUFFLE-FREE: each output task
  * concatenates whole input splits. File sizes can vary up to ~2x around the
  * target (coalesce merges adjacent splits without rebalancing); that is the
  * accepted trade — a balanced repartition would move every byte through a
  * full shuffle just to even out file sizes. At 100 TB, prefer running this
  * per partition-directory (hive-partitioned tables) so each coalesce stays
  * narrow and partition pruning is preserved.
  */
object Compact {

  /** Parquet file count + total bytes under `dir` (RECURSIVE, data files
    * only — skips _SUCCESS / hidden files and anything under a hidden or
    * metadata subdirectory), from one Hadoop FS listing so it works on any
    * cluster filesystem, not just local disk. Recursion matters: a
    * hive-partitioned directory keeps its data one level down, and a
    * non-recursive listing reported 0 bytes there — which silently turned
    * [[compact]] into coalesce(1).
    */
  def stats(spark: SparkSession, dir: String): (Int, Long) =
    stats(Listing.of(spark, dir).toVector.flatMap(_.dataLeaves))

  private def stats(data: Seq[Listing.Leaf]): (Int, Long) = (data.size, data.map(_.len).sum)

  /** Rewrite `inDir` (parquet) into `outDir` with ~targetBytes output files.
    * Returns (filesBefore, filesAfter).
    *
    * Refuses a hive-partitioned input (data files below the top level): a
    * flat rewrite would inline the partition columns and destroy partition
    * pruning for every downstream scan. Compact each partition directory
    * instead — which is also the right granularity at 100 TB (each coalesce
    * stays narrow).
    */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val listing = Listing.of(spark, inDir)
    val data = listing.toVector.flatMap(_.dataLeaves)
    // data below the top level is hive partitioning; an empty or
    // metadata-only subdirectory (a leftover temp dir, `_delta_log`, …) is
    // not, and must not abort a working compaction
    val nested = listing.exists(l => l.isDirectory && data.exists(_.path.getParent != l.root))
    require(!nested,
      s"$inDir is partitioned (data in subdirectories); compact each partition directory separately " +
        "so partition columns and pruning are preserved")
    val (before, totalBytes) = stats(data)
    val outFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    InputResolver.read(spark, "parquet", Map.empty, inDir)
      .coalesce(outFiles)
      .write.mode("overwrite").parquet(outDir)
    val (after, _) = stats(spark, outDir)
    (before, after)
  }

  /** Compacted copy of `inDir` as a DataFrame (read back from `outDir`). */
  def compacted(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long): DataFrame = {
    compact(spark, inDir, outDir, targetBytes)
    spark.read.parquet(outDir)
  }
}
