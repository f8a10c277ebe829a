package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** The session-scoped input catalog: each input's schema is inferred once
  * per (session, format, options, path) and served from here until the
  * input's fingerprint moves, in the manner of Dremel's metadata catalog
  * (PAPERS.md) — metadata is looked up, not re-derived per query.
  *
  * Every fixture table (`Tables.t`), CLI input (`Formats.read`), compaction
  * input (`Compact.compact`) and stream source (`StreamingOps.source`)
  * resolves through here, so this is the one schema cache of the program.
  *
  *  - A miss infers the schema with the plain reader (`format(f).options(o)
  *    .load(path)` — a CSV read launches 2 Spark jobs, a parquet read 1) and
  *    returns that frame. The inference runs on the caller's stack, so the
  *    jobs it launches keep the caller's call site.
  *  - A hit reads through `format(f).options(o).schema(s).load(path)`: no
  *    inference job, the same FileScan with the same pushdown and pruning.
  *  - The fingerprint is the (path, length, mtime) of every file the read's
  *    own file index lists — the data files Spark will scan, hidden and
  *    bookkeeping files excluded. It costs no listing beyond the one every
  *    read takes: a miss lists once, as a plain read does, and so does a
  *    hit; only a stale entry lists twice (its hit frame, then the miss).
  *    A directory's own mtime would be no proof — ext4 leaves it unchanged
  *    when a part file inside is rewritten in place.
  *  - Sessions are held weakly and entries hold no reference back to their
  *    session, so a dropped session's entries can be collected; until then
  *    a session keeps one entry per input it has read. Two sessions never
  *    share an entry.
  *
  * Only repeat reads in one session gain: a one-shot CLI process reads each
  * input once, so each of its reads is a miss and costs what a plain read
  * costs.
  *
  * Session confs that steer inference are not in the key. The one this
  * program sets, `spark.sql.legacy.parquet.nanosAsLong`, is set through
  * `Tables.legacyNanos` before every read of events, so each entry for
  * events is inferred under it.
  */
object InputResolver {

  /** (path, length, mtime) of each file a read lists, sorted by path. */
  private type Fingerprint = Vector[(String, Long, Long)]

  /** A resolved input: its schema and the fingerprint it was resolved from. */
  final class Entry private[InputResolver] (val schema: StructType, fingerprint: Fingerprint) {
    private var parts = -1

    private[InputResolver] def matches(df: DataFrame): Boolean =
      InputResolver.fingerprint(df).contains(fingerprint)

    /** The partition count of `scan` (this entry's batch read), computed on
      * the first call — planning the scan lists the files, no data job. */
    def scanParts(scan: => DataFrame): Int = synchronized {
      if (parts < 0) parts = scan.rdd.getNumPartitions
      parts
    }
  }

  private final case class Key(format: String, options: Map[String, String], path: String)

  private final class SessionCache {
    val entries = new ConcurrentHashMap[Key, Entry]()
    val misses = new AtomicLong()
    val missNanos = new AtomicLong()
  }

  private val sessions = new java.util.WeakHashMap[SparkSession, SessionCache]()

  private def cache(spark: SparkSession): SessionCache = sessions.synchronized {
    sessions.computeIfAbsent(spark, _ => new SessionCache)
  }

  /** The fingerprint of a file-source frame, from the file index its
    * analysis already built; None for any other frame. */
  private def fingerprint(df: DataFrame): Option[Fingerprint] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case index: PartitioningAwareFileIndex =>
        index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .toVector.sortBy(_._1)
      }

  /** `path` read as `format` with `options`, its schema from this session's
    * entry while the input's files are the ones it was resolved from. */
  def read(spark: SparkSession, format: String, options: Map[String, String], path: String): DataFrame =
    resolve(spark, format, options, path)._1

  /** [[read]], with the entry it was read through. */
  def resolve(
      spark: SparkSession, format: String, options: Map[String, String], path: String): (DataFrame, Entry) = {
    val c = cache(spark)
    val key = Key(format, options, path)
    // a DataFrameReader is mutable (`schema` sets it in place): one per read
    def reader = spark.read.format(format).options(options)
    val hit = Option(c.entries.get(key)).flatMap { e =>
      val df = reader.schema(e.schema).load(path)
      if (e.matches(df)) Some((df, e)) else None
    }
    hit.getOrElse {
      val t0 = System.nanoTime()
      val df = reader.load(path)
      val e = new Entry(df.schema, fingerprint(df).getOrElse(
        throw new IllegalArgumentException(s"$path read as $format is not a file source")))
      c.entries.put(key, e)
      c.missNanos.addAndGet(System.nanoTime() - t0)
      c.misses.incrementAndGet()
      (df, e)
    }
  }

  /** This session's misses so far and the seconds their inference took. */
  def misses(spark: SparkSession): (Long, Double) = {
    val c = cache(spark)
    (c.misses.get, c.missNanos.get / 1e9)
  }
}
