package graft

import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._

import graft.streaming.CheckpointFiles
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** The stream runs' checkpoint file manager ([[CheckpointFiles]]):
  *  - the two stream ops the benchmark samples start no process from
  *    Hadoop's filesystem code (Spark's default manager forks a `readlink`
  *    per rename and a `chmod` per file there);
  *  - on a local root it writes the same files, `.crc` companions included,
  *    with the same POSIX modes as Spark's default manager;
  *  - a root on any other filesystem keeps Spark's FileContext-based manager.
  */
class StreamCheckpointFilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def fromHadoopFs(stack: Seq[String]) = stack.exists(_.startsWith("org.apache.hadoop.fs."))

  /** The stacks of the processes `body` starts, innermost frame first. */
  private def forkStacks(body: => Unit): Seq[Seq[String]] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.start()
      body
      rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq.map(e =>
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  test("the sampled stream ops fork nothing from Hadoop's filesystem code") {
    val ops = Seq("stream_topk_purchasers", "stream_stream_join")
    var rows = Map.empty[String, Long]
    val stacks = forkStacks {
      rows = ops.map(op => op -> SparkEntry.queries(op)(spark, TestSpark.sf).count()).toMap
    }
    assert(ops.forall(rows(_) > 0), s"an op returned no rows: $rows")
    val hadoopFsForks = stacks.filter(fromHadoopFs)
    val n = hadoopFsForks.size
    assert(n == 0,
      s"$n forks from org.apache.hadoop.fs, e.g. ${hadoopFsForks.headOption.map(_.take(12))}")
    // the manager is named only for the runs
    assert(spark.conf.getOption(managerKey).isEmpty)
  }

  test("a local root gets the same files and modes as Spark's default manager") {
    val tmp = Files.createTempDirectory("graft-ckpt-files")
    try {
      val conf = new Configuration()
      def write(fm: CheckpointFileManager, root: JPath): Unit = {
        val dir = new Path(root.toUri.toString, "state/0")
        fm.mkdirs(dir)
        for (name <- Seq("1.delta", "2.delta")) {
          val out = fm.createAtomic(new Path(dir, name), overwriteIfPossible = false)
          out.write(name.getBytes("UTF-8"))
          out.close()
        }
      }
      /** Every path under `root` with its POSIX mode, and the `.crc` bytes. */
      def snapshot(root: JPath): Seq[(String, String, Seq[Byte])] =
        Files.walk(root).iterator().asScala.filter(_ != root).toSeq.map { p =>
          val mode = java.nio.file.attribute.PosixFilePermissions.toString(
            Files.getPosixFilePermissions(p))
          val crc =
            if (p.getFileName.toString.endsWith(".crc")) Files.readAllBytes(p).toSeq else Nil
          (root.relativize(p).toString, mode, crc)
        }.sortBy(_._1)

      val stock = tmp.resolve("stock")
      val ours = tmp.resolve("ours")
      Files.createDirectories(stock)
      Files.createDirectories(ours)
      val stockForks = forkStacks(
        write(CheckpointFileManager.create(new Path(stock.toUri.toString), conf), stock))
        .count(fromHadoopFs)
      // the recording sees the default manager's forks where they happen:
      // without libhadoop, Hadoop shells out for chmod and readlink
      if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) assert(stockForks > 0)
      var oursFm: CheckpointFileManager = null
      val oursForks = forkStacks {
        oursFm = new CheckpointFiles(new Path(ours.toUri.toString), conf)
        write(oursFm, ours)
      }.count(fromHadoopFs)
      assert(oursFm.isLocal)
      assert(oursForks == 0, "the no-fork manager started a process from org.apache.hadoop.fs")
      val want = snapshot(stock)
      assert(want.map(_._1).contains("state/0/.1.delta.crc"), s"no .crc companions: $want")
      assert(snapshot(ours) == want)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  test("only a local root takes the no-fork manager") {
    val conf = new Configuration()
    assert(CheckpointFiles.isLocal(new Path("/tmp/ckpt"), conf))
    assert(CheckpointFiles.isLocal(new Path("file:/tmp/ckpt"), conf))
    assert(!CheckpointFiles.isLocal(new Path("hdfs://nn:8020/ckpt"), conf))
    assert(!CheckpointFiles.isLocal(new Path("s3a://bucket/ckpt"), conf))
    // a scheme-less root resolves through the default filesystem
    conf.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!CheckpointFiles.isLocal(new Path("/tmp/ckpt"), conf))
  }
}
