package graft

import graft.operators.Compare
import org.scalatest.funsuite.AnyFunSuite

class CompareSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def summary(df: org.apache.spark.sql.DataFrame) = {
    val r = df.head()
    (r.getLong(0), r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))
  }

  test("identical inputs are equal") {
    val a = Seq((1, "x", 1.5), (2, "y", 2.5)).toDF("i", "s", "d").orderBy("i")
    assert(summary(Compare.summarize(spark, a, a)) == ((2L, 2L, 0L, -1L, true)))
  }

  test("value difference found at the right index") {
    val a = Seq((1, 1.0), (2, 2.0), (3, 3.0)).toDF("i", "d").orderBy("i")
    val b = Seq((1, 1.0), (2, 9.0), (3, 3.0)).toDF("i", "d").orderBy("i")
    assert(summary(Compare.summarize(spark, a, b)) == ((3L, 3L, 1L, 1L, false)))
  }

  test("column names are ignored, positions matter") {
    val a = Seq((1, 2)).toDF("x", "y")
    val b = Seq((1, 2)).toDF("p", "q")
    assert(summary(Compare.summarize(spark, a, b))._5)
  }

  test("row count mismatch counts missing rows as diffs") {
    val a = Seq(1, 2, 3).toDF("i").orderBy("i")
    val b = Seq(1, 2).toDF("i").orderBy("i")
    val (l, r, d, first, eq) = summary(Compare.summarize(spark, a, b))
    assert((l, r, d, first, eq) == ((3L, 2L, 1L, 2L, false)))
  }

  test("epsilon is absolute-valued (reference's signed-epsilon bug fixed)") {
    val a = Seq((1, 1.000), (2, 2.000)).toDF("i", "d").orderBy("i")
    val b = Seq((1, 1.004), (2, 1.996)).toDF("i", "d").orderBy("i")
    // reference semantics would pass row 2 even with eps=0 since l>r
    assert(!summary(Compare.summarize(spark, a, b))._5)
    assert(summary(Compare.summarize(spark, a, b, epsilon = 0.01))._5)
    assert(!summary(Compare.summarize(spark, a, b, epsilon = 0.001))._5)
  }

  test("types beyond the reference whitelist compare fine") {
    val a = Seq((1, Array[Byte](1, 2), Seq("a", "b"), true)).toDF("i", "bin", "arr", "b")
    val b = Seq((1, Array[Byte](1, 2), Seq("a", "b"), true)).toDF("i", "bin", "arr", "b")
    val c = Seq((1, Array[Byte](1, 3), Seq("a", "b"), true)).toDF("i", "bin", "arr", "b")
    assert(summary(Compare.summarize(spark, a, b))._5)
    assert(!summary(Compare.summarize(spark, a, c))._5)
  }

  test("integer widths compare by value") {
    val a = Seq(1, 2).toDF("i") // int
    val b = Seq(1L, 2L).toDF("i") // long
    assert(summary(Compare.summarize(spark, a, b))._5)
  }

  test("firstDiff returns both rows at the first differing position") {
    val a = Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("i", "d").orderBy("i")
    val b = Seq((1, 10.0), (2, 21.0), (3, 31.0)).toDF("i", "d").orderBy("i")
    val row = Compare.firstDiff(spark, a, b).head()
    assert(row.getLong(row.fieldIndex("__idx")) == 1L)
    assert(row.getInt(row.fieldIndex("l0")) == 2 && row.getDouble(row.fieldIndex("l1")) == 20.0)
    assert(row.getInt(row.fieldIndex("r0")) == 2 && row.getDouble(row.fieldIndex("r1")) == 21.0)
    // equal inputs → empty
    assert(Compare.firstDiff(spark, a, a).isEmpty)
  }

  test("compareFiles is deterministic for multi-part parquet (file-order via _metadata)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_files").toString
    // 8 part files whose split packing would otherwise be size-ordered
    spark.range(0, 5000).selectExpr("id", "id * 2.5 AS v", "repeat('x', CAST(id % 97 AS INT)) AS pad")
      .repartition(8).write.mode("overwrite").parquet(s"$dir/a.parquet")
    val r = Compare.compareFiles(spark, s"$dir/a.parquet", s"$dir/a.parquet").head()
    assert(r.getBoolean(4), s"self-compare of multi-part parquet not equal: $r")
  }

  test("compareFiles finds a csv diff positionally (single-split text read)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_csv").toString
    def write(name: String, rows: Seq[String]): String = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.write(p, ("i,v" +: rows).mkString("\n").getBytes)
      p.toString
    }
    val f1 = write("a.csv", (0 until 100).map(i => s"$i,${i * 10}"))
    val f2 = write("b.csv", (0 until 100).map(i => if (i == 42) s"$i,9999" else s"$i,${i * 10}"))
    val r = Compare.compareFiles(spark, f1, f2).head()
    assert(!r.getBoolean(4) && r.getLong(2) == 1L && r.getLong(3) == 42L, r.toString)
  }

  test("compareFiles handles DIRECTORIES of csv files in path order") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_dir").toString
    def write(sub: String, name: String, rows: Seq[String]): Unit = {
      val d = java.nio.file.Paths.get(dir, sub)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve(name), ("i,v" +: rows).mkString("\n").getBytes)
    }
    // part-0 is the LARGEST file: split packing by size would order it first
    // anyway, so make part-1 largest instead to catch size-ordering bugs
    val p0 = (0 until 10).map(i => s"$i,${i * 10}")
    val p1 = (10 until 90).map(i => s"$i,${i * 10}")
    val p2 = (90 until 100).map(i => s"$i,${i * 10}")
    write("d1", "part-0.csv", p0); write("d1", "part-1.csv", p1); write("d1", "part-2.csv", p2)
    // d2: same logical rows, different file boundaries + one diff at i=57
    val q = (0 until 100).map(i => if (i == 57) s"$i,9999" else s"$i,${i * 10}")
    write("d2", "part-0.csv", q.take(50)); write("d2", "part-1.csv", q.drop(50))
    val r = Compare.compareFiles(spark, s"$dir/d1", s"$dir/d2").head()
    assert(!r.getBoolean(4) && r.getLong(2) == 1L && r.getLong(3) == 57L, r.toString)
    // identical directories (even with different file boundaries) are equal
    val eq = Compare.compareFiles(spark, s"$dir/d1", s"$dir/d1").head()
    assert(eq.getBoolean(4))
  }

  test("CLI compare --key routes to the keyed (order-free) variant") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_cli").toString
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v")
      .write.parquet(s"$dir/l.parquet")
    Seq((3L, "c", 30.0), (1L, "a", 10.0), (2L, "b", 99.0)).toDF("k", "s", "v")
      .write.parquet(s"$dir/r.parquet")
    // keyed: row order irrelevant, one differing row found, nonzero exit
    val exitDiff = graft.cli.Main.dispatch(spark,
      List("compare", s"$dir/l.parquet", s"$dir/r.parquet", "--key", "k"))
    assert(exitDiff == -1)
    val exitEq = graft.cli.Main.dispatch(spark,
      List("compare", s"$dir/l.parquet", s"$dir/l.parquet", "--key", "k"))
    assert(exitEq == 0)
    val s = Compare.summarizeByKey(
      spark.read.parquet(s"$dir/l.parquet"), spark.read.parquet(s"$dir/r.parquet"),
      Seq("k")).head()
    assert((s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3), s.getBoolean(4)) ==
      ((0L, 0L, 1L, 2L, false)))
  }

  test("CLI compare prints the summary table its operator shows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp_print").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").write.parquet(s"$dir/l.parquet")
    Seq((1L, 10.0), (2L, 21.0)).toDF("k", "v").write.parquet(s"$dir/r.parquet")
    def printed(body: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(body)
      buf.toString("UTF-8")
    }
    val (l, r) = (s"$dir/l.parquet", s"$dir/r.parquet")
    val keyed = printed(assert(graft.cli.Main.dispatch(spark, List("compare", l, r, "--key", "k")) == -1))
    assert(keyed == printed(Compare.summarizeByKey(
      spark.read.parquet(l), spark.read.parquet(r), Seq("k")).show(truncate = false)))
    val positional = printed(assert(graft.cli.Main.dispatch(spark, List("compare", l, l)) == 0))
    assert(positional == printed(Compare.compareFiles(spark, l, l).show(truncate = false)))
    // schema-diff collects its report once, then prints it and sets the
    // exit code from the collected rows
    Seq((1L, "x")).toDF("k", "s").write.parquet(s"$dir/s.parquet")
    val s = s"$dir/s.parquet"
    val drift = printed(assert(graft.cli.Main.dispatch(spark, List("schema-diff", l, s)) == -1))
    assert(drift == printed(graft.operators.SchemaDiff.diff(
      spark, spark.read.parquet(l), spark.read.parquet(s)).show(1000, truncate = false)))
    assert(drift.contains("removed") && drift.contains("added"))
    val same = printed(assert(graft.cli.Main.dispatch(spark, List("schema-diff", l, r)) == 0))
    assert(same.contains("same") && !same.contains("removed"))
  }

  test("columnDrift attributes each change to its column, zero on identity") {
    val a = Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "z", 3.0)).toDF("k", "s", "d")
    val self = Compare.columnDrift(a, a, Seq("k")).collect()
    assert(self.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("s" -> 0L, "d" -> 0L))
    assert(self.forall(_.getLong(2) == 3L))

    val b = Seq((1L, "x", 1.5), (2L, "Y", 2.0), (3L, "z", 3.0)).toDF("k", "s", "d")
    val drift = Compare.columnDrift(a, b, Seq("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(drift == Map("s" -> 1L, "d" -> 1L))

    // epsilon absorbs the numeric change but not the string one
    val eps = Compare.columnDrift(a, b, Seq("k"), epsilon = 1.0).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(eps == Map("s" -> 1L, "d" -> 0L))
  }
}
