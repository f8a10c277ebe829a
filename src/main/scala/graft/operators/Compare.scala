package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `compare` op: row-by-row, column-by-column, ORDER-SENSITIVE, position-based
  * (column names ignored) equality of two DataFrames, with optional float
  * epsilon (reference /root/reference/src/compare.rs:10-143).
  *
  * Documented deviations from the reference (SURVEY §2.A):
  *  - epsilon is |l-r| <= eps, not the reference's signed `(l-r) < eps`
  *    (compare.rs:36,40 always passes when l < r — a bug we don't replicate);
  *  - all Spark types are comparable (the reference `todo!()`-panics on
  *    anything beyond strings/ints/floats/dates, utils.rs:193-196).
  *
  * Scale: the reference collects both files into driver memory
  * (compare.rs:116-143). Here the only RDD step is zipWithIndex (positional
  * ids need partition offsets); the join and the per-column comparison run
  * as DataFrame ops — Tungsten binary shuffle + codegen'd equality — so the
  * whole compare is two scans, one hash shuffle per side, one aggregate.
  * Row order must be deterministic for the result to be meaningful; pass
  * pre-sorted inputs (Spark's parquet split order is not file order).
  */
object Compare {

  /** DataFrame with a leading contiguous position column plus the original
    * columns renamed to prefix0..prefixN (positional semantics — names are
    * deliberately dropped).
    */
  private def indexed(spark: SparkSession, df: DataFrame, prefix: String): DataFrame = {
    val schema = StructType(
      StructField("__idx", LongType, nullable = false) +:
        df.schema.fields.zipWithIndex.map { case (f, i) =>
          StructField(s"$prefix$i", f.dataType, nullable = true) })
    // zipWithIndex needs two passes (partition sizes, then the indexed one);
    // localCheckpoint materializes the upstream sort once to executor-local
    // storage so it isn't re-executed — the standard snapshot for positional
    // ids at any scale. If the plan is ONLY a narrow deterministic tail
    // (projections/filters) over an existing RDD snapshot (caller cached the
    // sorted input, or a perturbation mapped over one), re-running that tail
    // twice is cheaper than materializing a second full copy — skip the
    // checkpoint then. Anything wider (a join, sort, or nondeterministic
    // expression above the snapshot) could observe different row orders in
    // the two passes, so it gets its own checkpoint.
    def snapshotWithNarrowTail(
        p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project
        if pr.projectList.forall(_.deterministic) => snapshotWithNarrowTail(pr.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.deterministic => snapshotWithNarrowTail(f.child)
      case _ => false
    }
    val src =
      if (snapshotWithNarrowTail(df.queryExecution.optimizedPlan)) df
      else df.localCheckpoint()
    val rdd = src.rdd
      .zipWithIndex().map { case (row, i) => Row.fromSeq(i +: row.toSeq) }
    spark.createDataFrame(rdd, schema)
  }

  private def isFloaty(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case _ => false
  }

  /** Null-safe positional equality for one column pair, with epsilon on
    * float/double pairs (mirrors the reference's float-only epsilon scope).
    */
  private def colEqual(l: Column, lt: DataType, r: Column, rt: DataType, eps: Double): Column =
    if (isFloaty(lt) && isFloaty(rt) && eps > 0.0)
      when(l.isNull || r.isNull, l <=> r)
        .otherwise(abs(l.cast("double") - r.cast("double")) <= eps)
    else l <=> r

  /** Indexed full-outer join of both sides plus the per-row equality
    * predicate — shared by [[summarize]] and [[firstDiff]]. Exposed to the
    * query layer so a caller producing SEVERAL compare outputs over one
    * input pair can snapshot the (filtered) join once — Ops.diffArtifacts
    * keeps only the diff rows plus one side count and derives both its
    * summary and first-diff outputs from that snapshot.
    */
  private[graft] def positionalJoin(
      spark: SparkSession,
      left: DataFrame,
      right: DataFrame,
      epsilon: Double): (DataFrame, Column) = {

    val lFields = left.schema.fields
    val rFields = right.schema.fields

    val l = indexed(spark, left, "l").withColumn("__lp", lit(true))
    val r = indexed(spark, right, "r").withColumn("__rp", lit(true))
    val joined = l.join(r, Seq("__idx"), "full_outer")

    val sameArity = lFields.length == rFields.length
    val valuesEqual: Column =
      if (!sameArity) lit(false)
      else if (lFields.isEmpty) lit(true)
      else lFields.indices
        .map(i => colEqual(col(s"l$i"), lFields(i).dataType, col(s"r$i"), rFields(i).dataType, epsilon))
        .reduce(_ && _)
    (joined, col("__lp").isNotNull && col("__rp").isNotNull && valuesEqual)
  }

  /** Distributed summary: rows on each side, number of differing positions,
    * index of the first difference. A row present on one side only counts as
    * a diff at its index; sides with different column counts differ on every
    * row (positional row-length check, reference compare.rs:55-63).
    */
  def summarize(
      spark: SparkSession,
      left: DataFrame,
      right: DataFrame,
      epsilon: Double = 0.0): DataFrame = {
    val (joined, rowEqual) = positionalJoin(spark, left, right, epsilon)
    summarizeJoined(joined, rowEqual)
  }

  /** Summary stage over an already-built positional join. */
  private def summarizeJoined(joined: DataFrame, rowEqual: Column): DataFrame = {
    val agg = joined.agg(
      count(col("__lp")).as("rows_left"),
      count(col("__rp")).as("rows_right"),
      sum(when(rowEqual, 0L).otherwise(1L)).as("n_diffs"),
      min(when(!rowEqual, col("__idx"))).as("first_diff_index"))

    agg.select(
      col("rows_left"), col("rows_right"),
      coalesce(col("n_diffs"), lit(0L)).as("n_diffs"),
      col("first_diff_index"),
      (coalesce(col("n_diffs"), lit(0L)) === 0L).as("is_equal"))
  }

  /** The two rows at the first differing position, side by side — the
    * reference prints both rows at its first diff
    * (/root/reference/src/compare.rs:72-114). Columns: __idx, l0..lN, r0..rN.
    * No collect of the data: the diff set is filtered distributed, the scalar
    * min index is broadcast back in as a 1-row join, and only the surviving
    * row reaches the driver. Empty result when the sides are equal.
    */
  def firstDiff(
      spark: SparkSession,
      left: DataFrame,
      right: DataFrame,
      epsilon: Double = 0.0): DataFrame = {
    val (joined, rowEqual) = positionalJoin(spark, left, right, epsilon)
    firstDiffJoined(joined, rowEqual)
  }

  /** First-diff stage over an already-built positional join. */
  private def firstDiffJoined(joined: DataFrame, rowEqual: Column): DataFrame = {
    val diffs = joined.filter(!rowEqual)
    val firstIdx = diffs.agg(min(col("__idx")).as("__first"))
    diffs
      .join(broadcast(firstIdx), col("__idx") === col("__first"))
      .drop("__first", "__lp", "__rp")
  }

  /** The non-key columns of a keyed comparison; both sides must name them
    * alike, in the same order. */
  private def valueColumns(
      left: DataFrame, right: DataFrame, keys: Seq[String], op: String): Seq[String] = {
    val valueCols = left.columns.filterNot(keys.contains).toSeq
    require(right.columns.filterNot(keys.contains).toSeq == valueCols,
      s"$op requires identical non-key column names")
    valueCols
  }

  /** `df` with each of `cols` renamed to `prefix` + its name. */
  private def prefixed(df: DataFrame, cols: Seq[String], prefix: String): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumnRenamed(c, prefix + c))

  /** Keyed compare — the ORDER-FREE variant for data that has a primary key.
    * No sort, no zipWithIndex, no snapshot: one full-outer hash join on the
    * key and a codegen'd column comparison, so it scales exactly like any
    * equi-join. Reports rows only-left / only-right / differing / equal.
    * (The positional [[summarize]] stays for bdt CLI parity where inputs are
    * keyless files.)
    */
  def summarizeByKey(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      epsilon: Double = 0.0): DataFrame = {

    val valueCols = valueColumns(left, right, keys, "keyed compare")
    val l = prefixed(left, valueCols, "__l_").withColumn("__lp", lit(true))
    val r = prefixed(right, valueCols, "__r_").withColumn("__rp", lit(true))
    val joined = l.join(r, keys, "full_outer")

    val valuesEqual: Column =
      if (valueCols.isEmpty) lit(true)
      else valueCols.map { c =>
        colEqual(
          col(s"__l_$c"), left.schema(c).dataType,
          col(s"__r_$c"), right.schema(c).dataType, epsilon)
      }.reduce(_ && _)

    joined.agg(
      sum(when(col("__lp").isNotNull && col("__rp").isNull, 1L).otherwise(0L)).as("only_left"),
      sum(when(col("__lp").isNull && col("__rp").isNotNull, 1L).otherwise(0L)).as("only_right"),
      sum(when(col("__lp").isNotNull && col("__rp").isNotNull && !valuesEqual, 1L).otherwise(0L)).as("differing"),
      sum(when(col("__lp").isNotNull && col("__rp").isNotNull && valuesEqual, 1L).otherwise(0L)).as("equal_rows"))
      .select(
        coalesce(col("only_left"), lit(0L)).as("only_left"),
        coalesce(col("only_right"), lit(0L)).as("only_right"),
        coalesce(col("differing"), lit(0L)).as("differing"),
        coalesce(col("equal_rows"), lit(0L)).as("equal_rows"),
        (coalesce(col("only_left"), lit(0L)) + coalesce(col("only_right"), lit(0L)) +
          coalesce(col("differing"), lit(0L)) === 0L).as("is_equal"))
  }

  /** Per-column drift attribution over a keyed snapshot pair: for rows
    * present on BOTH sides, how many changed in EACH column — the CDC-audit
    * readout that tells you WHICH fields drifted, where [[summarizeByKey]]
    * only says how many rows did. One inner equi-join on the key (the same
    * single shuffle as the keyed compare) folds to a 1-row aggregate of
    * per-column null-safe inequality counts, unstacked to one report row
    * per column — O(columns) output at any table size. epsilon follows the
    * keyed compare's semantics (absolute, numeric columns only).
    */
  def columnDrift(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      epsilon: Double = 0.0): DataFrame = {

    val valueCols = valueColumns(left, right, keys, "column drift")
    val r = prefixed(right, valueCols, "__r_")
    val joined = left.join(r, keys, "inner")
    // Names may contain dots/quotes/backticks (arbitrary CLI inputs), so stay
    // in the Column API end to end: backtick-quote every generated reference
    // and unpivot via explode(array(struct(...))) instead of a stack() SQL
    // string. Empty key intersection => sum(...) is NULL; coalesce to 0L to
    // match summarizeByKey's zeroed counters.
    def q(name: String): Column = col("`" + name.replace("`", "``") + "`")
    def changed(c: String): Column =
      coalesce(
        sum(when(!colEqual(
          q(c), left.schema(c).dataType,
          q(s"__r_$c"), right.schema(c).dataType, epsilon), 1L).otherwise(0L)),
        lit(0L))
    joined
      .agg(
        count(lit(1)).as("n_common"),
        array(valueCols.map(c =>
          struct(lit(c).as("column_name"), changed(c).as("n_changed"))): _*).as("__pairs"))
      .select(explode(col("__pairs")).as("__p"), col("n_common"))
      .select(
        col("__p.column_name").as("column_name"),
        col("__p.n_changed").as("n_changed"),
        col("n_common"))
      .orderBy(col("column_name"))
  }

  /** File-level entry mirroring the reference CLI (CSV/Parquet only there;
    * we accept any supported format). `noHeaderRow` applies to CSV inputs.
    *
    * Positional compare needs FILE order, but Spark packs file splits by
    * size, not by file/offset order — a multi-row-group parquet or multi-part
    * directory would be compared in an arbitrary order. So:
    *  - parquet: rows are ordered by the `_metadata` (file_path, row_index)
    *    columns — exact file order, any number of splits/parts, fully
    *    distributed;
    *  - csv/json (no row_index metadata): each FILE is read as one split
    *    (preserving in-file order) and a directory's files are unioned in
    *    lexicographic path order — a deterministic global order for
    *    directories too (since r3; previously single-file only). Listing is
    *    driver-side but metadata-only (one FileStatus per file); files in
    *    one directory must share a schema.
    */
  def compareFiles(
      spark: SparkSession,
      path1: String,
      path2: String,
      epsilon: Double = 0.0,
      noHeaderRow: Boolean = false): DataFrame = {
    def read(p: String): DataFrame = {
      val lower = p.toLowerCase
      if (lower.endsWith(".parquet")) {
        graft.sources.Formats.read(spark, p)
          .select(col("*"),
            col("_metadata.file_path").as("__f"),
            col("_metadata.row_index").as("__i"))
          .orderBy(col("__f"), col("__i"))
          .drop("__f", "__i")
      } else {
        // one split per text file
        graft.LocalSession.withConfs(spark,
            "spark.sql.files.maxPartitionBytes" -> (8L << 30).toString) {
          def readOne(f: String): DataFrame =
            if (noHeaderRow && f.toLowerCase.endsWith(".csv"))
              graft.sources.Formats.readCsvNoHeader(spark, f)
            else graft.sources.Formats.read(spark, f)
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val df =
            if (fs.getFileStatus(hp).isDirectory) {
              // lexicographic path order = the global row order; each file
              // is its own single split so union partition order IS file
              // order
              val files = fs.listStatus(hp)
                .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
                  !st.getPath.getName.startsWith("."))
                .map(_.getPath.toString).sorted
              require(files.nonEmpty, s"no data files in directory $p")
              files.map(readOne).reduce(_.unionByName(_))
            } else readOne(p)
          df.localCheckpoint() // materialize while the conf override is active
        }
      }
    }
    summarize(spark, read(path1), read(path2), epsilon)
  }
}
