package graft.queries

import graft.{Declared, Tables}
import org.apache.spark.sql.functions._

/** Scalar-function batteries (SURVEY §2.B scalar rows: math, string, regex,
  * date/time, conditional/cast, array). All codegen'd built-ins — no UDFs —
  * so every battery stays inside WholeStageCodegen on top of the scan.
  *
  * Oracle notes: DuckDB returns BIGINT for length/strpos/extract-style
  * functions and DATE for date_trunc, rounds on double→int casts, and needs
  * the 'g' flag on regexp_replace — each oracle casts/flags accordingly so
  * values AND schemas match Spark exactly.
  */
object Scalars {
  import Tables.t

  val stringFuncs = Declared(
    "q_string_funcs",
    (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("name_up"),
          lower(col("p_brand")).as("brand_lo"),
          length(col("p_name")).as("name_len"),
          substring(col("p_type"), 1, 5).as("type5"),
          concat_ws("#", col("p_brand"), col("p_type")).as("brand_type"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          regexp_replace(col("p_name"), " ", "_").as("name_us"),
          reverse(col("p_brand")).as("brand_rev"),
          expr("split_part(p_type, ' ', 1)").as("type_first"),
          expr("startswith(p_name, 'a')").as("starts_a"),
          expr("left(p_name, 3)").as("l3"),
          expr("right(p_name, 3)").as("r3"),
          translate(col("p_brand"), "Br", "bR").as("brand_tr"),
          expr("repeat(p_brand, 2)").as("brand2"),
          levenshtein(col("p_brand"), lit("Brand#13")).as("lev"),
          ascii(col("p_name")).as("first_ascii"),
          instr(col("p_name"), "a").as("a_pos"),
          trim(lit("  x  ")).as("trimmed"),
          md5(col("p_name")).as("name_md5"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      upper(p_name) AS name_up, lower(p_brand) AS brand_lo,
      CAST(length(p_name) AS INTEGER) AS name_len,
      substr(p_type, 1, 5) AS type5,
      p_brand || '#' || p_type AS brand_type,
      lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
      replace(p_name, ' ', '_') AS name_us,
      reverse(p_brand) AS brand_rev,
      split_part(p_type, ' ', 1) AS type_first,
      starts_with(p_name, 'a') AS starts_a,
      left(p_name, 3) AS l3, right(p_name, 3) AS r3,
      translate(p_brand, 'Br', 'bR') AS brand_tr,
      repeat(p_brand, 2) AS brand2,
      CAST(levenshtein(p_brand, 'Brand#13') AS INTEGER) AS lev,
      CAST(ascii(p_name) AS INTEGER) AS first_ascii,
      CAST(strpos(p_name, 'a') AS INTEGER) AS a_pos,
      trim('  x  ') AS trimmed,
      md5(p_name) AS name_md5
      FROM part ORDER BY p_partkey"""))

  val mathFuncs = Declared(
    "q_math_funcs",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 500)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25.0).as("abs_dev"),
          ceil(col("l_extendedprice")).as("price_ceil"),
          floor(col("l_extendedprice")).as("price_floor"),
          round(pow(col("l_quantity"), 2.0), 4).as("qty_sq"),
          round(sqrt(col("l_extendedprice")), 6).as("price_sqrt"),
          round(log(col("l_extendedprice")), 6).as("price_ln"),
          round(log10(col("l_extendedprice")), 6).as("price_log10"),
          round(log2(col("l_quantity") + 1.0), 6).as("qty_log2"),
          round(exp(col("l_discount")), 6).as("disc_exp"),
          signum(col("l_quantity") - 25.0).as("dev_sign"),
          (col("l_linenumber") % 3).as("ln_mod"),
          greatest(col("l_quantity"), lit(25.0)).as("qty_hi"),
          least(col("l_discount"), col("l_tax")).as("disc_lo"),
          round(sin(col("l_quantity")), 6).as("qty_sin"),
          round(atan2(col("l_quantity"), col("l_linenumber").cast("double")), 6).as("at2"),
          round(radians(col("l_quantity")), 6).as("qty_rad"),
          round(degrees(col("l_discount")), 6).as("disc_deg"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("abs_dev"), col("price_ceil")),
    Some("""SELECT l_orderkey, l_linenumber,
      abs(l_quantity - 25.0) AS abs_dev,
      CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
      CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
      round(pow(l_quantity, 2.0), 4) AS qty_sq,
      round(sqrt(l_extendedprice), 6) AS price_sqrt,
      round(ln(l_extendedprice), 6) AS price_ln,
      round(log10(l_extendedprice), 6) AS price_log10,
      round(log2(l_quantity + 1.0), 6) AS qty_log2,
      round(exp(l_discount), 6) AS disc_exp,
      CAST(sign(l_quantity - 25.0) AS DOUBLE) AS dev_sign,
      l_linenumber % 3 AS ln_mod,
      greatest(l_quantity, 25.0) AS qty_hi,
      least(l_discount, l_tax) AS disc_lo,
      round(sin(l_quantity), 6) AS qty_sin,
      round(atan2(l_quantity, CAST(l_linenumber AS DOUBLE)), 6) AS at2,
      round(radians(l_quantity), 6) AS qty_rad,
      round(degrees(l_discount), 6) AS disc_deg
      FROM lineitem WHERE l_orderkey <= 500
      ORDER BY l_orderkey, l_linenumber, abs_dev, price_ceil"""))

  val dateFuncs = Declared(
    "q_date_funcs",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 1000)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          date_trunc("month", col("o_orderdate")).cast("timestamp_ntz").as("month_start"),
          last_day(col("o_orderdate")).as("month_end"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus30"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          col("o_orderdate").cast("date").as("as_date"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey,
      CAST(year(o_orderdate) AS INTEGER) AS y,
      CAST(month(o_orderdate) AS INTEGER) AS m,
      CAST(dayofmonth(o_orderdate) AS INTEGER) AS d,
      CAST(quarter(o_orderdate) AS INTEGER) AS q,
      CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      last_day(o_orderdate) AS month_end,
      o_orderdate + INTERVAL 30 DAY AS plus30,
      CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS INTEGER) AS days_since,
      CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
      CAST(o_orderdate AS DATE) AS as_date,
      strftime(o_orderdate, '%Y-%m') AS ym
      FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey"""))

  val regexFuncs = Declared(
    "q_regex_funcs",
    (s, dir) =>
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          regexp_extract(col("text"), "([a-z]{6,})", 1).as("first_long_word"),
          regexp_replace(col("text"), "[aeiou]", "*").as("devoweled_prefix"),
          col("text").rlike("join.*filter").as("has_join_filter"),
          size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("n_words"))
        .select(
          col("doc_id"), col("first_long_word"),
          substring(col("devoweled_prefix"), 1, 40).as("devoweled_prefix"),
          col("has_join_filter"), col("n_words"))
        .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      regexp_extract(text, '([a-z]{6,})', 1) AS first_long_word,
      substr(regexp_replace(text, '[aeiou]', '*', 'g'), 1, 40) AS devoweled_prefix,
      regexp_matches(text, 'join.*filter') AS has_join_filter,
      CAST(len(regexp_extract_all(text, '[a-z]+', 0)) AS INTEGER) AS n_words
      FROM documents ORDER BY doc_id"""))

  val conditionalFuncs = Declared(
    "q_conditional",
    (s, dir) =>
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          when(col("c_acctbal") < 0, "overdrawn")
            .when(col("c_acctbal") < 5000, "standard")
            .otherwise("premium").as("tier"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("<bldg>")).as("seg_masked"),
          (col("c_acctbal") > 0).as("in_credit"),
          round(greatest(col("c_acctbal"), lit(0.0)), 2).as("bal_floor0"))
        .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey,
      CASE WHEN c_acctbal < 0 THEN 'overdrawn'
           WHEN c_acctbal < 5000 THEN 'standard'
           ELSE 'premium' END AS tier,
      coalesce(nullif(c_mktsegment, 'BUILDING'), '<bldg>') AS seg_masked,
      c_acctbal > 0 AS in_credit,
      round(greatest(c_acctbal, 0.0), 2) AS bal_floor0
      FROM customer ORDER BY c_custkey"""))

  /** CAST battery. double→int is deliberately via floor/ceil (Spark cast
    * truncates, DuckDB cast rounds — the raw cast is a portability trap).
    */
  val castTypes = Declared(
    "q_cast_types",
    (s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_custkey") <= 500)
        .select(
          col("c_custkey"),
          col("c_custkey").cast("string").as("key_str"),
          col("c_custkey").cast("double").as("key_dbl"),
          col("c_custkey").cast("int").as("key_int"),
          floor(col("c_acctbal")).cast("long").as("bal_floor"),
          col("c_acctbal").cast("decimal(12,2)").cast("double").as("bal_dec"),
          (col("c_custkey") % 2 === 0).cast("string").as("even_str"),
          lit("123").cast("int").as("s2i"),
          lit("2024-03-05").cast("date").as("s2d"),
          lit("2024-03-05 06:07:08").cast("timestamp_ntz").as("s2ts"))
        .orderBy(col("c_custkey")),
    Some("""SELECT c_custkey,
      CAST(c_custkey AS VARCHAR) AS key_str,
      CAST(c_custkey AS DOUBLE) AS key_dbl,
      CAST(c_custkey AS INTEGER) AS key_int,
      CAST(floor(c_acctbal) AS BIGINT) AS bal_floor,
      CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal_dec,
      CAST(c_custkey % 2 = 0 AS VARCHAR) AS even_str,
      CAST('123' AS INTEGER) AS s2i,
      CAST('2024-03-05' AS DATE) AS s2d,
      CAST('2024-03-05 06:07:08' AS TIMESTAMP) AS s2ts
      FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey"""))

  val arrayFuncs = Declared(
    "q_array_funcs",
    (s, dir) =>
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 100)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first_raw"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("first_val"),
          round(array_max(col("embedding")).cast("double"), 6).as("max_val"),
          round(array_min(col("embedding")).cast("double"), 6).as("min_val"),
          round(expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"), 4).as("sum_val"),
          round(expr("sort_array(embedding)[0]").cast("double"), 6).as("sorted_first"),
          array_position(col("embedding"), array_max(col("embedding"))).cast("int").as("argmax1"))
        .orderBy(col("vec_id")),
    Some("""SELECT vec_id,
      CAST(len(embedding) AS INTEGER) AS dim,
      CAST(embedding[1] AS DOUBLE) AS first_raw,
      round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
      round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
      round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val,
      round(list_sum(embedding), 4) AS sum_val,
      round(CAST(list_sort(embedding)[1] AS DOUBLE), 6) AS sorted_first,
      CAST(list_position(embedding, list_max(embedding)) AS INTEGER) AS argmax1
      FROM embeddings WHERE vec_id < 100 ORDER BY vec_id"""))

  /** UNNEST / explode with position (fixture dim is fixed 64, so the oracle
    * can use a constant-bounds generate_series cross join).
    */
  val unnestQ = Declared(
    "q_unnest",
    (s, dir) =>
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 10)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(
          col("vec_id"), col("pos"),
          round(col("col").cast("double"), 6).as("v"))
        .orderBy(col("vec_id"), col("pos")),
    Some("""SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
      round(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE), 6) AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
      WHERE vec_id < 10 ORDER BY vec_id, pos"""))

  /** OUTER explode — the null-preservation semantics [[unnestQ]] can't
    * show: a row whose array is EMPTY must survive as one (null, null)
    * row instead of vanishing (the LEFT-JOIN-shaped flatten an
    * enrichment pipeline needs when "no attachments" must not drop the
    * parent record). Spark: posexplode_outer; the oracle rebuilds the
    * same shape as explode-rows UNION the empty-array parents.
    */
  val explodeOuter = Declared(
    "q_explode_outer",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 40)
        .select(
          col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, array().cast("array<string>"))
            .otherwise(array(col("o_orderstatus"), col("o_orderpriority")))
            .as("arr"))
        .select(col("o_orderkey"), posexplode_outer(col("arr")))
        .select(col("o_orderkey"), col("pos"), col("col").as("val"))
        .orderBy(col("o_orderkey"), col("pos")),
    Some("""WITH o AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 3 = 0 THEN []
               ELSE [o_orderstatus, o_orderpriority] END AS arr
        FROM orders WHERE o_orderkey <= 40),
      exploded AS (
        SELECT o_orderkey, CAST(i - 1 AS INTEGER) AS pos,
          arr[CAST(i AS INTEGER)] AS val
        FROM o CROSS JOIN generate_series(1, 2) t(i)
        WHERE len(arr) >= CAST(i AS INTEGER)),
      empties AS (
        SELECT o_orderkey, CAST(NULL AS INTEGER) AS pos,
          CAST(NULL AS VARCHAR) AS val
        FROM o WHERE len(arr) = 0)
      SELECT * FROM (SELECT * FROM exploded UNION ALL SELECT * FROM empties)
      ORDER BY o_orderkey, pos"""))

  /** Inverse + hyperbolic trig, cube root (same names both engines). */
  val mathFuncs3 = Declared(
    "q_math_funcs3",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 300)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          round(asin(col("l_discount")), 6).as("disc_asin"),
          round(acos(col("l_discount")), 6).as("disc_acos"),
          round(atan(col("l_quantity")), 6).as("qty_atan"),
          round(sinh(col("l_discount")), 6).as("disc_sinh"),
          round(cosh(col("l_discount")), 6).as("disc_cosh"),
          round(tanh(col("l_discount")), 6).as("disc_tanh"),
          round(cbrt(col("l_quantity")), 6).as("qty_cbrt"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")),
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      round(asin(l_discount), 6) AS disc_asin,
      round(acos(l_discount), 6) AS disc_acos,
      round(atan(l_quantity), 6) AS qty_atan,
      round((exp(l_discount) - exp(-l_discount)) / 2, 6) AS disc_sinh,
      round((exp(l_discount) + exp(-l_discount)) / 2, 6) AS disc_cosh,
      round((exp(2 * l_discount) - 1) / (exp(2 * l_discount) + 1), 6) AS disc_tanh,
      round(cbrt(l_quantity), 6) AS qty_cbrt
      FROM lineitem WHERE l_orderkey <= 300
      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""))

  /** Bitwise operators (& | ^ ~ shifts, popcount). */
  val bitFuncs = Declared(
    "q_bit_funcs",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 300)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          (col("l_partkey").bitwiseAND(col("l_suppkey"))).as("pk_and_sk"),
          (col("l_partkey").bitwiseOR(col("l_suppkey"))).as("pk_or_sk"),
          (col("l_partkey").bitwiseXOR(col("l_suppkey"))).as("pk_xor_sk"),
          shiftleft(col("l_linenumber"), 3).as("ln_shl3"),
          shiftright(col("l_partkey"), 2).as("pk_shr2"),
          bit_count(col("l_partkey")).as("pk_bits"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")),
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      l_partkey & l_suppkey AS pk_and_sk,
      l_partkey | l_suppkey AS pk_or_sk,
      xor(l_partkey, l_suppkey) AS pk_xor_sk,
      CAST(l_linenumber << 3 AS INTEGER) AS ln_shl3,
      l_partkey >> 2 AS pk_shr2,
      CAST(bit_count(l_partkey) AS INTEGER) AS pk_bits
      FROM lineitem WHERE l_orderkey <= 300
      ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""))

  /** More date parts: ISO week, day-of-year, day-of-week (aligned to the
    * Spark 1=Sunday convention), make_date round trip, add_months clamping.
    */
  val dateFuncs2 = Declared(
    "q_date_funcs2",
    (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 1000)
        .select(
          col("o_orderkey"),
          weekofyear(col("o_orderdate")).as("iso_week"),
          dayofyear(col("o_orderdate")).as("doy"),
          dayofweek(col("o_orderdate")).as("dow"),
          (make_date(year(col("o_orderdate")), month(col("o_orderdate")),
            dayofmonth(col("o_orderdate"))) === col("o_orderdate").cast("date")).as("make_date_rt"),
          add_months(col("o_orderdate"), 2).as("plus2m"))
        .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey,
      CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
      CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
      CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
      make_date(CAST(year(o_orderdate) AS INTEGER), CAST(month(o_orderdate) AS INTEGER),
        CAST(dayofmonth(o_orderdate) AS INTEGER)) = CAST(o_orderdate AS DATE) AS make_date_rt,
      CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m
      FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey"""))

  /** MAP type surface: construct, lookup, keys/values, membership, size.
    * Scalar projections only (a top-level map column can't be driver-sorted
    * for the hash compare; DuckDB's `m[key]` also returns a LIST, so both
    * engines agree on extracted scalars instead).
    */
  val mapFuncs = Declared(
    "q_map_funcs",
    (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_partkey") < 300)
        .withColumn("m", map_from_arrays(
          array(lit("brand"), lit("type"), lit("name")),
          array(col("p_brand"), col("p_type"), col("p_name"))))
        .select(
          col("p_partkey"),
          element_at(col("m"), "brand").as("m_brand"),
          size(col("m")).as("m_size"),
          array_join(map_keys(col("m")), ",").as("m_keys"),
          array_join(map_values(col("m")), "|").as("m_values"),
          map_contains_key(col("m"), "type").as("has_type"),
          element_at(col("m"), "missing").isNull.as("miss_null"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      m['brand'][1] AS m_brand,
      CAST(cardinality(m) AS INTEGER) AS m_size,
      array_to_string(map_keys(m), ',') AS m_keys,
      array_to_string(map_values(m), '|') AS m_values,
      list_contains(map_keys(m), 'type') AS has_type,
      (len(m['missing']) = 0) AS miss_null
      FROM (SELECT p_partkey,
        map(['brand','type','name'], [p_brand, p_type, p_name]) AS m
        FROM part WHERE p_partkey < 300)
      ORDER BY p_partkey"""))

  /** Higher-order-function battery: filter / exists / forall / transform /
    * zip_with / aggregate over the embedding arrays. Lambdas widen floats to
    * double before arithmetic and accumulate left-to-right, so DuckDB's
    * list_* mirrors agree bit-for-bit after round(...,6).
    */
  val hofFuncs = Declared(
    "q_hof_funcs",
    (s, dir) =>
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 500)
        .select(
          col("vec_id"),
          expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
          expr("exists(embedding, x -> x > 0.05)").as("any_big"),
          expr("forall(embedding, x -> abs(x) < 1.0)").as("all_small"),
          round(expr(
            """aggregate(
                 zip_with(embedding, reverse(embedding),
                          (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)),
                 CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"""), 6).as("rev_dot"),
          round(expr(
            "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"), 6).as("max_abs"))
        .orderBy(col("vec_id")),
    Some("""SELECT vec_id,
      CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
      len(list_filter(embedding, x -> x > 0.05)) > 0 AS any_big,
      len(list_filter(embedding, x -> abs(x) >= 1.0)) = 0 AS all_small,
      round(list_sum(list_transform(range(len(embedding)),
        i -> CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE)
           * CAST(embedding[len(embedding) - CAST(i AS INTEGER)] AS DOUBLE))), 6) + 0.0 AS rev_dot,
      round(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 6) AS max_abs
      FROM embeddings WHERE vec_id < 500 ORDER BY vec_id"""))

  /** The native Catalyst kernels reached from PLAIN SQL — the `bdt query`
    * user path. [[graft.GraftExtensions.register]] is idempotent and works
    * on any host-provided session (extension injection covers sessions the
    * library builds itself; this query must run under the harness's too).
    * Values are pinned by the same DuckDB formulations the Column-API
    * queries use, so the SQL route is oracle-checked end-to-end.
    */
  val sqlKernels = Declared(
    "q_sql_kernels",
    (s, dir) => {
      graft.GraftExtensions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_sql_docs")
      t(s, dir, "embeddings").createOrReplaceTempView("graft_sql_emb")
      s.sql("""SELECT d.doc_id,
          rolling_hash(d.text) AS rhash,
          md5_pair(d.text)[0] AS h1,
          md5_pair(d.text)[1] AS h2,
          round(cosine_sim(e.embedding, e.embedding), 6) AS self_cos
        FROM graft_sql_docs d
        JOIN graft_sql_emb e ON e.vec_id = d.doc_id
        ORDER BY d.doc_id""")
    },
    Some("""SELECT doc_id,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, len(text) + 1),
            i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        (a, b) -> (a * 31 + b) % 1000000007) AS rhash,
      CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS h1,
      CAST(concat('0x', substr(md5(text), 9, 8)) AS BIGINT) AS h2,
      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        CAST(e.embedding AS DOUBLE[])), 6) AS self_cos
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      ORDER BY doc_id"""))

  /** TRY_CAST: malformed input → null instead of error. */
  val tryCast = Declared(
    "q_try_cast",
    (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_partkey") < 100)
        .select(
          col("p_partkey"),
          expr("try_cast(p_brand AS INT)").as("brand_int"),
          expr("try_cast(substr(p_brand, 7, 2) AS INT)").as("brand_num"),
          // all-null DATE columns load with ambiguous pandas dtype; string
          // form keeps the oracle comparison well-typed
          expr("CAST(try_cast(p_name AS DATE) AS STRING)").as("name_date"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      TRY_CAST(p_brand AS INTEGER) AS brand_int,
      TRY_CAST(substr(p_brand, 7, 2) AS INTEGER) AS brand_num,
      CAST(TRY_CAST(p_name AS DATE) AS VARCHAR) AS name_date
      FROM part WHERE p_partkey < 100 ORDER BY p_partkey"""))

  /** Second string battery: btrim, chr, hex, sha2, bit/octet length. */
  val stringFuncs2 = Declared(
    "q_string_funcs2",
    (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_partkey") < 500)
        .select(
          col("p_partkey"),
          expr("btrim(p_brand, 'Brand#')").as("brand_core"),
          expr("chr(65 + CAST(p_partkey % 26 AS INT))").as("letter"),
          hex(col("p_size").cast("long")).as("size_hex"),
          sha2(col("p_name"), 256).as("name_sha"),
          bit_length(col("p_brand")).as("brand_bits"),
          octet_length(col("p_name")).as("name_bytes"),
          concat_ws("|", col("p_brand"), col("p_type"), col("p_name")).as("joined"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      trim(p_brand, 'Brand#') AS brand_core,
      chr(CAST(65 + p_partkey % 26 AS INTEGER)) AS letter,
      to_hex(p_size) AS size_hex,
      sha256(p_name) AS name_sha,
      CAST(bit_length(p_brand) AS INTEGER) AS brand_bits,
      CAST(octet_length(CAST(p_name AS BLOB)) AS INTEGER) AS name_bytes,
      p_brand || '|' || p_type || '|' || p_name AS joined
      FROM part WHERE p_partkey < 500 ORDER BY p_partkey"""))

  /** Second math battery: factorial, isnan/nan handling, pmod vs %. */
  val mathFuncs2 = Declared(
    "q_math_funcs2",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 200)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          factorial(col("l_linenumber")).as("ln_fact"),
          isnan(col("l_quantity") / col("l_quantity")).as("qq_isnan"),
          isnan(lit(Double.NaN)).as("nan_flag"), // DuckDB sqrt(-1) errors; a NaN literal is the portable probe
          pmod(col("l_orderkey") - lit(100), lit(7)).as("pmod7"),
          ((col("l_orderkey") - lit(100)) % lit(7)).as("rem7"),
          round(cbrt(col("l_extendedprice")), 6).as("price_cbrt"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("ln_fact")),
    Some("""SELECT l_orderkey, l_linenumber,
      CAST(factorial(l_linenumber) AS BIGINT) AS ln_fact,
      isnan(l_quantity / l_quantity) AS qq_isnan,
      isnan(CAST('nan' AS DOUBLE)) AS nan_flag,
      CAST((((l_orderkey - 100) % 7) + 7) % 7 AS BIGINT) AS pmod7,
      (l_orderkey - 100) % 7 AS rem7,
      round(cbrt(l_extendedprice), 6) AS price_cbrt
      FROM lineitem WHERE l_orderkey < 200
      ORDER BY l_orderkey, l_linenumber, ln_fact"""))

  /** Schema-based JSON parsing (from_json → struct), vs get_json_object's
    * path extraction in q_json_extract.
    */
  val jsonSchema = Declared(
    "q_json_schema",
    (s, dir) =>
      t(s, dir, "events")
        .filter(col("event_id") < 500)
        .select(
          col("event_id"),
          expr("from_json(props, 'k INT')").getField("k").as("k"),
          (expr("from_json(props, 'k INT')").getField("k") % 10).as("k_mod"))
        .orderBy(col("event_id")),
    Some("""SELECT event_id,
      CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k,
      CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) % 10 AS k_mod
      FROM events WHERE event_id < 500 ORDER BY event_id"""))

  /** typeof introspection (the reference exposes DataFusion's arrow_typeof).
    * Restricted to the type names Spark and DuckDB spell identically
    * (bigint/double); the full cross-engine mapping lives in SchemaOp.
    */
  val typeofQ = Declared(
    "q_typeof",
    (s, dir) =>
      t(s, dir, "lineitem")
        .limit(1)
        .select(
          lower(expr("typeof(l_orderkey)")).as("t_key"),
          lower(expr("typeof(l_quantity)")).as("t_qty")),
    Some("""SELECT lower(typeof(l_orderkey)) AS t_key,
      lower(typeof(l_quantity)) AS t_qty
      FROM lineitem LIMIT 1"""))

  val all: Seq[Declared] = Seq(
    stringFuncs, mathFuncs, dateFuncs, regexFuncs, conditionalFuncs,
    castTypes, arrayFuncs, unnestQ, explodeOuter, mathFuncs3, bitFuncs,
    dateFuncs2, mapFuncs, hofFuncs, sqlKernels,
    tryCast, stringFuncs2, mathFuncs2, jsonSchema, typeofQ)
}
