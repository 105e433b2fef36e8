package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Round-3 continuation: semi-structured VARIANT extraction, higher-order
  * array functions, map-typed columns, native ordered string aggregation
  * (listagg), bitwise aggregates, first-principles linear regression, and
  * a correlated LATERAL top-n join.
  *
  * Exactness rules as everywhere (QUERIES.md): integer outputs where
  * possible, DECIMAL internal sums with one final double division chain
  * identical on both sides, total ORDER BY, no array/map-typed OUTPUT
  * columns (cross-engine rendering is not stable — reduce collections to
  * scalars before the final select).
  *
  * Cross-engine notes probed against DuckDB 1.0:
  * - DuckDB `map[key]` / `map_extract` return a LIST (empty when the key
  *   is absent) → `[1]` turns it into the scalar-or-NULL that Spark's
  *   `try_element_at` produces (plain `element_at` raises under ANSI mode,
  *   which Spark 4 enables by default).
  * - DuckDB `list_reduce` without an init value seeds with the first
  *   element → prepend an explicit typed zero so folds match Spark's
  *   `aggregate(..., 0L, ...)`.
  * - `printf`/`format_string` agree on %d/%s for BIGINT/VARCHAR, so both
  *   engines can construct byte-identical JSON documents to parse back.
  */
object SemiStructuredQueries {

  private def t(name: String) = (s: org.apache.spark.sql.SparkSession, dir: String) =>
    Tables.load(s, dir, name)

  val defs: Seq[QueryDef] = Seq(

    // Higher-order array functions reduced to scalars: aggregate (fold),
    // filter, exists, zip_with over a per-row generated sequence. All
    // integer math — exact on both engines.
    QueryDef("f25_hof_family", (s, dir) => {
      t("lineitem")(s, dir)
        .withColumn("arr", sequence(lit(1), col("l_linenumber")))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          expr("aggregate(arr, CAST(0 AS BIGINT), (acc, x) -> acc + CAST(x AS BIGINT) * x)")
            .as("sq_sum"),
          expr("CAST(size(filter(arr, x -> x % 2 = 0)) AS BIGINT)").as("even_cnt"),
          expr("exists(arr, x -> x = 3)").as("has3"),
          expr("aggregate(zip_with(arr, reverse(arr), (x, y) -> CAST(x AS BIGINT) * y)," +
               " CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("zipsum"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some("""
      WITH g AS (
        SELECT l_orderkey, l_linenumber,
               generate_series(1, l_linenumber) AS arr
        FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(arr, x -> CAST(x AS BIGINT) * x)),
               (acc, v) -> acc + v) AS sq_sum,
             CAST(len(list_filter(arr, x -> x % 2 = 0)) AS BIGINT) AS even_cnt,
             list_contains(arr, 3) AS has3,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(arr, x -> CAST(x AS BIGINT) * (l_linenumber + 1 - x))),
               (acc, v) -> acc + v) AS zipsum
      FROM g ORDER BY l_orderkey, l_linenumber""")),

    // VARIANT semi-structured extraction (Spark 4's open-schema column
    // type): both engines build the SAME JSON document with printf, Spark
    // parses it to VARIANT and path-extracts typed scalars (nested object,
    // array index, missing path → NULL via try_variant_get), DuckDB
    // extracts from the JSON directly. This is the schema-on-read shape of
    // the reference's custom_fields column (SURVEY §1.3) without declaring
    // a struct up front.
    QueryDef("f26_variant_json", (s, dir) => {
      t("orders")(s, dir)
        .withColumn("js", format_string(
          "{\"id\":%d,\"cust\":{\"key\":%d,\"pri\":\"%s\"},\"arr\":[%d,%d,7]}",
          col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          col("o_orderkey") % 10, col("o_custkey") % 10))
        .select(
          col("o_orderkey"),
          expr("variant_get(parse_json(js), '$.cust.key', 'bigint')").as("cust_key"),
          expr("variant_get(parse_json(js), '$.cust.pri', 'string')").as("pri"),
          expr("variant_get(parse_json(js), '$.arr[1]', 'bigint')").as("arr_1"),
          expr("try_variant_get(parse_json(js), '$.nope', 'bigint')").as("missing"))
        .orderBy(col("o_orderkey"))
    }, Some("""
      WITH j AS (
        SELECT o_orderkey,
               printf('{"id":%d,"cust":{"key":%d,"pri":"%s"},"arr":[%d,%d,7]}',
                      o_orderkey, o_custkey, o_orderpriority,
                      o_orderkey % 10, o_custkey % 10) AS js
        FROM orders)
      SELECT o_orderkey,
             CAST(json_extract(js, '$.cust.key') AS BIGINT) AS cust_key,
             json_extract_string(js, '$.cust.pri') AS pri,
             CAST(json_extract(js, '$.arr[1]') AS BIGINT) AS arr_1,
             CAST(json_extract(js, '$.nope') AS BIGINT) AS missing
      FROM j ORDER BY o_orderkey""")),

    // Map-typed column family reduced to scalars: construction, lookup,
    // missing-key NULL (try_element_at — ANSI-safe), cardinality, key
    // membership, value-predicate filter, key join.
    QueryDef("f27_map_family", (s, dir) => {
      t("customer")(s, dir)
        .withColumn("m", map(
          lit("nat"), col("c_nationkey").cast("long"),
          lit("cust"), col("c_custkey")))
        .select(
          col("c_custkey"),
          expr("try_element_at(m, 'nat')").as("nat_val"),
          expr("try_element_at(m, 'zz')").as("zz_val"),
          size(col("m")).cast("long").as("n_keys"),
          expr("map_contains_key(m, 'cust')").as("has_cust"),
          expr("CAST(cardinality(map_filter(m, (k, v) -> v > 100)) AS BIGINT)")
            .as("big_cnt"),
          expr("array_join(map_keys(m), ',')").as("keys_csv"))
        .orderBy(col("c_custkey"))
    }, Some("""
      WITH mm AS (
        SELECT c_custkey,
               map(['nat','cust'], [CAST(c_nationkey AS BIGINT), c_custkey]) AS m
        FROM customer)
      SELECT c_custkey,
             map_extract(m, 'nat')[1] AS nat_val,
             map_extract(m, 'zz')[1] AS zz_val,
             CAST(cardinality(m) AS BIGINT) AS n_keys,
             list_contains(map_keys(m), 'cust') AS has_cust,
             CAST(len(list_filter(map_values(m), v -> v > 100)) AS BIGINT) AS big_cnt,
             array_to_string(map_keys(m), ',') AS keys_csv
      FROM mm ORDER BY c_custkey""")),

    // Binary (opaque payload) columns flowing through the engine with
    // exact parity: cast→bytes, octet length, hex, base64 round trip —
    // the binary column type survives scans, projections, and codecs
    // bit-exactly.
    QueryDef("multimodal_binary_roundtrip", (s, dir) => {
      t("documents")(s, dir).select(
          col("doc_id"),
          octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
          hex(substring(col("text"), 1, 8).cast("binary")).as("hex8"),
          base64(substring(col("text"), 1, 16).cast("binary")).as("b64_16"),
          octet_length(unbase64(base64(col("text").cast("binary"))))
            .cast("long").as("rt_bytes"))
        .orderBy(col("doc_id"))
    }, Some("""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             hex(encode(substr(text, 1, 8))) AS hex8,
             to_base64(encode(substr(text, 1, 16))) AS b64_16,
             CAST(octet_length(from_base64(to_base64(encode(text)))) AS BIGINT) AS rt_bytes
      FROM documents ORDER BY doc_id""")),

    // Native ordered string aggregation: Spark 4 listagg WITHIN GROUP
    // (ORDER BY) ≡ DuckDB string_agg(... ORDER BY ...). The declarative
    // counterpart of the A6 collect_list+sort pattern — the sort happens
    // inside the aggregate, one shuffle keyed by customer. Order key
    // (o_orderkey) is unique per group, so the result is total.
    QueryDef("a13_listagg", (s, dir) => {
      t("orders")(s, dir).createOrReplaceTempView("orders_la_v")
      s.sql("""
        SELECT o_custkey,
               listagg(o_orderpriority, '|') WITHIN GROUP (ORDER BY o_orderkey) AS pris,
               count(*) AS n
        FROM orders_la_v GROUP BY o_custkey ORDER BY o_custkey""")
    }, Some("""
      SELECT o_custkey,
             string_agg(o_orderpriority, '|' ORDER BY o_orderkey) AS pris,
             count(*) AS n
      FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    // Bitwise aggregate family — integer-exact, commutative/associative
    // accumulators so map-side partial aggregation holds.
    QueryDef("a14_bitwise_agg", (s, dir) => {
      t("lineitem")(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("bit_and(l_partkey)").as("ba"),
          expr("bit_or(l_partkey)").as("bo"),
          expr("bit_xor(l_orderkey)").as("bx"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }, Some("""
      SELECT l_returnflag,
             bit_and(l_partkey) AS ba,
             bit_or(l_partkey) AS bo,
             bit_xor(l_orderkey) AS bx,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // First-principles grouped linear regression (slope / intercept / R²)
    // from DECIMAL-exact moment sums with an identical final double
    // expression chain on both sides — the portable form of
    // regr_slope/regr_intercept/regr_r2, whose native accumulation order
    // is engine-dependent in float.
    QueryDef("stats_regr_line", (s, dir) => {
      val x = col("user_id").cast("double")
      val y = col("value")
      val agged = t("events")(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(x.cast("decimal(18,4)")).cast("double").as("sx"),
          sum(y.cast("decimal(18,4)")).cast("double").as("sy"),
          sum((x * x).cast("decimal(28,8)")).cast("double").as("sxx"),
          sum((y * y).cast("decimal(28,8)")).cast("double").as("syy"),
          sum((x * y).cast("decimal(28,8)")).cast("double").as("sxy"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      agged.select(col("event_type"), col("n"),
          slope.as("slope"),
          ((col("sy") - slope * col("sx")) / col("n")).as("icept"),
          (((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))) /
           ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))).as("r2"))
        .orderBy(col("event_type"))
    }, Some("""
      WITH m AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n,
               -- moment sums go DECIMAL→VARCHAR→DOUBLE: DuckDB's direct
               -- decimal→double cast can land 1 ulp off the correctly-
               -- rounded value once the sum outgrows 2^53 (seen at sf1.0:
               -- slope diverged in the 14th digit); the string route is
               -- strtod, correctly rounded, matching Spark's
               -- BigDecimal.doubleValue (ProfilingQueries' rule)
               CAST(CAST(sum(CAST(CAST(user_id AS DOUBLE) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(sum(CAST(CAST(user_id AS DOUBLE) * CAST(user_id AS DOUBLE)
                             AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(sum(CAST(value * value AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(sum(CAST(CAST(user_id AS DOUBLE) * value AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sxy
        FROM events GROUP BY event_type)
      SELECT event_type, n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS icept,
             ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
               ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
      FROM m ORDER BY event_type""")),

    // Correlated LATERAL top-n join: per customer, the 2 highest-price
    // orders. Catalyst decorrelates the LIMIT-under-LATERAL into a
    // ranked window join — no per-row re-execution (same planning family
    // as scalar_subquery_select).
    QueryDef("j15_lateral_topn", (s, dir) => {
      t("customer")(s, dir).createOrReplaceTempView("customer_lat_v")
      t("orders")(s, dir).createOrReplaceTempView("orders_lat_v")
      s.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer_lat_v c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_lat_v
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2) o
        ORDER BY c.c_custkey, o.o_orderkey""")
    }, Some("""
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer c,
      LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2) o
      ORDER BY c.c_custkey, o.o_orderkey"""))
  )
}
