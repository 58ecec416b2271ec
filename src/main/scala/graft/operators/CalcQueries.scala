package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._

/** Calc (fused project+filter) + scalar-function surface (SURVEY §2.5)
  * + UNNEST/correlate (SURVEY §2.4 "Projection / filter / expand /
  * correlate").
  *
  * Reference: `BatchExecCalc.scala` / `CalcCodeGenerator.scala` for the
  * operator; `FlinkSqlOperatorTable.java` for the function registry
  * (string :187–737, math :165–308, temporal :464–671, conditional
  * :551); UNNEST `LogicalUnnestRule.scala:49`; correlate/UDTF
  * `BatchExecCorrelate.scala`.
  *
  * All functions here are Spark built-ins or compositions thereof
  * (GraftFunctions) — everything stays inside whole-stage codegen; no
  * Scala UDF appears in any of these plans.
  */
object CalcQueries extends QuerySet {

  val queries: Map[String, Q] = Map(
    // String function battery over part names.
    "q40_fn_string" -> ((s, d) => {
      Tables.part(s, d)
        .filter(col("p_partkey") <= 500)
        .select(col("p_partkey"),
          concat_ws("-", col("p_brand"), col("p_name")).as("cw"),
          lpad(col("p_brand"), 12, "*").as("lp"),
          rpad(col("p_brand"), 12, "#").as("rp"),
          reverse(col("p_name")).as("rev"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("novowel"),
          split_index(col("p_type"), " ", 0).as("type0"),
          split_index(col("p_type"), " ", 1).as("type1"),
          substring(col("p_name"), 2, 5).as("sub"),
          expr("left(p_name, 4)").as("l4"),
          expr("right(p_name, 4)").as("r4"),
          instr(col("p_name"), "a").as("pos_a"),
          ascii(col("p_brand")).as("asc"),
          length(col("p_name")).as("len"),
          upper(col("p_brand")).as("up"),
          lower(col("p_brand")).as("lo"),
          trim(lpad(col("p_brand"), 12, " ")).as("trimmed"),
          repeat(lit("ab"), 3).as("rep"),
          translate(col("p_name"), "abc", "xyz").as("tr"))
        .orderBy(col("p_partkey"))
    }),

    // Regex + hash functions.
    "q41_fn_regex_hash" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          col("text").rlike("table").as("has_table"),
          regexp_extract(col("text"), "([a-z]+) (join|agg)", 1).as("before_kw"),
          md5(col("text")).as("md5"),
          sha2(col("text"), 256).as("sha256"),
          regexp_replace(base64(col("text").cast("binary")), "[\r\n]", "").as("b64"),
          is_digit(regexp_replace(col("text"), "[^0-9]", "")).as("digits_only"),
          is_alpha(col("lang")).as("lang_alpha"),
          is_decimal(col("n_chars").cast("string")).as("nchars_dec"))
        .orderBy(col("doc_id"))
    }),

    // Temporal functions over order dates.
    "q42_fn_temporal" -> ((s, d) => {
      Tables.orders(s, d)
        .filter(col("o_orderkey") <= 3000)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          dayofyear(col("o_orderdate")).as("doy"),
          (dayofweek(col("o_orderdate")) - 1).as("dow"),
          weekofyear(col("o_orderdate")).as("woy"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mstart"),
          last_day(col("o_orderdate")).as("mend"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate")).as("days_to_2002"),
          unix_timestamp(col("o_orderdate")).as("epoch"))
        .orderBy(col("o_orderkey"))
    }),

    // Math battery (rounded for cross-engine libm parity).
    "q43_fn_math" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 1).as("r1"),
          floor(col("l_extendedprice")).as("fl"),
          ceil(col("l_extendedprice")).as("ce"),
          truncate(col("l_extendedprice"), 1).as("tr1"),
          abs(col("l_discount") - lit(0.05)).as("ab"),
          round(sqrt(col("l_quantity")), 6).as("sq"),
          round(pow(col("l_quantity"), 2), 2).as("p2"),
          round(log(col("l_extendedprice")), 6).as("ln_p"),
          round(log10(col("l_extendedprice")), 6).as("log10_p"),
          round(log2(col("l_quantity")), 6).as("log2_q"),
          round(exp(col("l_discount")), 6).as("exp_d"),
          round(sin(col("l_discount")), 6).as("sin_d"),
          round(cos(col("l_discount")), 6).as("cos_d"),
          round(tanh(col("l_discount")), 6).as("tanh_d"),
          signum(col("l_discount") - lit(0.05)).cast("int").as("sgn"),
          pmod(col("l_orderkey"), lit(7)).as("m7"),
          bin(col("l_orderkey")).as("b2"),
          hex(col("l_orderkey")).as("h16"),
          (col("l_quantity") % lit(7.0)).as("fmod7"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Conditional / comparison surface.
    "q44_fn_conditional" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high").as("band"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("---")).as("seg"),
          when(col("c_nationkey") % 2 === 0, col("c_name")).as("even_name"),
          greatest(col("c_acctbal"), lit(0.0)).as("pos_bal"),
          least(col("c_nationkey"), lit(10)).as("nk10"),
          (col("c_acctbal") > 1000 && col("c_nationkey") < 12).as("flag_and"),
          (col("c_acctbal") < 0 || col("c_nationkey") === 0).as("flag_or"),
          col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY").as("in_set"),
          col("c_acctbal").between(0, 1000).as("btw"))
        .orderBy(col("c_custkey"))
    }),

    // CAST lattice (SURVEY §1.2 layer B types). Double→decimal and
    // double→string go through exact integer cents (round(x*100) as
    // bigint): Spark's raw double casts round/format via the shortest
    // decimal repr while DuckDB uses the raw binary double — integer
    // cents and decimal→string are identical in both engines.
    "q45_fn_cast" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("int").as("q_int"),
          col("l_quantity").cast("long").as("q_long"),
          // String-rendered (like tax_s): a decimal OUTPUT column fails
          // the driver's repr hash (float64 vs Decimal; r2 red q45).
          expr("cast(cast(cast(round(l_extendedprice * 100) as bigint) * 0.01 as decimal(18,2)) as string)").as("p_dec"),
          col("l_orderkey").cast("string").as("k_str"),
          col("l_orderkey").cast("double").as("k_dbl"),
          col("l_shipdate").cast("date").as("ship_d"),
          col("l_shipdate").cast("date").cast("string").as("ship_s"),
          (col("l_quantity") > 25).cast("int").as("big_q"),
          expr("cast(cast(cast(round(l_tax * 100) as bigint) * 0.01 as decimal(4,2)) as string)").as("tax_s"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // UNNEST / explode (LogicalUnnestRule → GenerateExec): word counts.
    "q46_unnest_words" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
    }),

    // posexplode (WITH ORDINALITY).
    "q47_unnest_pos" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(col("doc_id") <= 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("pos", "idx")
        .withColumnRenamed("col", "word")
        .filter(col("idx") < 5)
        .orderBy(col("doc_id"), col("idx"))
    }),

    // Array constructors + higher-order functions on a built array.
    // Every array-typed output is serialized to a string (array_join /
    // cents for doubles): the driver's pandas comparator cannot hash
    // array cells, and double-element formatting differs per engine.
    "q48_array_hof" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 200)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"),
             sort_array(collect_list(round(col("l_quantity"), 2))).as("qtys"))
        .select(col("l_orderkey"),
          array_join(col("lines"), ",").as("lines"),
          size(col("lines")).cast("long").as("n"),
          aggregate(col("qtys"), lit(0.0),
            (acc, x) => acc + x).as("sum_q"),
          array_join(transform(col("lines"), x => x * 2), ",").as("dbl"),
          array_join(transform(filter(col("qtys"), x => x > 25),
            x => round(x * 100).cast("long")), ",").as("big"),
          element_at(col("lines"), 1).as("first_line"),
          array_contains(col("lines"), 1).as("has1"),
          array_join(slice(col("lines"), 1, 2), ",").as("first2"))
        .orderBy(col("l_orderkey"))
    }),

    // JSON-ish extraction from props (regexp-based; Flink 1.10 has no
    // JSON functions — Spark's get_json_object is a superset, but the
    // oracle-checked path uses the regexp surface).
    "q49_props_extract" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("event_id") <= 2000)
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("int").as("k"),
          get_json_object(col("props"), "$.k").cast("int").as("k_json"))
        .orderBy(col("event_id"))
    }),

    // Array set-operation battery (the collection half of the
    // reference's collection functions, FlinkSqlOperatorTable
    // ARRAY/ELEMENT/CARDINALITY + composite surface): union /
    // intersect / except / distinct-flatten / overlap / position /
    // remove / zip_with / exists / forall / min / max / sequence.
    // Set-valued results are sorted and string-joined on both sides
    // (set ops are order-unspecified; the scalar surface is what is
    // being checked).
    "q97_fn_array2" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 200)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_linenumber"))).as("a"))
        .select(col("l_orderkey"),
          array_join(sort_array(array_union(col("a"), array(lit(2L), lit(9L)))), ",").as("un"),
          array_join(sort_array(array_intersect(col("a"),
            array(lit(1L), lit(2L), lit(3L)))), ",").as("inter"),
          array_join(sort_array(array_except(col("a"), array(lit(1L)))), ",").as("exc"),
          array_join(sort_array(array_distinct(flatten(array(col("a"), col("a"))))), ",").as("flat"),
          arrays_overlap(col("a"), array(lit(5L), lit(6L))).as("ovl"),
          array_position(col("a"), 2).cast("long").as("pos2"),
          array_join(array_remove(col("a"), 1), ",").as("rem1"),
          array_join(zip_with(col("a"), col("a"), (x, y) => x + y), ",").as("zsum"),
          exists(col("a"), x => x > 3).as("has_gt3"),
          forall(col("a"), x => x >= 1).as("all_ge1"),
          array_min(col("a")).as("mn"),
          array_max(col("a")).as("mx"),
          array_join(sequence(lit(1), lit(3)), ",").as("seq13"))
        .orderBy(col("l_orderkey"))
    }),

    // Misc-function battery closing the §2.5 registry tail: PARSE_URL
    // (FlinkSqlOperatorTable.java:482 — DuckDB has no parse_url, so the
    // oracle mirrors each part with an anchored regexp), DECODE/ENCODE
    // round-trip (:697/:705), LOCATE (:679), epoch→timestamp
    // construction (FROM_UNIXTIME:541), and UTC→zone conversion
    // (CONVERT_TZ:671 ≙ from_utc_timestamp here).
    "q99_fn_misc" -> ((s, d) => {
      Tables.orders(s, d)
        .filter(col("o_orderkey") <= 2000)
        .withColumn("url", concat(lit("https://ex"), col("o_orderkey") % 5,
          lit(".org/p/"), col("o_orderkey"), lit("?q="), col("o_orderkey") % 7))
        .select(col("o_orderkey"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("qs"),
          locate(".org", col("url")).cast("long").as("loc"),
          decode(encode(col("o_orderpriority"), "UTF-8"), "UTF-8").as("rt"),
          timestamp_seconds(lit(1500000000L) + col("o_orderkey") * 3600)
            .as("ts_epoch"),
          from_utc_timestamp(col("o_orderdate"), "America/New_York").as("ny"))
        .orderBy(col("o_orderkey"))
    }),

    // Map function battery (reference MAP constructor + CARDINALITY +
    // item access, FlinkSqlOperatorTable ITEM/MAP_VALUE_CONSTRUCTOR):
    // construction from arrays, key/value extraction, cardinality,
    // value transform, predicate filter — values derived from the row
    // so every map differs.
    "q98_fn_map" -> ((s, d) => {
      val m = map_from_arrays(
        array(lit("a"), lit("b"), lit("c")),
        array(col("o_orderkey") % 10, col("o_orderkey") % 7, lit(5L)))
      Tables.orders(s, d)
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          array_join(sort_array(map_keys(m)), ",").as("mk"),
          array_join(sort_array(map_values(m)), ",").as("mv"),
          element_at(m, "b").as("vb"),
          size(m).cast("long").as("msz"),
          element_at(transform_values(m, (_, v) => v * 2), "a").as("va2"),
          array_join(sort_array(map_keys(map_filter(m, (_, v) => v > 3))), ",")
            .as("big_keys"))
        .orderBy(col("o_orderkey"))
    }),

    // Nondeterministic scalar surface (reference UUID /
    // PROCTIME materialization — FlinkSqlOperatorTable UUID,
    // ProcTimeMaterialization). The VALUES differ run to run by
    // nature, so the oracle binds the deterministic INVARIANTS as
    // counts: uuid() yields one distinct well-formed v4 UUID per row,
    // and processing time is query-constant within a batch (Spark's
    // current_timestamp() contract, the semantic PROCTIME exposes to
    // a single micro-batch). NondetSurfaceSpec covers the cross-batch
    // monotonicity half that needs a real stream.
    // Approximate aggregates oracle-bound through their DETERMINISTIC
    // invariants (the q257 discipline — the estimates themselves are
    // engine-specific, the invariants are not): HLL++
    // approx_count_distinct lands within 3σ of exact (rsd 0.05 →
    // 15%; the sketch is a deterministic function of the data, so
    // this is a fixed boolean per dataset, verified at every SF +
    // soak); the datasketches HLL union over a DISJOINT PARTITION of
    // the rows estimates within 5% of the whole-data sketch — the
    // mergeability contract a 1000-executor partial aggregation
    // relies on. (Not EXACT equality: past coupon mode the union
    // result carries the out-of-order flag, which selects a
    // different estimator than the directly-built sketch — the
    // registers agree, the last-mile estimate can drift ~1%; the
    // sf1 soak is what surfaced this.) percentile_approx at accuracy
    // 10⁴ lands within 1 of the exact interpolated percentile
    // (quantity buckets dwarf the GK rank error at every SF).
    "q275_approx_audit" -> ((s, d) => {
      val e = Tables.lineitem(s, d)
      e.agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          approx_count_distinct(col("l_suppkey")).as("est_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          approx_count_distinct(col("l_partkey")).as("est_part"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("apx_med"),
          percentile_approx(col("l_quantity"), lit(0.9), lit(10000)).as("apx_p90"),
          expr("percentile(l_quantity, 0.5)").as("ex_med"),
          expr("percentile(l_quantity, 0.9)").as("ex_p90"),
          expr("hll_sketch_estimate(hll_sketch_agg(l_suppkey))").as("hll_all"),
          expr("""hll_sketch_estimate(hll_union(
                 |  hll_sketch_agg(case when l_orderkey % 2 = 0 then l_suppkey end),
                 |  hll_sketch_agg(case when l_orderkey % 2 = 1 then l_suppkey end)))"""
            .stripMargin).as("hll_union"))
        .select(
          col("n_supp"), col("n_part"),
          (abs(col("est_supp") - col("n_supp")) <=
            col("n_supp") * 0.15).as("supp_within_3sigma"),
          (abs(col("est_part") - col("n_part")) <=
            col("n_part") * 0.15).as("part_within_3sigma"),
          (abs(col("hll_all") - col("hll_union")) <=
            col("hll_all") * 0.05).as("hll_merge_within"),
          (abs(col("apx_med") - col("ex_med")) <= 1.0).as("med_within_1"),
          (abs(col("apx_p90") - col("ex_p90")) <= 1.0).as("p90_within_1"))
    }),

    "q257_nondet_invariants" -> ((s, d) => {
      val v4 = "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-" +
        "[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
      Tables.lineitem(s, d)
        .select(expr("uuid()").as("u"), current_timestamp().as("pt"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("u")).as("n_uuid_distinct"),
          sum(when(col("u").rlike(v4), 1L).otherwise(0L)).as("n_uuid_v4"),
          countDistinct(col("pt")).as("n_proctime_distinct"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q40_fn_string" ->
      """SELECT p_partkey,
        |  concat_ws('-', p_brand, p_name) AS cw,
        |  lpad(p_brand, 12, '*') AS lp,
        |  rpad(p_brand, 12, '#') AS rp,
        |  reverse(p_name) AS rev,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS novowel,
        |  nullif(split_part(p_type, ' ', 1), '') AS type0,
        |  nullif(split_part(p_type, ' ', 2), '') AS type1,
        |  substr(p_name, 2, 5) AS sub,
        |  left(p_name, 4) AS l4,
        |  right(p_name, 4) AS r4,
        |  instr(p_name, 'a') AS pos_a,
        |  ascii(p_brand) AS asc,
        |  length(p_name) AS len,
        |  upper(p_brand) AS up,
        |  lower(p_brand) AS lo,
        |  trim(lpad(p_brand, 12, ' ')) AS trimmed,
        |  repeat('ab', 3) AS rep,
        |  translate(p_name, 'abc', 'xyz') AS tr
        |FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""".stripMargin,
    "q41_fn_regex_hash" ->
      """SELECT doc_id,
        |  regexp_matches(text, 'table') AS has_table,
        |  coalesce(regexp_extract(text, '([a-z]+) (join|agg)', 1), '') AS before_kw,
        |  md5(text) AS md5,
        |  sha256(text) AS sha256,
        |  to_base64(text::BLOB) AS b64,
        |  regexp_matches(regexp_replace(text, '[^0-9]', '', 'g'), '^[0-9]+$') AS digits_only,
        |  regexp_matches(lang, '^[A-Za-z]+$') AS lang_alpha,
        |  regexp_matches(CAST(n_chars AS VARCHAR), '^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)$') AS nchars_dec
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q42_fn_temporal" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |  month(o_orderdate) AS m, dayofmonth(o_orderdate) AS dom,
        |  dayofyear(o_orderdate) AS doy,
        |  dayofweek(o_orderdate) AS dow,
        |  week(o_orderdate) AS woy,
        |  strftime(o_orderdate, '%Y-%m') AS ym,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
        |  last_day(CAST(o_orderdate AS DATE)) AS mend,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
        |  CAST(extract(epoch FROM o_orderdate) AS BIGINT) AS epoch
        |FROM orders WHERE o_orderkey <= 3000 ORDER BY o_orderkey""".stripMargin,
    "q43_fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice, 1) AS r1,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        |  trunc(l_extendedprice * 10) / 10 AS tr1,
        |  abs(l_discount - 0.05) AS ab,
        |  round(sqrt(l_quantity), 6) AS sq,
        |  round(pow(l_quantity, 2), 2) AS p2,
        |  round(ln(l_extendedprice), 6) AS ln_p,
        |  round(log10(l_extendedprice), 6) AS log10_p,
        |  round(log2(l_quantity), 6) AS log2_q,
        |  round(exp(l_discount), 6) AS exp_d,
        |  round(sin(l_discount), 6) AS sin_d,
        |  round(cos(l_discount), 6) AS cos_d,
        |  round((exp(l_discount)-exp(-l_discount))/(exp(l_discount)+exp(-l_discount)), 6) AS tanh_d,
        |  CAST(CASE WHEN l_discount - 0.05 > 0 THEN 1 WHEN l_discount - 0.05 < 0 THEN -1 ELSE 0 END AS INT) AS sgn,
        |  l_orderkey % 7 AS m7,
        |  bin(l_orderkey) AS b2,
        |  hex(l_orderkey) AS h16,
        |  fmod(l_quantity, 7.0) AS fmod7
        |FROM lineitem WHERE l_orderkey <= 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q44_fn_conditional" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'neg'
        |       WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '---') AS seg,
        |  CASE WHEN c_nationkey % 2 = 0 THEN c_name END AS even_name,
        |  greatest(c_acctbal, 0.0) AS pos_bal,
        |  least(c_nationkey, 10) AS nk10,
        |  (c_acctbal > 1000 AND c_nationkey < 12) AS flag_and,
        |  (c_acctbal < 0 OR c_nationkey = 0) AS flag_or,
        |  c_mktsegment IN ('AUTOMOBILE','MACHINERY') AS in_set,
        |  c_acctbal BETWEEN 0 AND 1000 AS btw
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q45_fn_cast" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS INT) AS q_int,
        |  CAST(l_quantity AS BIGINT) AS q_long,
        |  CAST(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * 0.01 AS DECIMAL(18,2)) AS VARCHAR) AS p_dec,
        |  CAST(l_orderkey AS VARCHAR) AS k_str,
        |  CAST(l_orderkey AS DOUBLE) AS k_dbl,
        |  CAST(l_shipdate AS DATE) AS ship_d,
        |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_s,
        |  CAST(l_quantity > 25 AS INT) AS big_q,
        |  CAST(CAST(CAST(round(l_tax * 100) AS BIGINT) * 0.01 AS DECIMAL(4,2)) AS VARCHAR) AS tax_s
        |FROM lineitem WHERE l_orderkey <= 300
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q46_unnest_words" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY n DESC, word""".stripMargin,
    "q47_unnest_pos" ->
      """SELECT doc_id, idx, word FROM (
        |  SELECT doc_id,
        |         generate_subscripts(string_split(text,' '),1) - 1 AS idx,
        |         unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE doc_id <= 20)
        |WHERE idx < 5 ORDER BY doc_id, idx""".stripMargin,
    "q48_array_hof" ->
      """SELECT l_orderkey,
        |  array_to_string(lines, ',') AS lines,
        |  len(lines) AS n,
        |  list_reduce(list_prepend(0.0, qtys), (a,b) -> a + b) AS sum_q,
        |  array_to_string(list_transform(lines, x -> x*2), ',') AS dbl,
        |  coalesce(array_to_string(list_transform(list_filter(qtys, x -> x > 25),
        |                                 x -> CAST(round(x*100) AS BIGINT)), ','), '') AS big,
        |  lines[1] AS first_line,
        |  list_contains(lines, 1) AS has1,
        |  array_to_string(lines[1:2], ',') AS first2
        |FROM (
        |  SELECT l_orderkey,
        |    list_sort(list(l_linenumber)) AS lines,
        |    list_sort(list(round(l_quantity,2))) AS qtys
        |  FROM lineitem WHERE l_orderkey <= 200 GROUP BY l_orderkey)
        |ORDER BY l_orderkey""".stripMargin,
    "q49_props_extract" ->
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k,
        |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k_json
        |FROM events WHERE event_id <= 2000 ORDER BY event_id""".stripMargin,
    "q97_fn_array2" ->
      """SELECT l_orderkey,
        |  array_to_string(list_sort(list_distinct(a || [2,9])), ',') AS un,
        |  coalesce(array_to_string(list_sort(list_filter(list_distinct(a),
        |    x -> list_contains([1,2,3], x))), ','), '') AS inter,
        |  coalesce(array_to_string(list_sort(list_filter(list_distinct(a),
        |    x -> NOT list_contains([1], x))), ','), '') AS exc,
        |  array_to_string(list_sort(list_distinct(flatten([a, a]))), ',') AS flat,
        |  len(list_filter(a, x -> list_contains([5,6], x))) > 0 AS ovl,
        |  coalesce(list_position(a, 2), 0)::BIGINT AS pos2,
        |  coalesce(array_to_string(list_filter(a, x -> x <> 1), ','), '') AS rem1,
        |  array_to_string(list_transform(list_zip(a, a),
        |    p -> p[1] + p[2]), ',') AS zsum,
        |  len(list_filter(a, x -> x > 3)) > 0 AS has_gt3,
        |  len(list_filter(a, x -> NOT (x >= 1))) = 0 AS all_ge1,
        |  list_min(a) AS mn, list_max(a) AS mx,
        |  array_to_string(range(1, 4), ',') AS seq13
        |FROM (SELECT l_orderkey,
        |        list_sort(list_distinct(list(l_linenumber))) AS a
        |      FROM lineitem WHERE l_orderkey <= 200 GROUP BY l_orderkey)
        |ORDER BY l_orderkey""".stripMargin,
    "q99_fn_misc" ->
      """SELECT o_orderkey,
        |  regexp_extract(url, '^[a-z]+://([^/:?]+)', 1) AS host,
        |  regexp_extract(url, '^[a-z]+://[^/?]+(/[^?]*)', 1) AS path,
        |  regexp_extract(url, '\?(.*)$', 1) AS qs,
        |  strpos(url, '.org')::BIGINT AS loc,
        |  decode(encode(o_orderpriority)) AS rt,
        |  make_timestamp((1500000000 + o_orderkey * 3600) * 1000000) AS ts_epoch,
        |  (o_orderdate AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York') AS ny
        |FROM (SELECT o_orderkey, o_orderpriority, o_orderdate,
        |        'https://ex' || (o_orderkey % 5) || '.org/p/' || o_orderkey
        |          || '?q=' || (o_orderkey % 7) AS url
        |      FROM orders WHERE o_orderkey <= 2000)
        |ORDER BY o_orderkey""".stripMargin,
    "q98_fn_map" ->
      """SELECT o_orderkey,
        |  array_to_string(list_sort(map_keys(m)), ',') AS mk,
        |  array_to_string(list_sort(map_values(m)), ',') AS mv,
        |  m['b'][1] AS vb,
        |  cardinality(m)::BIGINT AS msz,
        |  MAP(map_keys(m), list_transform(map_values(m), v -> v*2))['a'][1]
        |    AS va2,
        |  array_to_string(list_sort(list_filter(map_keys(m),
        |    k -> m[k][1] > 3)), ',') AS big_keys
        |FROM (SELECT o_orderkey,
        |        MAP(['a','b','c'],
        |            [o_orderkey % 10, o_orderkey % 7, 5]) AS m
        |      FROM orders WHERE o_orderkey <= 2000)
        |ORDER BY o_orderkey""".stripMargin,
    "q257_nondet_invariants" ->
      """SELECT count(*) AS n_rows, count(*) AS n_uuid_distinct,
        |  count(*) AS n_uuid_v4, CAST(1 AS BIGINT) AS n_proctime_distinct
        |FROM lineitem""".stripMargin,
    "q275_approx_audit" ->
      """SELECT count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  TRUE AS supp_within_3sigma, TRUE AS part_within_3sigma,
        |  TRUE AS hll_merge_within, TRUE AS med_within_1,
        |  TRUE AS p90_within_1
        |FROM lineitem""".stripMargin
  )
}
