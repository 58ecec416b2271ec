package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Udx

/** Oracle bindings for the user-defined-function surface (SURVEY §2.6)
  * — the reference's AggregateFunction (`AggregateFunction.java:114`)
  * and TableFunction (`TableFunction.java:85`) registered and invoked
  * through SQL TEXT, the way a reference user calls them, and hashed
  * against DuckDB computing the same algebra with built-ins.
  *
  * Determinism notes (the driver's compare is repr-exact):
  *  - WeightedAvg runs on exact-integer doubles (cents × integer
  *    quantities): every partial sum is an exact integer < 2^53, so
  *    partition/merge order cannot perturb the accumulator, and the
  *    final division is one IEEE op on identical operands in both
  *    engines.
  *  - GeoMean accumulates log-sums — FP-order-sensitive in the last
  *    ulps, so the bound output is rounded to 2 decimals (flip
  *    probability ~1e-7; the exact contract stays spec-tested in
  *    UdxSpec).
  *  - tokenize mirrors Java split(" ") semantics: split drops ALL
  *    trailing empty tokens, which string_split does not — rtrim on
  *    the oracle side restores parity; all-space texts (split → empty
  *    array vs [''] mismatch) are excluded on both sides.
  */
object UdxQueries extends QuerySet {

  val queries: Map[String, Q] = Map(

    // AggregateFunction → Aggregator/udaf, SQL-invoked: per-flag
    // quantity-weighted average price.
    "q147_wavg_udaf" -> ((s, d) => {
      Udx.register(s)
      withTables(s, d, "lineitem")
      s.sql("""
        SELECT l_returnflag,
               cast(round(weighted_avg(round(l_extendedprice * 100), l_quantity)
                    * 10000) as bigint) AS wavg_e4
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // Log-sum AggregateFunction shape: geometric mean of quantities.
    "q148_geomean_udaf" -> ((s, d) => {
      Udx.register(s)
      withTables(s, d, "lineitem")
      s.sql("""
        SELECT l_linestatus, round(geo_mean(l_quantity), 2) AS gmean2
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")
    }),

    // TableFunction (1→N with positions) exploded in SQL.
    "q149_udtf_tokenize" -> ((s, d) => {
      Udx.register(s)
      withTables(s, d, "documents")
      s.sql("""
        SELECT doc_id, tok._1 AS idx, tok._2 AS tok
        FROM (SELECT doc_id, explode(tokenize(text)) AS tok
              FROM documents WHERE doc_id < 50 AND length(trim(text)) > 0)
        ORDER BY doc_id, idx""")
    }),

    // TableAggregateFunction (N in → M rows out per group), SQL-
    // invoked: the reference's canonical Top2 UDTAF emits the two
    // largest values per key as SEPARATE ROWS with ranks
    // (TableAggregateFunction.java:31 doc example). Spark-first:
    // array-valued udaf finish + explode is the multi-row emission.
    // Cents mapping keeps values exact; (value, id) lexicographic
    // ordering makes ties deterministic on both engines.
    "q185_udtaf_top2" -> ((s, d) => {
      Udx.register(s)
      Tables.events(s, d).createOrReplaceTempView("events_us")
      s.sql("""
        SELECT user_id, cast(t._1 as bigint) AS cents, t._2 AS event_id,
               t._3 AS rnk
        FROM (SELECT user_id, explode(pairs) AS t
              FROM (SELECT user_id,
                      top2(round(value * 100), event_id) AS pairs
                    FROM events_us GROUP BY user_id))
        ORDER BY user_id, rnk""")
    })
  )

  /** Space tokens of the first 50 docs: q149, and q223's LATERAL
    * TABLE text. */
  private[operators] val tokenizeSql =
    """SELECT doc_id, s.idx AS idx, s.tok AS tok FROM (
        |  SELECT doc_id,
        |    unnest(list_transform(string_split(rtrim(text, ' '), ' '),
        |      (t, i) -> struct_pack(idx := i - 1, tok := t))) AS s
        |  FROM documents WHERE doc_id < 50 AND length(trim(text)) > 0)
        |ORDER BY doc_id, s.idx""".stripMargin

  val oracle: Map[String, String] = Map(
    "q147_wavg_udaf" ->
      """SELECT l_returnflag,
        |  round(sum(round(l_extendedprice * 100) * l_quantity)::DOUBLE
        |        / sum(l_quantity)::DOUBLE * 10000)::BIGINT AS wavg_e4
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q148_geomean_udaf" ->
      """SELECT l_linestatus, round(exp(avg(ln(l_quantity::DOUBLE))), 2) AS gmean2
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q149_udtf_tokenize" -> tokenizeSql,
    "q185_udtaf_top2" ->
      """SELECT user_id, cents, event_id, rnk::INT AS rnk FROM (
        |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS cents, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY round(value*100) DESC, event_id DESC) AS rnk
        |  FROM events)
        |WHERE rnk <= 2 ORDER BY user_id, rnk""".stripMargin
  )
}
