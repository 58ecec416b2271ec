package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{Event, Replay, StreamJoins}

package object operators {
  /** A catalog query: (session, sf-dir) => result. Matches the driver
    * contract in SparkEntry.queries. */
  type Q = (SparkSession, String) => DataFrame

  /** One slice of the query catalog: its queries and, for each one SQL
    * can express, the equivalent DuckDB oracle SQL. */
  trait QuerySet {
    def queries: Map[String, Q]
    def oracle: Map[String, String]
  }

  /** Register the named tables as temp views so queries can use
    * spark.sql with the same table names the DuckDB oracle sees. */
  def withTables(s: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => Tables.load(s, dir, n).createOrReplaceTempView(n))

  // ---- helpers shared across query sets and their DuckDB oracles

  /** DuckDB CTE `ev` over `events` with the same ns→µs `ts` truncation
    * `Tables.events` applies. */
  private[operators] val evCte =
    """WITH ev AS (SELECT event_id, make_timestamp(epoch_ns(ts)//1000) AS ts,
      |            user_id, event_type, value, props FROM events)""".stripMargin

  // ---- streaming replay helpers, shared by the streaming-parity queries

  /** Whole-cent prescale (the q134 trick): each event's value as whole
    * cents, so running sums and rankings stay exact integers on both
    * sides of the oracle compare. */
  private[operators] def centsStream(ev: Dataset[Event]): Dataset[Event] =
    ev.map(e => e.copy(value = math.round(e.value * 100).toDouble))(Encoders.product[Event])

  /** The replay's purchases (`p_id`) interval-joined to its errors
    * (`e_id`) of the same user within ±10 minutes, 1-minute watermark
    * delay: q132 (inner), q145, q156 and q170 (outer). */
  private[operators] def purchaseErrorJoin(s: SparkSession, ep: Replay.Epochs,
      joinType: String = "inner"): DataFrame = {
    def side(tpe: String, outCol: String) =
      ep.stream(s).toDF()
        .filter(col("event_type") === tpe)
        .select(col("user_id"), col("ts"), col("event_id").as(outCol))
    StreamJoins.intervalJoin(side("purchase", "p_id"), side("error", "e_id"),
      "user_id", "ts", "1 minute", "10 MINUTES", "10 MINUTES", joinType)
  }

  /** Exact revenue Σ l_extendedprice·(1 − l_discount) ×10⁴ as a BIGINT:
    * each product of two 2-decimal values has exactly 4 decimals, so
    * ×10⁴ is integral, and an integer sum is partial-agg-order
    * independent (see EventQueries). Kept e4-scaled on BOTH sides: a
    * DECIMAL output column materializes as float64 from DuckDB but
    * object Decimal from Spark parquet, and the driver's repr-sensitive
    * hash rejects `194.5` vs `194.50` even when values are exact (r2
    * reds q27/q28/q85; see oracle-parity-rules). Ordering by e4 is
    * order-equivalent. */
  private[operators] def revenueE4: Column =
    expr("sum(cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint))")

  /** [[revenueE4]] as DuckDB SQL. */
  private[operators] val revenueE4Sql =
    """CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
      |         AS BIGINT)) AS BIGINT)""".stripMargin

  /** Array-level double cast of a vector column: a codegen'd Cast, not
    * a per-element `transform(_.cast)` lambda (interpreted); float→double
    * widening is exact either way. */
  private[operators] def asD(a: Column): Column = a.cast("array<double>")

  // ---- corpus text helpers, shared by the text, corpus, curation,
  // sketch and capstone queries and their DuckDB oracles

  /** 32-bit integer hash of a string column: first 8 hex chars of md5. */
  private[operators] def md5i(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** [[md5i]] as DuckDB SQL over the expression `e`. */
  private[operators] def md5iSql(e: String): String =
    s"('0x'||substr(md5($e),1,8))::BIGINT"

  /** A doc's content-hash bucket 0–99 (md5 of `text`): q203's split
    * key, so byte-identical duplicates always share a split. */
  private[operators] def splitBucket: Column = pmod(md5i(col("text")), lit(100))

  /** The split of a doc's [[splitBucket]]: train below 80, val below
    * 90, test above. */
  private[operators] def contentSplit: Column = {
    val bucket = splitBucket
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** [[contentSplit]] as a DuckDB CASE expression. */
  private[operators] val contentSplitSql =
    s"""CASE WHEN ${md5iSql("text")} % 100 < 80 THEN 'train'
       |         WHEN ${md5iSql("text")} % 100 < 90 THEN 'val'
       |         ELSE 'test' END""".stripMargin

  /** Tokens of a text column split on single spaces. */
  private[operators] def toks(c: Column): Column = split(c, " ")

  /** Overlapping 2-word shingles of the space-tokenized text (a 1-token
    * text yields its single word). */
  private[operators] def bigrams(t: Column): Column = {
    val w = toks(t)
    transform(sequence(lit(1), greatest(size(w) - 1, lit(1))),
      i => concat_ws(" ", slice(w, i, lit(2))))
  }

  /** [[bigrams]] of the `text` column as DuckDB SQL. */
  private[operators] val bigramsSql =
    """list_transform(range(1, greatest(len(string_split(text,' ')), 2)),
      |      i -> array_to_string(string_split(text,' ')[i:i+1], ' '))""".stripMargin

  /** Words per chunk of [[chunkClean]]. */
  private[operators] val chunkW = 10

  /** Chunk clean (q205, q212, q216): split each doc of `docs` into
    * consecutive chunkW-word (doc_id, idx, chunk) rows, keep the rows
    * `keep` returns, and reassemble each doc: (doc_id, n_chunks, n_kept,
    * cleaned), the kept chunks joined in idx order ("" when none
    * survive). One shuffle on the keep rule's key, one on doc_id. */
  private[operators] def chunkClean(docs: DataFrame)(
      keep: DataFrame => DataFrame): DataFrame = {
    val w0 = toks(col("text"))
    val nChunks = (((size(w0) - 1) / chunkW).cast("int") + 1)
    val chunks = docs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(w0, i * chunkW + 1, lit(chunkW))))))
      .toDF("doc_id", "idx", "chunk")
    val rebuilt = keep(chunks).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s0 => s0.getField("chunk"))).as("cleaned"))
    docs.select(col("doc_id"), nChunks.cast("long").as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
      .orderBy(col("doc_id"))
  }

  /** [[chunkClean]] of the table `src` as DuckDB CTEs (no WITH): `ch`
    * holds the chunks, `keepCtes` must define `kept` from it. */
  private[operators] def chunkCleanSql(src: String, keepCtes: String): String =
    s"""ix AS (
       |  SELECT doc_id, text,
       |    unnest(range(0, (len(string_split(text,' ')) + ${chunkW - 1})
       |                    // $chunkW)) AS idx
       |  FROM $src),
       |ch AS (
       |  SELECT doc_id, idx,
       |    array_to_string(string_split(text,' ')
       |      [idx*$chunkW+1:idx*$chunkW+$chunkW], ' ') AS chunk
       |  FROM ix),
       |$keepCtes,
       |agg AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         string_agg(chunk, ' ' ORDER BY idx) AS cleaned
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id,
       |  (len(string_split(d.text,' ')) + ${chunkW - 1}) // $chunkW
       |    AS n_chunks,
       |  coalesce(a.n_kept, 0) AS n_kept,
       |  coalesce(a.cleaned, '') AS cleaned
       |FROM $src d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
}
