package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The bounded-content streaming sources, oracle-bound — the reference
  * source surface that is neither file-backed (every Replay query
  * already rides the file source) nor env-impossible (Kafka):
  *
  *  - socket text stream (`StreamExecutionEnvironment
  *    .socketTextStream:1312`): a test-local server serves the REGION
  *    table as delimited lines; the socket source must deliver every
  *    line exactly once, parsed back to (key, name) rows.
  *  - rate source (`StreamExecutionEnvironment.fromSequence` /
  *    the datagen connector): Spark's rate-per-micro-batch source
  *    emits the deterministic value ladder 0,1,2,…; the first 1000
  *    values must be exactly {0..999} regardless of batch cadence.
  *
  * Both end as bounded, order-insensitive aggregates so the streaming
  * transport (timing, batch boundaries) cannot leak into the oracle
  * compare. Scale note: these bind SOURCE semantics; both are
  * driver-local by nature (one socket, one ladder) — data-scale
  * ingest is the file/parquet path used everywhere else.
  */
object SourceQueries extends QuerySet {

  /** Serve `lines` over a local server socket, read them back through
    * the socket streaming source, return once `expect` rows arrived
    * (bounded by `timeoutMs`). */
  private def socketRoundTrip(spark: SparkSession, lines: Seq[String],
                              expect: Long, timeoutMs: Long = 60000L)
      : DataFrame = {
    val server = new java.net.ServerSocket(0)
    val feeder = new Thread(() => {
      val s = server.accept()
      val w = new java.io.PrintWriter(s.getOutputStream, true)
      lines.foreach(w.println)
      w.flush() // keep the connection open; the reader stops the query
    })
    feeder.setDaemon(true)
    feeder.start()
    val name = s"sock_q_${System.nanoTime()}"
    val q = spark.readStream.format("socket")
      .option("host", "localhost").option("port", server.getLocalPort)
      .load()
      .writeStream.format("memory").queryName(name).start()
    try {
      val deadline = System.currentTimeMillis() + timeoutMs
      var n = 0L
      while (n < expect && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        n = spark.table(name).count()
        if (n < expect) Thread.sleep(50)
      }
      require(n >= expect, s"socket source delivered $n/$expect lines")
      spark.table(name).localCheckpoint()
    } finally { q.stop(); server.close() }
  }

  val queries: Map[String, Q] = Map(
    // SOCKET source oracle-bound: region served as "key|name" lines,
    // read back through format("socket"), split and re-typed — a
    // dropped, duplicated, or corrupted line breaks the hash.
    "q195_socket_source" -> ((s, d) => {
      val region = Tables.load(s, d, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
      val lines = region.collect()
        .map(r => s"${r.getLong(0)}|${r.getString(1)}")
      val got = socketRoundTrip(s, lines.toSeq, lines.length.toLong)
      got.select(
          split(col("value"), "\\|").getItem(0).cast("long").as("r_regionkey"),
          split(col("value"), "\\|").getItem(1).as("r_name"))
        .orderBy(col("r_regionkey"))
    }),

    // RATE source oracle-bound: the deterministic value ladder — the
    // first 1000 values of rate-micro-batch are exactly {0..999}
    // (count, sum, min, max close the set), whatever the batch
    // cadence was.
    "q196_rate_source" -> ((s, _) => {
      val name = s"rate_q_${System.nanoTime()}"
      val q = s.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 250L).option("numPartitions", 2)
        .load()
        .writeStream.format("memory").queryName(name).start()
      try {
        // no processAllAvailable: a rate source ALWAYS has another
        // batch available, so it would block forever — poll the sink
        // while the continuous trigger runs batches
        val deadline = System.currentTimeMillis() + 60000L
        var n = 0L
        while (n < 1000L && System.currentTimeMillis() < deadline) {
          n = s.table(name).count()
          if (n < 1000L) Thread.sleep(50)
        }
        require(n >= 1000L, s"rate source produced $n/1000 rows")
        s.table(name).localCheckpoint()
          .filter(col("value") < 1000L)
          .agg(count(lit(1)).as("n"), sum(col("value")).as("s"),
            min(col("value")).as("lo"), max(col("value")).as("hi"))
      } finally q.stop()
    }))

  val oracle: Map[String, String] = Map(
    "q195_socket_source" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q196_rate_source" ->
      """SELECT 1000::BIGINT AS n, 499500::BIGINT AS s,
        |  0::BIGINT AS lo, 999::BIGINT AS hi""".stripMargin)
}
