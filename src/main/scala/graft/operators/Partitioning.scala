package graft.operators

import org.apache.spark.Partitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables

/** The explicit physical-partitioning surface — the reference's
  * DataStream/DataSet repartitioning operators (`DataStream.java`:
  * `partitionCustom:412`, `rebalance:368`, `keyBy` hash partitioning;
  * `DataSet.partitionCustom/partitionByHash/partitionByRange/
  * rebalance`), re-expressed Spark-first and made OBSERVABLE so each
  * routing contract can be oracle-checked, not just invoked:
  *
  *  - partitionCustom → an explicit RDD [[Partitioner]] (the one
  *    genuine per-partition imperative case; DataFrame repartition
  *    cannot carry a user partition function) + a per-partition
  *    rollup via mapPartitionsWithIndex, so the oracle sees exactly
  *    which rows landed where.
  *  - rebalance → `repartition(n)` (round-robin). Assignment rotation
  *    is arbitrary, the CONTRACT is balance: from a single upstream
  *    partition the partition sizes are floor/ceil of n/parts —
  *    exposed as the sorted size vector.
  *  - partitionByHash → `repartition(n, col)`. Spark's Murmur3 bucket
  *    ids are not SQL-reproducible; the CONTRACT is co-location:
  *    every key's rows land in exactly ONE partition.
  *  - partitionByRange → `repartitionByRange`. Boundaries come from
  *    (deterministic-seed) sampling, not SQL-reproducible; the
  *    CONTRACT is range-disjointness across partitions.
  *
  * Scale: every op here is one shuffle of the input — no driver-side
  * data paths (the range check collects one (min,max) row per
  * partition, ≤ numParts rows).
  */
object Partitioning extends QuerySet {

  /** Route rows with an explicit partitioner (`user_id mod parts` —
    * SQL-reproducible on purpose) and roll up each partition in place:
    * (pid, cnt, cents). Empty partitions emit a zero row. */
  def customPartitionRollup(df: DataFrame, parts: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("user_id").cast("long"),
        expr("cast(round(value*100) as bigint)").as("cents"))
      .as[(Long, Long)].rdd
      .partitionBy(new Partitioner {
        def numPartitions: Int = parts
        def getPartition(key: Any): Int =
          (((key.asInstanceOf[Long] % parts) + parts) % parts).toInt
      })
      .mapPartitionsWithIndex { (pid, it) =>
        var c = 0L; var s = 0L
        it.foreach { kv => c += 1; s += kv._2 }
        Iterator((pid, c, s))
      }
      .toDF("pid", "cnt", "cents")
  }

  /** Round-robin redistribution from one upstream partition; returns
    * the sorted partition-size vector (rank, sz) — the balance
    * contract (sizes differ by at most one). */
  def rebalanceSizes(df: DataFrame, parts: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // RDD-level on purpose: Catalyst's CollapseRepartition elides a
    // DataFrame coalesce(1) under repartition(n), and with several
    // upstream partitions each picks its own round-robin offset — the
    // floor/ceil contract then only holds in aggregate, not per size.
    val sizes = df.select(col("user_id")).rdd
      .coalesce(1).repartition(parts)
      .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size.toLong)))
      .toDF("pid", "count")
    import org.apache.spark.sql.expressions.Window
    sizes
      .select(row_number().over(
          Window.orderBy(col("count").desc, col("pid"))).as("rank"),
        col("count").as("sz"))
  }

  /** Hash-partition by key; returns per key the number of DISTINCT
    * partitions its rows landed in — the co-location contract (always
    * 1). */
  def hashColocation(df: DataFrame, parts: Int): DataFrame =
    df.repartition(parts, col("user_id"))
      .select(col("user_id"), spark_partition_id().as("pid"))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("pid")).as("n_parts"))

  /** Range-partition by key; returns one row
    * (disjoint, parts_nonempty ≤ requested, total) — the
    * range-disjointness contract: sorting partitions by their min key,
    * each partition's max ≤ the next partition's min boundary-wise
    * (repartitionByRange puts equal keys in one partition, so strict
    * `<` holds between distinct mins). */
  def rangeDisjointness(df: DataFrame, parts: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val perPart = df.repartitionByRange(parts, col("user_id"))
      .groupBy(spark_partition_id().as("pid"))
      .agg(min(col("user_id")).as("lo"), max(col("user_id")).as("hi"),
        count(lit(1)).as("n"))
      .collect() // ≤ `parts` rows — bounded
      .sortBy(_.getAs[Long]("lo"))
    val disjoint = perPart.sliding(2).forall {
      case Array(a, b) => a.getAs[Long]("hi") < b.getAs[Long]("lo")
      case _           => true
    }
    Seq((disjoint, perPart.length <= parts,
      perPart.map(_.getAs[Long]("n")).sum))
      .toDF("disjoint", "parts_bounded", "total")
  }

  /** sortPartition (`DataSet.sortPartition`): shuffle by key hash,
    * then a PARTITION-LOCAL sort — no global ordering, no range
    * exchange. The contract made observable: every partition scans
    * sorted with zero (prev > cur) violations, and no row is lost.
    * (Plan shape — SortExec without a range Exchange — is asserted in
    * SortedGroupsSpec; this binds the runtime behavior to the
    * oracle.) */
  def sortPartitionContract(df: DataFrame, parts: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sorted = df
      .select(col("user_id").cast("long"), col("event_id").cast("long"))
      .repartition(parts, col("user_id"))
      .sortWithinPartitions(col("user_id"), col("event_id"))
    sorted.as[(Long, Long)].mapPartitions { it =>
      var n = 0L; var bad = 0L
      var prev: (Long, Long) = null
      it.foreach { r =>
        if (prev != null && (prev._1 > r._1 ||
            (prev._1 == r._1 && prev._2 > r._2))) bad += 1
        prev = r; n += 1
      }
      Iterator((bad, n))
    }.toDF("bad", "n")
      .agg((sum(col("bad")) === 0L).as("all_sorted"),
        sum(col("n")).as("total"))
  }

  /** Skew-SALTED equi-join: the fact side appends a deterministic
    * salt in [0, salts) (derived from a caller-chosen column, so the
    * routing is SQL-reproducible), the dim side is replicated once
    * per salt, and the join key becomes (key, salt) — a hot key's
    * rows spread over `salts` reducers instead of melting one. This
    * is the explicit cure for the cases AQE's skew-join splitting
    * cannot reach (streaming joins, aggregation states, any
    * non-sort-merge plan); result-neutrality is the oracle contract,
    * the partition-spread contract is pinned in PartitioningSpec.
    * Cost model: dim inflates ×salts — use for genuinely small dims
    * or pair with per-key salting of only the detected-hot keys. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltFrom: org.apache.spark.sql.Column,
                 salts: Int): DataFrame = {
    // result-neutrality hardening (ADVICE r11): a NULL saltFrom value
    // must not NULL the salt and silently drop a matching fact row
    // from the inner join — route NULLs to salt 0; and the internal
    // salt column must not shadow a user column of the same name.
    val saltCol = Iterator.from(0)
      .map(i => if (i == 0) "__salt" else s"__salt_$i")
      .find(n => !fact.columns.contains(n) && !dim.columns.contains(n))
      .get
    val f = fact.withColumn(saltCol,
      coalesce(pmod(saltFrom, lit(salts)).cast("long"), lit(0L)))
    val dimRep = dim.withColumn(saltCol,
      explode(sequence(lit(0L), lit(salts - 1L))))
    f.join(dimRep, Seq(key, saltCol)).drop(saltCol)
  }

  /** Detected-hot join keys of `fact` (r11 ask 7 — the q325 hot-list
    * mean+σ discipline applied to join keys): keys whose row count
    * exceeds mean + σ of the key histogram, each with its OWN salt
    * fan-out `ceil(n / threshold)` clamped to [2, maxSalts] — a 10×
    * hot key gets ~10 salts, a barely-hot key 2, cold keys none.
    * One aggregation over the fact (map-side partial combine; at
    * 100 TB production would sample — the contract is the same),
    * returning a frame bounded by the number of hot keys. */
  def hotKeys(fact: DataFrame, key: String, maxSalts: Int): DataFrame = {
    val hist = fact.groupBy(col(key)).agg(count(lit(1)).as("__n"))
    val g = hist.agg(avg(col("__n")), stddev_pop(col("__n"))).head()
    val thresh = g.getDouble(0) +
      (if (g.isNullAt(1) || g.getDouble(1).isNaN) 0.0 else g.getDouble(1))
    hist.filter(col("__n") > thresh)
      .select(col(key),
        least(greatest(ceil(col("__n") / lit(thresh)).cast("long"), lit(2L)),
          lit(maxSalts.toLong)).as("__salts"))
  }

  /** ADAPTIVE salted equi-join: [[saltedJoin]] with the salt count
    * chosen from the observed key histogram instead of hardcoded —
    * only DETECTED-HOT keys (mean+σ, [[hotKeys]]) fan out, each over
    * its own salt count, cold keys join unsalted (salt 0, dim rows
    * replicated exactly once). The hot-key table is broadcast to both
    * sides (bounded by the number of hot keys, never the data), so
    * the dim inflation is ×salts on hot keys ONLY — the production
    * cure for the saltedJoin cost note. Result-neutrality is the
    * oracle contract (q339); the only-hot-fans-out and spread
    * contracts are pinned in PartitioningSpec. */
  def adaptiveSaltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                         saltFrom: org.apache.spark.sql.Column,
                         maxSalts: Int = 16): DataFrame = {
    def freshName(base: String): String = Iterator.from(0)
      .map(i => if (i == 0) base else s"${base}_$i")
      .find(n => !fact.columns.contains(n) && !dim.columns.contains(n)).get
    val saltCol = freshName("__salt")
    val saltsCol = freshName("__salts")
    val hot = hotKeys(fact, key, maxSalts)
      .withColumnRenamed("__salts", saltsCol)
      .localCheckpoint() // one histogram pass feeds both sides
    val f = fact.join(broadcast(hot), Seq(key), "left")
      .withColumn(saltCol,
        coalesce(pmod(saltFrom, col(saltsCol)), lit(0L)))
      .drop(saltsCol)
    val dimRep = dim.join(broadcast(hot), Seq(key), "left")
      .withColumn(saltCol,
        explode(sequence(lit(0L), coalesce(col(saltsCol), lit(1L)) - 1)))
      .drop(saltsCol)
    f.join(dimRep, Seq(key, saltCol)).drop(saltCol)
  }

  val queries: Map[String, Q] = Map(
    // partitionCustom oracle-bound: the mod-routing is SQL-visible, so
    // the oracle recomputes every partition's rollup exactly — a row
    // routed to the wrong partition breaks its residue class's hash.
    "q191_partition_custom" -> ((s, d) =>
      customPartitionRollup(Tables.events(s, d), parts = 8)
        .orderBy(col("pid"))),

    // rebalance oracle-bound: sizes are floor/ceil of N/8 — a skewed
    // or lossy redistribution breaks the sorted size vector.
    "q192_rebalance" -> ((s, d) =>
      rebalanceSizes(Tables.events(s, d), parts = 8)
        .orderBy(col("rank"))),

    // hash-partition co-location oracle-bound: every user's rows in
    // exactly one partition.
    "q193_hash_colocate" -> ((s, d) =>
      hashColocation(Tables.events(s, d), parts = 8)
        .orderBy(col("user_id"))),

    // range-partition disjointness oracle-bound (boundaries are
    // sampled, the contract is disjoint + lossless).
    "q194_range_disjoint" -> ((s, d) =>
      rangeDisjointness(Tables.events(s, d), parts = 8)),

    // sortPartition oracle-bound: partition-local sortedness with
    // zero violations, lossless.
    "q199_sort_partition" -> ((s, d) =>
      sortPartitionContract(Tables.events(s, d), parts = 8)),

    // DataSetUtils.zipWithIndex oracle-bound (reference flink-java
    // `DataSetUtils.java:89`, the two-pass count-then-offset design =
    // Spark RDD.zipWithIndex): after a global sort on event_id the
    // contiguous 0-based index must equal ROW_NUMBER()-1 — an
    // off-by-one in any partition's offset shifts every later index.
    // Every 997th key keeps the row small; the indexes checked span
    // the whole range, so every partition boundary is covered.
    "q249_zip_with_index" -> ((s, d) => {
      DatasetUtils.zipWithIndex(
          Tables.events(s, d).select(col("event_id")).orderBy(col("event_id")))
        .filter(col("event_id") % 997 === 0)
        .select(col("idx"), col("event_id"))
        .orderBy(col("event_id"))
    }),

    // Salted skew join oracle-bound: 70% of events collapse onto one
    // hot key, the dim is joined through the (key, salt) composite,
    // and the per-category rollup must equal the plain join exactly —
    // salting is pure routing, never semantics. The spread contract
    // (hot partition shrinks ~×salts) is measured in PartitioningSpec
    // with broadcast disabled.
    "q331_salted_skew_join" -> ((s, d) => {
      val fact = Tables.events(s, d).select(
        when(pmod(col("user_id"), lit(10)) < 7, lit(0L))
          .otherwise(col("user_id")).as("k"),
        col("event_id"),
        expr("cast(round(value*100) as bigint)").as("cents"))
      val dim = fact.select(col("k")).distinct()
        .withColumn("category", pmod(col("k"), lit(16)))
      saltedJoin(fact, dim, "k", col("event_id"), salts = 8)
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("category"))
    }),

    // ADAPTIVE salted skew join oracle-bound: two hot keys of very
    // different mass (40% and 30% of events) plus a cold tail; the
    // salt fan-out comes from the observed histogram (mean+σ
    // detection, per-key salt count), cold keys never fan out, and
    // the per-category rollup must equal the plain join exactly —
    // adaptive salting is pure routing, never semantics. The
    // only-hot-keys-fan-out and spread contracts are measured in
    // PartitioningSpec with broadcast disabled.
    "q339_adaptive_salt_join" -> ((s, d) => {
      val fact = Tables.events(s, d).select(
        when(pmod(col("user_id"), lit(10)) < 4, lit(0L))
          .when(pmod(col("user_id"), lit(10)) < 7, lit(1L))
          .otherwise(col("user_id")).as("k"),
        col("event_id"),
        expr("cast(round(value*100) as bigint)").as("cents"))
      val dim = fact.select(col("k")).distinct()
        .withColumn("category", pmod(col("k"), lit(16)))
      adaptiveSaltedJoin(fact, dim, "k", col("event_id"), maxSalts = 8)
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .orderBy(col("category"))
    }),

    // ChecksumHashCode oracle-bound (reference `DataSetUtils
    // .checksumHashCode:347` + Utils.ChecksumHashCode): one
    // order-independent (count, sum-of-Java-hashCodes) row over a
    // composite string of every event — the oracle re-implements
    // Java String.hashCode in SQL as a 32-bit-wrapped fold, so the
    // native HashCode expression's codegen faces a value check over
    // the full table, not just the spec's examples.
    "q250_checksum" -> ((s, d) => {
      DatasetUtils.checksumHashCode(
        Tables.events(s, d)
          .select(concat_ws("|", col("event_id"), col("event_type"),
            col("user_id")).as("s")), "s")
    }))

  val oracle: Map[String, String] = Map(
    "q191_partition_custom" ->
      """SELECT g.pid::INT AS pid, count(e.user_id) AS cnt,
        |  coalesce(sum(CAST(round(e.value*100) AS BIGINT)), 0)::BIGINT AS cents
        |FROM range(8) g(pid) LEFT JOIN events e ON e.user_id % 8 = g.pid
        |GROUP BY g.pid ORDER BY pid""".stripMargin,

    "q192_rebalance" ->
      """WITH t AS (SELECT count(*) AS n FROM events)
        |SELECT (g.r + 1)::INT AS rank,
        |  (CASE WHEN g.r < n % 8 THEN n // 8 + 1 ELSE n // 8 END)::BIGINT AS sz
        |FROM range(8) g(r), t ORDER BY rank""".stripMargin,

    "q193_hash_colocate" ->
      """SELECT user_id, 1::BIGINT AS n_parts FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q194_range_disjoint" ->
      """SELECT true AS disjoint, true AS parts_bounded,
        |  count(*) AS total FROM events""".stripMargin,

    "q199_sort_partition" ->
      "SELECT true AS all_sorted, count(*) AS total FROM events",

    "q249_zip_with_index" ->
      """SELECT (row_number() OVER (ORDER BY event_id) - 1)::BIGINT AS idx,
        |  event_id
        |FROM events QUALIFY event_id % 997 = 0 ORDER BY event_id""".stripMargin,

    // salting must be invisible in the result
    "q331_salted_skew_join" ->
      """WITH f AS (
        |  SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS k,
        |         CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events),
        |d AS (SELECT DISTINCT k, k % 16 AS category FROM f)
        |SELECT d.category::BIGINT AS category, count(*)::BIGINT AS n,
        |  sum(f.cents)::BIGINT AS cents
        |FROM f JOIN d USING (k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // adaptive salting must be invisible in the result
    "q339_adaptive_salt_join" ->
      """WITH f AS (
        |  SELECT CASE WHEN user_id % 10 < 4 THEN 0
        |              WHEN user_id % 10 < 7 THEN 1
        |              ELSE user_id END AS k,
        |         CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events),
        |d AS (SELECT DISTINCT k, k % 16 AS category FROM f)
        |SELECT d.category::BIGINT AS category, count(*)::BIGINT AS n,
        |  sum(f.cents)::BIGINT AS cents
        |FROM f JOIN d USING (k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Java String.hashCode re-implemented as a 32-bit-wrapped fold:
    // h = (h*31 + utf16_unit) mod 2^32, sign-converted at the end
    // (strings here are ASCII, so unicode(char) = UTF-16 unit).
    "q250_checksum" ->
      """WITH h AS (
        |  SELECT list_reduce(
        |    list_prepend(0::BIGINT, list_transform(
        |      str_split_regex(event_id::VARCHAR || '|' || event_type ||
        |        '|' || user_id::VARCHAR, ''),
        |      c -> unicode(c)::BIGINT)),
        |    (a, b) -> (a*31 + b) % 4294967296) AS raw
        |  FROM events)
        |SELECT count(*)::BIGINT AS n,
        |  sum(CASE WHEN raw >= 2147483648 THEN raw - 4294967296
        |           ELSE raw END)::BIGINT AS checksum
        |FROM h""".stripMargin)
}
