package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Soak-scale data generator: replicate a testdata dir `reps`× with
  * key offsets so the heavy operators can be driven one decade past
  * the largest provided scale factor (the 100 TB headroom check —
  * SCALING.md §soak).
  *
  * Replication model (what "10× more data" means per table):
  *  - Dimensions (region/nation/customer/supplier/part) are copied
  *    as-is: dimension cardinality does not grow with fact volume in a
  *    warehouse, and keeping them fixed preserves broadcast-ability —
  *    the property the plans rely on.
  *  - orders/lineitem: replicated with `o_orderkey/l_orderkey +=
  *    rep·K` — 10× facts over the same dims/customers.
  *  - events: `event_id += rep·K`, `user_id += rep·U` — more users
  *    with the SAME per-key event volume, so keyed-state size per key
  *    stays constant while key cardinality grows (the right scaling
  *    model for stateful operators).
  *  - documents: `doc_id += rep·D` and the tokens of each replica are
  *    DETERMINISTICALLY SHUFFLED (sort by md5(token‖pos‖rep)):
  *    replicas keep the corpus token distribution but share almost no
  *     4-shingles with their source, so near-dup rates stay natural
  *    instead of exploding by construction. Plain replication would
  *    make every doc a 10-way near-dup cluster and measure the data
  *    artifact, not the operator.
  *  - embeddings: `vec_id += rep·V`; each replica's vectors go
  *    through a deterministic ORTHOGONAL transform (cyclic
  *    coordinate shift by `rep` + xxhash64-keyed per-coordinate sign
  *    flips). Orthogonality preserves every norm and every
  *    within-replica pairwise cosine — so near-dup/neighbor density
  *    grows naturally (10 structure-identical shards) — while
  *    cross-replica cosines take fresh, realistic values. The oracle
  *    recomputes from the same parquet, so the ANN/SemDeDup queries
  *    face the full gate at 10× vector count.
  *
  * Usage: tools/run.sh graft.SoakData [srcDir [outDir [reps]]]
  */
object SoakData {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft-soak"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session("graft-soak")

    def read(t: String): DataFrame = Tables.read(spark, s"$src/$t.parquet")
    // Big (replicated) tables are written as 32 files: the source SF
    // is a single small parquet file, so without the repartition the
    // replica inherits its 1-3-partition layout and EVERY full-table
    // soak pass caps at 3-way parallelism — the scan ceiling would
    // then dominate the measurements instead of the operators
    // (SCALING.md §soak documents the before/after).
    def write(df: DataFrame, t: String): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$out/$t.parquet")
    // dimensions stay single-file: they broadcast, never table-scan
    def writeDim(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => writeDim(read(t), t))

    val repCol = explode(sequence(lit(0L), lit(reps - 1L))).as("rep")

    val orders = read("orders")
    val maxOrder = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    write(orders.select(col("*"), repCol)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * maxOrder)
      .drop("rep"), "orders")
    write(read("lineitem").select(col("*"), repCol)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * maxOrder)
      .drop("rep"), "lineitem")

    val events = read("events")
    val maxEv = events.agg(max(col("event_id"))).head().getLong(0) + 1
    val maxUser = events.agg(max(col("user_id"))).head().getLong(0) + 1
    write(events.select(col("*"), repCol)
      .withColumn("event_id", col("event_id") + col("rep") * maxEv)
      .withColumn("user_id", col("user_id") + col("rep") * maxUser)
      .drop("rep"), "events")

    val emb = read("embeddings")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val d = size(col("embedding"))
    val rotated = transform(sequence(lit(0), d - 1), i =>
      (element_at(col("embedding"),
          (pmod(i + col("rep"), d) + 1).cast("int")) *
        when(pmod(xxhash64(col("rep"), i), lit(2)) === 0, 1.0f).otherwise(-1.0f))
        .cast("float"))
    write(emb.select(col("*"), repCol)
      .withColumn("vec_id", col("vec_id") + col("rep") * maxVec)
      .withColumn("embedding",
        when(col("rep") === 0, col("embedding")).otherwise(rotated))
      .drop("rep"), "embeddings")

    val docs = read("documents")
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val shuffled = docs.select(col("*"), repCol)
      .withColumn("doc_id", col("doc_id") + col("rep") * maxDoc)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), col("source"), col("rep"),
        posexplode(col("ws")))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(
          md5(concat_ws("|", col("col"), col("pos"), col("rep"))).as("k"),
          col("col").as("w")))),
        s => s.getField("w"))).as("text"))
      .withColumn("n_chars", length(col("text")))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    write(shuffled, "documents")

    println(s"[soak] wrote $out at ${reps}x $src")
    spark.stop()
  }
}
