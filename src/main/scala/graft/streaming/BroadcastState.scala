package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.Tables

/** DYNAMIC broadcast state — the reference's broadcast-state pattern
  * with a live control stream, not just a static dimension:
  * `DataStream.broadcast(MapStateDescriptor)` (`DataStream.java:430`)
  * connected to a data stream through
  * `co/BroadcastProcessFunction.java:51`, whose
  * `processBroadcastElement` (line 92) updates the replicated rule
  * state every task then reads in `processElement`.
  *
  * Spark-first: control and data arrive as ONE tagged stream (the
  * connect step); per micro-batch, foreachBatch FIRST merges the
  * batch's control rows into the accumulated rules store (a small
  * parquet table — the broadcast state), THEN joins the batch's data
  * rows against it with an explicit `broadcast()`. Rule visibility is
  * micro-batch-causal: a rule applies to every data row in its own
  * batch and all later batches — the same order Flink gives a
  * broadcast element that arrives before a data element at each task,
  * at micro-batch granularity.
  *
  * Scale notes: the rules store stays dimension-sized (that is the
  * pattern's contract in the reference too — broadcast state is
  * per-task-replicated, so it must be small); the data stream is
  * never shuffled — each batch does one broadcast hash join. The
  * store re-read per batch is one small parquet scan, and rule
  * DELETION is a rules-store rewrite (same as the reference's
  * `ctx.getBroadcastState().remove`).
  */
object BroadcastState {

  /** Run a tagged stream to completion (AvailableNow): control rows
    * (selected by `extractRules`, deduplicated into the store) update
    * the broadcast state; `applyRules(dataBatch, rules)` produces the
    * enriched output appended to `base`/bout. Returns the output.
    *
    * @param extractRules batch → rule rows (any small schema)
    * @param applyRules   (data batch, accumulated distinct rules —
    *                     ALREADY broadcast-hinted) → output rows
    */
  def run(stream: DataFrame, ruleSchema: StructType, base: String)(
      extractRules: DataFrame => DataFrame)(
      applyRules: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = stream.sparkSession
    val rulesDir = s"$base/rules"
    val outDir = s"$base/bout"
    // seed an empty store so batch 0 can read it
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ruleSchema).write.mode("overwrite").parquet(rulesDir)
    val q = stream.writeStream
      .option("checkpointLocation", s"$base/bck")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val s = b.sparkSession
        // 1. processBroadcastElement: merge this batch's rules
        extractRules(b).write.mode("append").parquet(rulesDir)
        // 2. processElement: data rows see the accumulated state
        val rules = broadcast(Tables.read(s, rulesDir).distinct())
        applyRules(b, rules).write.mode("append").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Tables.read(spark, outDir)
  }
}
