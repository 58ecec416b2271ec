package graft.operators

import graft.{Scratch, SparkSpec}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Scale-pattern joins: salting for extreme key skew and bucketing for
  * shuffle-free co-located joins (SURVEY §2.3 partitionByHash /
  * DataSet join-hint row; builder-prompt scale battery). */
class ScaleJoinSpec extends SparkSpec {

  test("salted join spreads a hot key and matches the unsalted result") {
    val spark2 = spark; import spark2.implicits._
    // 90% of fact rows share one key — the shape that melts one reducer
    val fact = (1 to 1000).map(i => (if (i % 10 == 0) i.toLong else 7L, i))
      .toDF("k", "v")
    val dim = Seq((7L, "hot"), (10L, "ten"), (20L, "twenty")).toDF("k", "name")
    val salted = SkewJoin.salted(fact, dim, "k", n = 8)
    val plain = fact.join(dim, "k")
    assert(salted.count() == plain.count())
    assert(salted.agg(sum("v")).head().getLong(0) ==
           plain.agg(sum("v")).head().getLong(0))
    // the shuffle key includes the salt → hot key spread over n parts
    val plan = salted.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("__salt"), s"salt not in the join key:\n$plan")
  }

  test("dynamic partition pruning kicks in for a filtered dim join") {
    val spark2 = spark; import spark2.implicits._
    val dir = Scratch.dir("dpp").toString
    (1 to 2000).map(i => (i, i % 10)).toDF("v", "part")
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a real source: a local Seq gets constant-folded
    // (ConvertToLocalRelation) and DPP then sees no selective filter
    val dimDir = Scratch.dir("dpp-dim").toString
    (0 until 10).map(i => (i, if (i < 2) "keep" else "drop"))
      .toDF("part", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    // test data is too small for the stats-based benefit estimate —
    // force the fallback ratio so the rule itself is exercised
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
    spark.conf.set("spark.sql.exchange.reuse", "true")
    try {
      val j = fact.join(dim.filter(col("tag") === "keep"), "part")
      val plan = j.queryExecution
        .explainString(ExplainMode.fromString("formatted")).toLowerCase
      assert(plan.contains("dynamicpruning"),
        s"no dynamic partition pruning:\n$plan")
      assert(j.count() == 400) // parts 0 and 1 only
    } finally {
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
      spark.conf.unset("spark.sql.exchange.reuse")
    }
  }

  test("bucketed tables join without a shuffle (co-located SMJ)") {
    val spark2 = spark; import spark2.implicits._
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    (1 to 500).map(i => (i.toLong, i * 2)).toDF("k", "a")
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_a")
    (1 to 500).map(i => (i.toLong, s"v$i")).toDF("k", "b")
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = j.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(j.count() == 500)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }
}
