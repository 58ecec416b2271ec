package graft.streaming

import graft.{Scratch, SparkSpec}
import org.apache.spark.sql.functions._

/** Feedback-loop streaming iteration (reference
  * IterativeStream.java): records re-enter the same query through the
  * feedback edge until the closing condition routes them out. The
  * classic iterate example — decrement until zero — exercises
  * multi-hop feedback: a seed of v=3 must traverse the loop three
  * times before exiting. */
class StreamIterateSpec extends SparkSpec {

  test("records loop through the feedback edge until the exit condition") {
    val spark2 = spark; import spark2.implicits._
    val base = Scratch.dir("sit")
    val (in, fb, out, ck) = (s"$base/in", s"$base/fb", s"$base/out", s"$base/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(fb))

    // seed: ids 1..3 with v = id (id 3 needs 3 trips around the loop)
    val seed = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "v")
    seed.write.mode("overwrite").parquet(in)

    val q = StreamIterate.loop(spark, seed.schema, in, fb, out, ck)(
      step = _.select(col("id"), (col("v") - 1).as("v")),
      isFeedback = col("v") > 0)
    try {
      // each processAllAvailable drains one feedback generation; the
      // deepest record needs 3 hops, run a couple extra for slack
      (1 to 6).foreach(_ => q.processAllAvailable())
      val rows = spark.read.option("recursiveFileLookup", "true")
        .parquet(out).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toList.sorted
      assert(rows == List(1L -> 0L, 2L -> 0L, 3L -> 0L),
        s"loop exits: $rows")
    } finally q.stop()
  }

  test("NULL exit predicate routes to the exit side, not the void") {
    val spark2 = spark; import spark2.implicits._
    val base = Scratch.dir("sitn")
    val (in, fb, out, ck) = (s"$base/in", s"$base/fb", s"$base/out", s"$base/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(fb))

    // v = NULL makes (v > 0) three-valued NULL — must exit, not drop
    val seed = Seq((1L, Some(1L)), (2L, None: Option[Long])).toDF("id", "v")
    seed.write.mode("overwrite").parquet(in)

    val q = StreamIterate.loop(spark, seed.schema, in, fb, out, ck)(
      step = _.select(col("id"), (col("v") - 1).as("v")), // NULL-1 stays NULL
      isFeedback = col("v") > 0)
    try {
      (1 to 4).foreach(_ => q.processAllAvailable())
      val ids = spark.read.option("recursiveFileLookup", "true")
        .parquet(out).select("id").as[Long].collect().sorted.toList
      assert(ids == List(1L, 2L), s"NULL-predicate row lost: $ids")
    } finally q.stop()
  }
}
