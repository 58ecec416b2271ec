package graft

/** The harness's job log: each job keeps its own stages' tasks when jobs
  * overlap, the listener-bus drain leaves no task end behind, and a job
  * without a description is labelled by its SQL execution, and a
  * micro-batch job by a one-line form of its batch description. */
class HarnessSpec extends SparkSpec {

  private def withLog(body: Harness.JobLog => Unit): Unit = {
    val log = Harness.jobLog(spark)
    try body(log) finally spark.sparkContext.removeSparkListener(log)
  }

  /** One job of two stages: `maps` map tasks, then a shuffle into
    * `reduces` tasks. Each map task sleeps, so both jobs of a concurrent
    * pair have started before either finishes a stage. */
  private def twoStage(desc: String, maps: Int, reduces: Int): () => Long = () => {
    spark.sparkContext.setJobDescription(desc)
    spark.sparkContext.parallelize(1 to 100, maps)
      .mapPartitions { it => Thread.sleep(300); it.map(x => (x % 7, 1L)) }
      .reduceByKey(_ + _, reduces)
      .count()
  }

  test("concurrent jobs through Par keep their own stages' tasks") {
    withLog { log =>
      val since = System.currentTimeMillis()
      Par.run(Seq(twoStage("harness-a", 3, 2), twoStage("harness-b", 5, 4)))
      Harness.drain(spark)
      val jobs = log.jobs(since).filter(_.desc.startsWith("harness-"))
        .map(j => j.desc -> j).toMap
      assert(jobs.keySet == Set("harness-a", "harness-b"))
      assert(jobs.values.forall(_.stageIds.size == 2))
      assert(jobs("harness-a").tasks == 3 + 2)
      assert(jobs("harness-b").tasks == 5 + 4)
      jobs.values.foreach { j =>
        assert(j.end >= j.start)
        assert(log.taskEnds.count(t => j.stageIds.contains(t.stageId)) == j.tasks)
      }
    }
  }

  test("after the drain every task end of a finished job is recorded") {
    withLog { log =>
      val since = System.currentTimeMillis()
      spark.sparkContext.setJobDescription("harness-many")
      try spark.sparkContext.parallelize(1 to 2000, 200).map(_ * 2L).sum()
      finally spark.sparkContext.setJobDescription(null)
      Harness.drain(spark)
      val job = log.jobs(since).find(_.desc == "harness-many").get
      assert(job.tasks == 200)
      val ends = log.taskEnds.filter(t => job.stageIds.contains(t.stageId))
      assert(ends.size == 200)
      assert(ends.forall(t => t.finishMs >= job.start && t.finishMs <= job.end))
      assert(log.taskSec(job.start, job.end) == ends.map(_.runMs).sum / 1000.0)
    }
  }

  test("AQE stage jobs carry their SQL execution's label") {
    withLog { log =>
      val since = System.currentTimeMillis()
      Harness.noop(spark, "q262_dim_correlation", sf)
      Harness.drain(spark)
      val jobs = log.jobs(since)
      assert(jobs.nonEmpty)
      assert(!jobs.exists(_.desc.contains("CompletableFuture.java")), jobs.map(_.desc))
      assert(jobs.exists(j => j.sqlId.isDefined && j.desc.startsWith("save at Harness.scala")),
        jobs.map(_.desc))
    }
  }

  test("micro-batch jobs carry a one-line label naming their batch") {
    import org.apache.spark.sql.functions.col
    val ep = streaming.Replay.fileEpochs(Tables.events(spark, sf),
      Seq(col("event_id") % 2 === 0, col("event_id") % 2 === 1))
    withLog { log =>
      val since = System.currentTimeMillis()
      ep.runBatches(ep.streamDf(spark)) { (b, _) => b.count(); () }
      Harness.drain(spark)
      val jobs = log.jobs(since)
      assert(jobs.nonEmpty)
      assert(jobs.forall(j => j.desc.nonEmpty && !j.desc.contains("\n")), jobs.map(_.desc))
      val batches = jobs.map(_.desc).filter(_.contains("batch = "))
      assert(batches.exists(_.endsWith("batch = 0")) && batches.exists(_.endsWith("batch = 1")),
        jobs.map(_.desc))
    }
  }
}
