package graft

/** Per-rep wall time and per-job profile of one catalog query (decide
  * where the time goes before changing anything; `GraftSession` turns
  * the Spark UI off, so [[Harness.JobLog]] stands in for its Jobs page).
  *
  * Usage: tools/run.sh graft.JobProfile <name> [sfDir] [reps]
  * Runs the query `reps` times (default 2) and prints each rep's wall
  * time and the child processes it started, by command (a Hadoop shell
  * fork per file operation shows here), then profiles the last rep: one
  * line per Spark job with start offset, duration, #tasks, its SQL
  * execution id (`-` for a job outside any, such as a parquet
  * schema-inference job) and the description/callsite, plus the gaps
  * BETWEEN jobs (driver-side planning/collect time), which job rows
  * alone would hide.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Harness.session("graft-jobprofile")
    val log = Harness.jobLog(spark)
    val forks = new Harness.ProcessLog

    var lastStart = 0L
    var wall = 0.0
    (1 to reps).foreach { i =>
      forks.started()
      lastStart = System.currentTimeMillis()
      val t0 = System.nanoTime()
      Harness.noop(spark, name, sfDir)
      wall = (System.nanoTime() - t0) / 1e9
      println(f"[profile] $name rep$i: $wall%.2f s, " +
        s"child processes ${Harness.ProcessLog.show(forks.started())}")
    }
    forks.close()
    Harness.drain(spark)

    val jobs = log.jobs(since = lastStart)
    val origin = jobs.headOption.map(_.start).getOrElse(0L)
    var prevEnd = origin
    var gapTotal = 0L
    println(f"[profile] $name rep$reps wall=$wall%.2f s, ${jobs.size} jobs")
    jobs.foreach { j =>
      val gap = j.start - prevEnd
      if (gap > 30) println(f"[profile]   -- gap ${gap / 1000.0}%6.2f s (driver)")
      gapTotal += math.max(gap, 0)
      val dur = (j.end - j.start) / 1000.0
      println(f"[profile]   job ${j.id}%3d @${(j.start - origin) / 1000.0}%7.2f s  " +
        f"dur $dur%6.2f s  tasks ${j.tasks}%4d  sql ${j.sqlId.fold("-")(_.toString)}%4s  " +
        j.desc.take(120)) // a micro-batch label ends in its batch id at ~100 chars
      prevEnd = math.max(prevEnd, j.end)
    }
    val jobTotal = jobs.map(j => j.end - j.start).sum / 1000.0
    println(f"[profile] job time $jobTotal%.2f s, driver gaps ${gapTotal / 1000.0}%.2f s " +
      f"(wall $wall%.2f s)")
    spark.stop()
  }
}
