package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The runner under graft's mains (Bench, Verify, JobProfile, PlanAudit,
  * SoakData): one way to build their session, run a catalog query, time
  * a query set and log what its jobs and tasks did.
  */
object Harness {

  /** A local session logging at WARN. Its core count comes from the
    * environment variable read below, else every core of this host. */
  def session(app: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = GraftSession.builder(cpus, app).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Build catalog query `name` on the tables in `dir` and run it into
    * the noop sink. count() would let Catalyst prune the projections and
    * under-report; noop executes the full plan including result
    * serialization. */
  def noop(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()

  /** One timed run of a query: wall-clock interval in epoch ms (to match
    * listener event times), seconds, and codegen compilations. */
  final case class Timing(name: String, startMs: Long, endMs: Long,
                          sec: Double, compiles: Long)

  /** Codegen compilations so far in this JVM (the driver and the local
    * executors share one codegen cache). */
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One untimed warm-up pass over `names` (JIT, codegen cache, file
    * listing), then `passes` timed passes; returns each query's fastest
    * run, in `names` order. Passes are interleaved (all queries, then all
    * again) so a multi-second host stall cannot cover every measurement
    * of the same query. */
  def minOfPasses(names: Seq[String], passes: Int)(run: String => Unit): Seq[Timing] = {
    names.foreach(run)
    def timed(name: String): Timing = {
      val w0 = System.currentTimeMillis(); val c0 = compiles
      val t0 = System.nanoTime(); run(name)
      val sec = (System.nanoTime() - t0) / 1e9
      Timing(name, w0, System.currentTimeMillis(), sec, compiles - c0)
    }
    val all = (1 to passes).map(_ => names.map(timed))
    names.indices.map(i => all.map(_(i)).minBy(_.sec))
  }

  /** Attach a fresh [[JobLog]] to the session's listener bus. */
  def jobLog(spark: SparkSession): JobLog = {
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    log
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit = GraftSqlBridge.drainListenerBus(spark)

  /** Child processes this JVM starts, counted by command name (`chmod`,
    * `readlink`, ...) from JFR's `jdk.ProcessStart` events, read in
    * process through a `RecordingStream`. JFR delivers events in flushes
    * about once a second; [[ProcessLog.started]] first waits for a marker
    * event committed after everything it should count. */
  final class ProcessLog extends AutoCloseable {
    private val stream = new jdk.jfr.consumer.RecordingStream()
    private val byCommand = scala.collection.mutable.Map.empty[String, Int]
    private val marks = new java.util.concurrent.Semaphore(0)
    stream.enable("jdk.ProcessStart").withoutStackTrace()
    stream.enable(classOf[ProcessLog.Mark])
    stream.onEvent("jdk.ProcessStart", e => {
      val cmd = e.getString("command").takeWhile(_ != ' ').split('/').last
      byCommand.synchronized(byCommand(cmd) = byCommand.getOrElse(cmd, 0) + 1)
    })
    stream.onEvent(classOf[ProcessLog.Mark].getName, _ => marks.release())
    stream.startAsync()

    /** Processes started since the previous call (the first call: since
      * the log opened), by command. */
    def started(): Map[String, Int] = {
      new ProcessLog.Mark().commit()
      if (!marks.tryAcquire(30, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException("JFR delivered no events for 30 s")
      byCommand.synchronized { val c = byCommand.toMap; byCommand.clear(); c }
    }

    override def close(): Unit = stream.close()
  }

  object ProcessLog {
    final class Mark extends jdk.jfr.Event

    /** `n (a chmod, b readlink)`: a count and its commands, largest first. */
    def show(c: Map[String, Int]): String =
      if (c.isEmpty) "0"
      else s"${c.values.sum} (" + c.toSeq.sortBy(-_._2)
        .map { case (cmd, n) => s"$n $cmd" }.mkString(", ") + ")"
  }

  /** A Spark job as the log saw it: its own stage ids, the tasks of
    * those stages, its description (or call site), and the SQL execution
    * it ran under, if any (an RDD job such as parquet schema inference
    * runs under none). */
  final case class Job(id: Int, start: Long, desc: String, stageIds: Seq[Int],
                       sqlId: Option[Long]) {
    @volatile var end: Long = 0L
    @volatile var tasks: Int = 0
  }

  /** A finished task: its stage, finish time (epoch ms) and executor run
    * time (ms). */
  final case class TaskEnd(stageId: Int, finishMs: Long, runMs: Long)

  /** The one listener for job and task events. A completed stage's tasks
    * count toward the job whose start event listed that stage, so
    * concurrent jobs (graft.Par, AQE's back-to-back stage jobs) each keep
    * their own tasks. A stage listed by several jobs (a shuffle reused by
    * a later job) belongs to the first. Read it after [[Harness.drain]].
    */
  final class JobLog extends SparkListener {
    private val jobList = scala.collection.mutable.ArrayBuffer.empty[Job]
    private val byStage = scala.collection.mutable.HashMap.empty[Int, Job]
    private val taskList = scala.collection.mutable.ArrayBuffer.empty[TaskEnd]
    // running SQL executions: id -> description
    private val sqlDesc = scala.collection.mutable.HashMap.empty[Long, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized(sqlDesc(s.executionId) = s.description)
      case s: SparkListenerSQLExecutionEnd => synchronized(sqlDesc -= s.executionId)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // no description: that of the job's SQL execution ("save at
      // Harness.scala"; AQE runs each query stage as a job from its own
      // thread, so the stage's name there is a CompletableFuture frame),
      // else the result stage's name, the action's call site. A
      // multi-line description (a micro-batch's "<queryName>\nid = …
      // \nbatch = N", whose first line is empty for an unnamed query)
      // becomes one line of its non-empty lines
      val props = Option(e.properties)
      val sqlId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(sqlId.flatMap(sqlDesc.get))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
        .getOrElse("").linesIterator.map(_.trim).filter(_.nonEmpty).mkString(" / ")
      val job = Job(e.jobId, e.time, desc, e.stageIds, sqlId)
      jobList += job
      e.stageIds.foreach(s => if (!byStage.contains(s)) byStage(s) = job)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobList.find(_.id == e.jobId).foreach(_.end = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      byStage.get(e.stageInfo.stageId).foreach(_.tasks += e.stageInfo.numTasks)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && e.taskInfo != null) synchronized {
        taskList += TaskEnd(e.stageId, e.taskInfo.finishTime, e.taskMetrics.executorRunTime)
      }

    /** Jobs started at or after `since` (epoch ms), in start order. */
    def jobs(since: Long = 0L): Seq[Job] =
      synchronized(jobList.toList).filter(_.start >= since).sortBy(_.start)

    def taskEnds: Seq[TaskEnd] = synchronized(taskList.toList)

    /** Σ executor run time (s) of the tasks that finished in [from, to]. */
    def taskSec(from: Long, to: Long): Double =
      taskEnds.iterator.filter(t => t.finishMs >= from && t.finishMs <= to)
        .map(_.runMs).sum / 1000.0
  }
}
