package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import PerfBench.Span

/** Per-layer recorder for traced passes, built only on Spark's public
  * hooks: a `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (Catalyst phase times from
  * `qe.tracker.phases`), a `StreamingQueryListener` (micro-batch
  * progress and state-store size) and the `CodegenMetrics` registry.
  *
  * Events are kept in memory with their own timestamps and assigned to
  * passes by time afterwards, so the asynchronous listener bus may
  * deliver them late; `detach` waits until it has gone quiet.
  */
final class Recorder {
  import Recorder._

  private val jobs = new ConcurrentLinkedQueue[Job]
  private val jobEnds = new ConcurrentHashMap[Int, Long]
  private val stages = new ConcurrentLinkedQueue[Stage]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val plans = new ConcurrentLinkedQueue[Plan]
  private val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null) {
        val sr = m.shuffleReadMetrics
        tasks.add(Task(e.stageId, e.stageAttemptId, e.taskInfo.finishTime,
          e.taskInfo.duration, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, sr.remoteBytesRead + sr.localBytesRead,
          sr.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(phase: String): Long = ph.get(phase).map(_.durationMs).getOrElse(0L)
      ph.values.map(_.startTimeMs).minOption.foreach { t =>
        plans.add(Plan(t, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    // The listener bus is asynchronous: wait until no event has arrived
    // for three polls in a row (at most 5 s) before unhooking.
    def seen = jobs.size + jobEnds.size + stages.size + tasks.size +
      plans.size + batches.size
    var (last, quiet, waited) = (-1, 0, 0)
    while (quiet < 3 && waited < 50) {
      Thread.sleep(100); waited += 1
      val n = seen
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  private def jobSpans: Seq[(Job, Long)] = jobs.asScala.toSeq
    .map(j => j -> jobEnds.asScala.getOrElse(j.id, j.start))

  private def batchStart(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  private def batchMs(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)

  /** Per-layer metrics, averaged over the traced warm passes; the
    * codegen layer is the cold pass (pass 0), where compilation happens. */
  def layers(spans: Seq[Span], traced: Set[Int], cg0: Codegen,
             cg1: Codegen): Map[String, Double] = {
    val warm = traced - 0
    val passSpans = spans.filter(s => s.kind == "pass" && warm(s.pass))
    val n = passSpans.size.toDouble max 1.0
    val wallMs = passSpans.map(s => s.t1 - s.t0).sum.toDouble
    def in(t: Long) = passSpans.exists(s => t >= s.t0 && t <= s.t1)
    def of(kind: String) = spans.filter(s => s.kind == kind && warm(s.pass))

    val js = jobSpans.filter(j => in(j._1.start))
    val ts = tasks.asScala.toSeq.filter(t => in(t.finish))
    val ps = plans.asScala.toSeq.filter(p => in(p.start))
    val bs = batches.asScala.toSeq.filter(b => in(batchStart(b)))
    val builds = of("operators.build")
    val intervals = js.map { case (j, end) => (j.start, end) }

    val gapMs = of("query").map { q =>
      (q.t1 - q.t0) - covered(q.t0, q.t1, intervals) }.sum
    val overlapMs = passSpans.map(p => atLeastTwo(p.t0, p.t1, intervals)).sum
    val skew = median(ts.groupBy(t => (t.stage, t.attempt)).values
      .filter(_.size >= 2).map { g =>
        val d = g.map(_.durationMs.toDouble).sorted
        d.last / (median(d) max 1.0)
      }.toSeq)
    // State size per pass: the last batch of each streaming run.
    val lastBatches = bs.groupBy(_.runId).values.map(_.maxBy(_.batchId))
    val taskS = ts.map(_.runMs).sum / 1000.0
    require(cg1.kept == cg1.compiles, s"codegen: ${cg1.compiles} compilations, " +
      s"but the histogram kept ${cg1.kept}; their total time is not known")

    Map(
      "codegen.compile_ms" -> (cg1.compileMs - cg0.compileMs).toDouble,
      "codegen.classes" -> (cg1.classes - cg0.classes).toDouble,
      "operators.build_ms" -> builds.map(s => s.t1 - s.t0).sum / n,
      "operators.build_jobs" -> js.count(j =>
        builds.exists(b => j._1.start >= b.t0 && j._1.start <= b.t1)) / n,
      "operators.run_ms" -> of("operators.run").map(s => s.t1 - s.t0).sum / n,
      "planning.analysis_ms" -> ps.map(_.analysisMs).sum / n,
      "planning.optimizer_ms" -> ps.map(_.optimizerMs).sum / n,
      "planning.physical_ms" -> ps.map(_.physicalMs).sum / n,
      "planning.actions" -> ps.size / n,
      "sched.jobs" -> js.size / n,
      "sched.stages" -> stages.asScala.count(s => in(s.completed)) / n,
      "sched.tasks" -> ts.size / n,
      "sched.gap_ms" -> gapMs / n,
      "exec.task_s" -> taskS / n,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
      "exec.gc_ms" -> ts.map(_.gcMs).sum / n,
      "exec.concurrency" -> (if (wallMs > 0) taskS * 1000.0 / wallMs else 0.0),
      "exec.skew" -> skew,
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum / n,
      "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum / n,
      "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum / n,
      "shuffle.spill_bytes" -> ts.map(_.spill).sum / n,
      "scan.bytes" -> ts.map(_.inBytes).sum / n,
      "scan.records" -> ts.map(_.inRecords).sum / n,
      "sources.bytes_written" -> ts.map(_.outBytes).sum / n,
      "sources.records_written" -> ts.map(_.outRecords).sum / n,
      "par.overlap_ms" -> overlapMs / n,
      "streaming.batches" -> bs.size / n,
      "streaming.trigger_ms_p50" -> median(bs.map(b => batchMs(b, "triggerExecution").toDouble)),
      "streaming.add_batch_ms" -> bs.map(b => batchMs(b, "addBatch")).sum / n,
      "streaming.planning_ms" -> bs.map(b => batchMs(b, "queryPlanning")).sum / n,
      "streaming.wal_commit_ms" -> bs.map(b => batchMs(b, "walCommit")).sum / n,
      "streaming.state_rows" ->
        lastBatches.map(_.stateOperators.map(_.numRowsTotal).sum).sum / n,
      "streaming.state_bytes" ->
        lastBatches.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / n,
      "streaming.state_commit_ms" ->
        bs.map(_.stateOperators.map(_.commitTimeMs).sum).sum / n)
  }

  /** Every traced span as a flat list with parent ids: pass → query →
    * operators.build / operators.run → job → stage, and query → stream
    * batch. `self_ms` is the span's time minus what its children cover. */
  def spanTree(spans: Seq[Span], traced: Set[Int]): Seq[Map[String, Any]] = {
    case class Node(id: Int, parent: Int, kind: String, name: String,
                    t0: Long, t1: Long)
    val harness = spans.filter(s => traced(s.pass))
      .map(s => Node(s.id, s.parent, s.kind, s.name, s.t0, s.t1))
    def innermost(t: Long, kinds: Set[String]): Int = harness
      .filter(s => kinds(s.kind) && t >= s.t0 && t <= s.t1)
      .sortBy(s => s.t1 - s.t0).headOption.map(_.id).getOrElse(-1)
    var next = spans.size
    def fresh(): Int = { next += 1; next - 1 }
    val opKinds = Set("operators.build", "operators.run", "query")
    val jobNodes = jobSpans.sortBy(_._1.start).map { case (j, end) =>
      j -> Node(fresh(), innermost(j.start, opKinds), "job", s"job${j.id}",
        j.start, end)
    }.filter(_._2.parent >= 0)
    val jobOfStage = jobNodes.flatMap { case (j, node) =>
      j.stageIds.map(_ -> node.id) }.reverse.toMap
    val stageNodes = stages.asScala.toSeq.flatMap { s =>
      jobOfStage.get(s.id).map(p => Node(fresh(), p, "stage",
        s"stage${s.id}.${s.attempt}", s.submitted, s.completed))
    }
    val batchNodes = batches.asScala.toSeq.map { b =>
      val t0 = batchStart(b)
      Node(fresh(), innermost(t0, Set("query")), "batch",
        s"${Option(b.name).getOrElse("stream")}#${b.batchId}", t0,
        t0 + batchMs(b, "triggerExecution"))
    }.filter(_.parent >= 0)
    val all = harness ++ jobNodes.map(_._2) ++ stageNodes ++ batchNodes
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.t0, c.t1))
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.t0, "dur_ms" -> (s.t1 - s.t0),
        "self_ms" -> ((s.t1 - s.t0) - covered(s.t0, s.t1, kids)))
    }
  }
}

object Recorder {
  final case class Job(id: Int, start: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, submitted: Long, completed: Long)
  final case class Task(stage: Int, attempt: Int, finish: Long, durationMs: Long,
                        runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                        shuffleRead: Long, fetchWaitMs: Long, spill: Long,
                        inBytes: Long, inRecords: Long, outBytes: Long,
                        outRecords: Long)
  final case class Plan(start: Long, analysisMs: Long, optimizerMs: Long,
                        physicalMs: Long)
  final case class Codegen(compiles: Long, kept: Long, compileMs: Long,
                           classes: Long)

  /** Compilation count, total compile time and generated-class count so
    * far in this JVM. Spark records each compilation's time, in whole
    * milliseconds, in a sampling histogram; `compileMs` is the sum of the
    * `kept` samples, the exact total while `kept == compiles`. */
  def codegen(): Codegen = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val sample = h.getSnapshot
    Codegen(h.getCount, sample.size, sample.getValues.sum,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Milliseconds of [t0, t1] covered by at least one interval. */
  def covered(t0: Long, t1: Long, xs: Seq[(Long, Long)]): Long = {
    var (total, end) = (0L, t0)
    xs.map { case (a, b) => (a max t0, b min t1) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - (a max end); end = b }
      }
    total
  }

  /** Milliseconds of [t0, t1] with two or more intervals open at once. */
  def atLeastTwo(t0: Long, t1: Long, xs: Seq[(Long, Long)]): Long = {
    val edges = xs.map { case (a, b) => (a max t0, b min t1) }
      .filter(x => x._1 < x._2)
      .flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(e => (e._1, e._2))
    var (open, since, total) = (0, 0L, 0L)
    edges.foreach { case (t, d) =>
      if (open >= 2) total += t - since
      open += d; since = t
    }
    total
  }
}
