package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry, Tables}

/** JVM side of `perfbench/run.py`.
  *
  * It first builds the session with `GraftSession.builder` and lists the
  * tables with `Tables.load`, then prints `READY <session_ms> <tables_ms>`;
  * run.py timestamps that line to get the set-up time. Then it measures:
  *
  *  - one cold pass over the workload's queries (the first in this JVM),
  *    which also writes every query's output as parquet beside
  *    `oracle_sql.json`, for `tools/check_oracle.py`,
  *  - one uncounted warm-up pass,
  *  - warm passes until `--seconds` have gone by (at least `--min-passes`),
  *    each in its own seed-derived order.
  *
  * Each query runs the way `graft.Bench` runs it: the
  * `SparkEntry.queries(name)(spark, dir)` builder call, then a write to
  * the noop sink (the cold pass writes parquet instead). With `--trace 1`
  * every other warm pass runs with the [[Recorder]] listeners attached;
  * the untraced passes in between give the trace overhead. The last
  * stdout line is `RESULT <json>`.
  */
object PerfBench {

  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        t0: Long, t1: Long, pass: Int)

  /** Writes the result line and the JSON files beside it. */
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dir = opts("data")
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(opts("cores").toInt, "graft-perfbench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    Tables.all.foreach(t => Tables.load(spark, dir, t))
    val t2 = System.nanoTime()
    println(s"READY ${(t1 - t0) / 1e6} ${(t2 - t1) / 1e6}")
    System.out.flush()
    try println("RESULT " + json.writeValueAsString(measure(spark, dir, opts)))
    finally spark.stop()
  }

  private def measure(spark: SparkSession, dir: String,
                      opts: Map[String, String]): Map[String, Any] = {
    val queries = opts("queries").split(",").toSeq
    val rng = new scala.util.Random(opts("seed").toLong)
    val seconds = opts("seconds").toDouble
    val minPasses = opts("min-passes").toInt
    val trace = opts("trace") == "1"
    val recorder = new Recorder
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    val errors = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // JIT and GC milliseconds of each pass, kept for telling JVM noise
    // apart from a regression; not reported as metrics.
    val jitGc = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def jitGcMs: (Long, Long) = (
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
    var attempted = 0

    def span(kind: String, name: String, parent: Int, pass: Int)(
        body: Int => Unit): Unit = {
      val id = spans.size
      spans += Span(id, parent, kind, name, System.currentTimeMillis(), 0L, pass)
      try body(id)
      finally spans(id) = spans(id).copy(t1 = System.currentTimeMillis())
    }

    val verifyOut = opts("verify-out")

    /** One pass in the given order: wall seconds and process CPU seconds.
      * Pass 0 writes each output to `verify-out` instead of the noop sink. */
    def pass(p: Int, order: Seq[String]): (Double, Double) = {
      val c0 = cpu.getProcessCpuTime
      val (j0, g0) = jitGcMs
      val w0 = System.nanoTime()
      span("pass", s"pass$p", -1, p) { passId =>
        order.foreach { name =>
          attempted += 1
          span("query", name, passId, p) { q =>
            try {
              var df: org.apache.spark.sql.DataFrame = null
              span("operators.build", name, q, p) { _ =>
                df = SparkEntry.queries(name)(spark, dir)
              }
              span("operators.run", name, q, p) { _ =>
                if (p == 0) df.write.parquet(s"$verifyOut/$name")
                else df.write.format("noop").mode("overwrite").save()
              }
            } catch { case e: Throwable =>
              errors += Map("query" -> name, "pass" -> p,
                "error" -> s"${e.getClass.getName}: ${e.getMessage}")
            }
          }
        }
      }
      val (j1, g1) = jitGcMs
      jitGc += ((j1 - j0, g1 - g0))
      ((System.nanoTime() - w0) / 1e9, (cpu.getProcessCpuTime - c0) / 1e9)
    }

    // Pass 0 is the cold pass; its codegen counts are the codegen layer.
    val codegen0 = Recorder.codegen()
    if (trace) recorder.attach(spark)
    val (coldS, _) = pass(0, rng.shuffle(queries))
    if (trace) recorder.detach(spark)
    val codegen1 = Recorder.codegen()

    // Pass 1 is a second warm-up and is not reported: right after the
    // cold pass the JIT is far from steady, and the first warm pass runs
    // 10-25 % slower than the ones after it.
    pass(1, rng.shuffle(queries))
    val warm = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double, Boolean)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (warm.size < minPasses || System.nanoTime() < deadline) {
      val p = warm.size + 2
      val traced = trace && p % 2 == 0
      if (traced) recorder.attach(spark)
      val (w, c) = pass(p, rng.shuffle(queries))
      if (traced) recorder.detach(spark)
      warm += ((p, w, c, traced))
    }

    val oracle = SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))
    Files.writeString(Paths.get(s"$verifyOut/oracle_sql.json"), json.writeValueAsString(oracle))

    val result = Map[String, Any](
      "cold_pass_s" -> coldS,
      "pass_s" -> warm.filterNot(_._4).map(_._2).toSeq,
      "cpu_s" -> warm.filterNot(_._4).map(_._3).toSeq,
      "traced_pass_s" -> warm.filter(_._4).map(_._2).toSeq,
      "jit_ms" -> jitGc.map(_._1).toSeq,
      "gc_ms" -> jitGc.map(_._2).toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "attempted" -> attempted,
      "errors" -> errors.toSeq)
    if (!trace) result
    else {
      val tracedPasses = (0 +: warm.filter(_._4).map(_._1).toSeq).toSet
      val layers = recorder.layers(spans.toSeq, tracedPasses, codegen0, codegen1)
      Files.writeString(Paths.get(opts("spans-out")),
        json.writeValueAsString(recorder.spanTree(spans.toSeq, tracedPasses)))
      result + ("layers" -> layers)
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
