package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Generated code is compiled once per JVM, not once per invocation:
  * the codegen cache holds a workload's working set, and a stream's
  * cloned session runs its tasks in the same class loader as the batch
  * session, so cache entries (keyed on loader and source) carry over. */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("repeated manifest-merge and streaming runs reuse their generated code") {
    def run(): Long = {
      val c0 = compiles
      Seq("q328_manifest_merge", "q313_cms_stream").foreach { name =>
        SparkEntry.queries(name)(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
      compiles - c0
    }
    // Cold, the pair compiles about 119 units; Spark's default cache
    // recompiles 80-100 of them on every later run. Once warm, a run
    // still compiles 0-8 plan variants it had not met before, so the
    // bound is a fifth of the first run rather than a tenth. Run 1 is
    // cold whatever ran earlier in this JVM: the codegen cache starts
    // empty.
    CodegenReuseSpec.clearCodegenCache()
    val counts = Seq.fill(3)(run())
    info(s"compilations per run: $counts")
    assert(counts(2) <= counts(0) / 5, s"compilations per run: $counts")
  }

  test("batch and foreachBatch stream tasks run in one class loader") {
    val spark2 = spark; import spark2.implicits._
    implicit val ctx = spark.sqlContext

    spark.range(1).foreachPartition((_: Iterator[java.lang.Long]) =>
      CodegenReuseSpec.batchLoader.set(Thread.currentThread.getContextClassLoader))

    val ms = MemoryStream[Int]
    val q = ms.toDF().writeStream
      .option("checkpointLocation", Scratch.dir("loader-ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) =>
          CodegenReuseSpec.streamLoader.set(Thread.currentThread.getContextClassLoader))
      }.start()
    try {
      ms.addData(1, 2, 3)
      q.processAllAvailable()
    } finally q.stop()

    val (batch, stream) = (CodegenReuseSpec.batchLoader.get, CodegenReuseSpec.streamLoader.get)
    assert(batch != null && stream != null)
    assert(batch eq stream, s"batch task loader $batch, stream task loader $stream")
  }
}

object CodegenReuseSpec {
  val batchLoader = new AtomicReference[ClassLoader]()
  val streamLoader = new AtomicReference[ClassLoader]()

  /** Empty Spark's JVM-wide generated-class cache (`CodeGenerator`'s
    * private `cache`), so the next query compiles from scratch. */
  def clearCodegenCache(): Unit = {
    val get = CodeGenerator.getClass.getDeclaredMethod("cache")
    get.setAccessible(true)
    val cache = get.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }
}
