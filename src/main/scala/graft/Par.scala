package graft

/** Overlap independent Spark actions from driver threads (guide §2.6:
  * actions are only sequential because the driver calls them
  * sequentially — concurrent jobs back-fill executors freed by another
  * job's straggler tail, and their driver-side planning overlaps too,
  * which matters for the manifest/index maintenance protocols whose
  * cost is 30-90 small jobs at ~40-70 ms of planning each).
  *
  * A small dedicated pool per call: 2-3 jobs in flight is the guide's
  * recommendation — enough to fill the tail, not enough to fight over
  * executors — and a short-lived pool avoids leaking inherited
  * thread-locals (job group / description) across unrelated queries.
  */
object Par {

  /** Run the thunks concurrently, return results in order. Fails with
    * the first failure (after every thunk finished or failed — no
    * half-run writes left behind a thrown exception). */
  def run[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.lengthCompare(1) <= 0) return thunks.map(_.apply())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, 3))
    try {
      import scala.jdk.CollectionConverters._
      val futures = pool.invokeAll(
        thunks.map(t => new java.util.concurrent.Callable[T] {
          override def call(): T = t()
        }).asJava)
      futures.asScala.toSeq.map(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
  }

  /** Two independent actions, typed. */
  def run2[A, B](a: () => A, b: () => B): (A, B) = {
    val r = run(Seq(() => a().asInstanceOf[Any], () => b().asInstanceOf[Any]))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
