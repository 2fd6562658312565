package graft.ops

/** Tiny driver-side fan-out for INDEPENDENT Spark actions (guide
  * §2.6: actions are only sequential because driver code calls them
  * sequentially; submitting independent jobs from a small thread pool
  * lets the scheduler back-fill executors freed by one job's tail
  * with the next job's tasks). Used where an operator runs several
  * jobs with no data dependency between them — e.g. the parquet dumps
  * of independent frozen-index artifacts, or a tombstone compaction
  * overlapped with the saves of the frames it does not touch.
  *
  * Failure contract (both entry points): waits for every task to
  * finish, then rethrows the failure that happened FIRST IN TIME
  * (unwrapped), so no sibling is still writing when the caller
  * unwinds. Spark's FIFO scheduler handles concurrent jobs from
  * multiple driver threads natively; job groups/descriptions are
  * thread-local so UI labels stay per-task. */
private[graft] object Par {

  /** Run the tasks concurrently (pool of min(n, 4) threads — 2-3 jobs
    * in flight is enough to fill a scheduling tail without fighting
    * for executors). A single task runs inline. */
  def all(tasks: (() => Unit)*): Unit = { run(tasks); () }

  /** Evaluate two independent expressions concurrently and return
    * both results (the two-branch form operators with exactly two
    * independent build stages use). */
  def join2[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = run(Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  private def run[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.lengthCompare(1) <= 0) tasks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(tasks.length, 4))
      val first = new java.util.concurrent.atomic.AtomicReference[Throwable]
      try {
        val futs = tasks.map { t =>
          pool.submit(new java.util.concurrent.Callable[T] {
            def call(): T =
              try t()
              catch { case e: Throwable => first.compareAndSet(null, e); throw e }
          })
        }
        futs.foreach { f =>
          try f.get()
          catch { case _: java.util.concurrent.ExecutionException => () }
        }
        if (first.get != null) throw first.get
        futs.map(_.get())
      } finally pool.shutdown()
    }
}
