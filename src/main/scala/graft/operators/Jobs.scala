package graft.operators

/**
 * Driver-side fan-out for INDEPENDENT Spark actions — the component writes
 * of one artifact. Each thunk runs on its own thread; all are awaited, and
 * the first failure is rethrown after every job has settled (no orphan
 * write racing a caller's `finally unpersist`).
 *
 * Why this exists: a bundle/index save is several SKETCH-SIZED component
 * writes over one shared persisted input. Run serially, each pays full
 * job-scheduling + output-commit latency — the dominant term of a write
 * whose data is KBs — so an artifact save costs jobs × latency of wall
 * time. Spark schedules concurrent jobs from separate threads against the
 * same session safely (each action carries its own execution id; writes
 * target disjoint directories), so overlapping them collapses that serial
 * latency without changing what lands on disk. At cluster scale the same
 * holds: the components are bounded by the sketch shape, not the corpus,
 * and share the one materialized cache of the slice.
 *
 * Contract for callers: fan out ONLY order-free writes. A component with a
 * WRITE-ORDER contract (a stats row doubling as the segment's commit
 * record, e.g. [[TextAnalysis]] lexical segments) stays OUTSIDE the
 * fan-out, written after the fan-out returns. Inputs shared by several
 * thunks must be persisted AND materialized before the call — concurrent
 * first-actions on an unmaterialized cache would compute it repeatedly.
 *
 * A fan-out needs no guard against session-conf changes: nothing in the
 * engine sets the shared session's conf while it runs (loops and streaming
 * gates size their shuffles in a private clone of it, see
 * [[Graph.distLoop]]), so every sibling plans under the caller's conf.
 */
private[graft] object Jobs {
  def concurrently(jobs: (() => Unit)*): Unit = {
    require(jobs.nonEmpty, "Jobs.concurrently: no jobs")
    if (jobs.length == 1) jobs.head() else concurrentlyImpl(jobs)
  }

  private def concurrentlyImpl(jobs: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(jobs.length)
    try {
      val futs = jobs.map { j =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = j()
        })
      }
      // await ALL before surfacing the first failure: a caller's finally
      // block (unpersist, staging cleanup) must not run under a still-live
      // sibling write. That includes a driver-thread INTERRUPT while
      // blocked in get(): remember it, keep settling the remaining
      // futures, and restore the interrupt status afterwards — returning
      // early would be exactly the orphan-write race this contract exists
      // to prevent
      var interrupted = false
      val errs = futs.flatMap { f =>
        var res: Option[Throwable] = None
        var settled = false
        while (!settled) {
          try { f.get(); settled = true }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              res = Some(Option(e.getCause).getOrElse(e): Throwable)
              settled = true
            case _: InterruptedException => interrupted = true
          }
        }
        res
      }
      if (interrupted) Thread.currentThread().interrupt()
      // surface the first failure with the siblings' causes attached —
      // a multi-component write failure must not hide its root cause
      errs.headOption.foreach { first =>
        errs.drop(1).foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }
}
