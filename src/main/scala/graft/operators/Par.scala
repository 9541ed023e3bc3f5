package graft.operators

/** Concurrent driver-side execution of INDEPENDENT maintenance tasks —
  * the optimization guide's "overlap independent jobs" lever (§2.6)
  * applied to the artifact lifecycles: every init/append/compact/
  * retract family writes several disjoint artifact directories whose
  * jobs have no data dependency, yet sequential driver code serializes
  * them, leaving the cluster idle through each job's scheduling tail.
  * Submitting them from a small pool lets the scheduler back-fill —
  * wall clock drops from sum-of-tasks toward max-of-tasks, locally and
  * on a real cluster (FIFO scheduling gives exactly the back-fill
  * behavior; the jobs are small, so they cannot starve one another).
  *
  * A bounded pool, and a join that awaits EVERY task before it
  * rethrows the first failure (in task order) — so the composite call
  * returns, or throws, only once no task is still writing. A fail-fast
  * join would let a caller retry or stop while a sibling append still
  * writes its directory.
  * Correctness is unaffected — tasks touch disjoint directories and
  * the callers' semantics pins (ReleaseFlowSpec, RetractSpec,
  * CompactionSpec, MediaReleaseFlowSpec) hold verbatim.
  */
private[graft] object Par {

  /** Run `tasks` concurrently on a small thread pool (no Spark job group
    * is set); blocks until ALL complete, failed or not, then rethrows
    * the first failure in task order. Single task runs inline (no pool
    * churn). */
  def run(tasks: Seq[() => Unit]): Unit = {
    if (tasks.isEmpty) return
    if (tasks.size == 1) { tasks.head.apply(); return }
    deferred(tasks)()
  }

  def run(first: () => Unit, rest: (() => Unit)*): Unit =
    run(first +: rest)

  /** Start `tasks` concurrently NOW, return the JOIN: calling the
    * returned thunk blocks until every task completed, failed or not,
    * and then rethrows the first failure in task order (idempotent — a
    * second call re-awaits the same completed futures). For
    * compositions where work independent of the tasks can run between
    * fork and join — [[CorpusBuild.build]] overlaps the release's
    * artifact appends with the curation stage this way (curation reads
    * only the pre-append decision checkpoint, never the artifacts; the
    * composite still joins before returning, so callers observe the
    * same "all artifacts landed" contract as [[run]]). */
  def deferred(tasks: Seq[() => Unit]): () => Unit = {
    if (tasks.isEmpty) return () => ()
    // daemon threads: the normal path always joins, but an exception
    // between fork and join must not leave non-daemon pool threads
    // pinning the JVM open
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, tasks.size),
      (r: Runnable) => {
        val t = new Thread(r, "graft-par")
        t.setDaemon(true)
        t
      })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futs = tasks.map(t => scala.concurrent.Future(t.apply()))
    () => {
      // Future.traverse's join fails fast; await each future instead
      try futs.foreach(scala.concurrent.Await.ready(_,
        scala.concurrent.duration.Duration.Inf))
      finally pool.shutdown()
      futs.flatMap(_.value.get.failed.toOption).headOption.foreach(throw _)
    }
  }

  /** Run `body`, then `join` — also when `body` throws, like a
    * `finally`, but the FIRST failure wins: when both throw, `body`'s
    * exception propagates with the join's attached as suppressed,
    * where a `finally` would replace it with the join's. For the
    * fork → work → join compositions over [[deferred]]. */
  def joinAfter[A](join: () => Unit)(body: => A): A = {
    val result =
      try body
      catch {
        case t: Throwable =>
          try join()
          catch { case j: Throwable => if (j ne t) t.addSuppressed(j) }
          throw t
      }
    join()
    result
  }
}
