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
  * Same discipline as [[graft.streaming.PartitionedUpsert.upsert]]'s
  * concurrent bucket merges (the in-repo precedent): bounded pool,
  * fail-fast propagation of the first error, Await so the composite
  * operation's completion still means "every artifact landed".
  * Correctness is unaffected — tasks touch disjoint directories and
  * the callers' semantics pins (ReleaseFlowSpec, RetractSpec,
  * CompactionSpec, MediaReleaseFlowSpec) hold verbatim.
  */
private[graft] object Par {

  /** Run `tasks` concurrently on a small thread pool (no Spark job group
    * is set); blocks until ALL complete; rethrows the first failure.
    * Single task runs inline (no pool churn). */
  def run(tasks: Seq[() => Unit]): Unit = {
    if (tasks.isEmpty) return
    if (tasks.size == 1) { tasks.head.apply(); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, tasks.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try
      scala.concurrent.Await.result(
        scala.concurrent.Future.traverse(tasks)(t =>
          scala.concurrent.Future(t.apply())),
        scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    ()
  }

  def run(first: () => Unit, rest: (() => Unit)*): Unit =
    run(first +: rest)

  /** Start `tasks` concurrently NOW, return the JOIN: calling the
    * returned thunk blocks until every task completed and rethrows the
    * first failure (idempotent — a second call re-awaits the same
    * completed futures). For compositions where work independent of
    * the tasks can run between fork and join — [[CorpusBuild.build]]
    * overlaps the release's artifact appends with the curation stage
    * this way (curation reads only the pre-append decision checkpoint,
    * never the artifacts; the composite still joins before returning,
    * so callers observe the same "all artifacts landed" contract as
    * [[run]]). */
  def deferred(tasks: Seq[() => Unit]): () => Unit = {
    if (tasks.isEmpty) return () => ()
    // daemon threads: the normal path always joins, but an exception
    // between fork and join must not leave non-daemon pool threads
    // pinning the JVM open
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, tasks.size),
      (r: Runnable) => {
        val t = new Thread(r, "graft-par-deferred")
        t.setDaemon(true)
        t
      })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val fut = scala.concurrent.Future.traverse(tasks)(t =>
      scala.concurrent.Future(t.apply()))
    () => {
      try {
        scala.concurrent.Await.result(fut,
          scala.concurrent.duration.Duration.Inf); ()
      } finally pool.shutdown()
    }
  }
}
