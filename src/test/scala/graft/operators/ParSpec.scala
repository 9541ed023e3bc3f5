package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** [[Par]] — the concurrent-maintenance helper the lifecycle families
  * route their independent artifact tasks through (round-18
  * optimization). The semantics the callers rely on: EVERY task ran to
  * completion before run() returns, a failing task fails the composite
  * call (no silent half-maintained artifact set), and the degenerate
  * arities behave (empty = no-op, single = inline). */
class ParSpec extends AnyFunSuite {

  test("runs every task and blocks until all complete") {
    val done = new java.util.concurrent.atomic.AtomicInteger
    Par.run((1 to 7).map(i => () => {
      // stagger so completion order ≠ submission order
      Thread.sleep((7 - i) * 10L); done.incrementAndGet(); ()
    }))
    assert(done.get() === 7,
      "run() returned before every task completed")
  }

  test("a failing task fails the composite call") {
    val boom = intercept[RuntimeException] {
      Par.run(
        () => (),
        () => throw new RuntimeException("artifact 2 failed"),
        () => ())
    }
    assert(boom.getMessage === "artifact 2 failed")
  }

  test("deferred: tasks start before join; join blocks until all done and rethrows") {
    val done = new java.util.concurrent.atomic.AtomicInteger
    val started = new java.util.concurrent.CountDownLatch(1)
    val join = Par.deferred(Seq(
      () => { started.countDown(); Thread.sleep(50); done.incrementAndGet(); () },
      () => { Thread.sleep(30); done.incrementAndGet(); () }))
    // fork semantics: the first task begins without the join being called
    assert(started.await(2, java.util.concurrent.TimeUnit.SECONDS),
      "deferred tasks did not start until join — that's run(), not deferred()")
    join()
    assert(done.get() === 2, "join returned before every task completed")
    join() // idempotent: re-await of completed futures must not throw
    val failing = Par.deferred(Seq(
      () => throw new RuntimeException("append 3 failed")))
    val boom = intercept[RuntimeException](failing())
    assert(boom.getMessage === "append 3 failed")
  }

  test("a failure is rethrown only after every sibling task finished") {
    // a fail-fast join would throw while the sleeper still writes —
    // a caller could then retry or stop with an append in flight
    val marker = java.nio.file.Files.createTempDirectory("graft_par_")
      .resolve("written")
    val boom = intercept[RuntimeException] {
      Par.run(
        () => throw new RuntimeException("append 1 failed"),
        () => { Thread.sleep(300); java.nio.file.Files.createFile(marker); () })
    }
    assert(boom.getMessage === "append 1 failed")
    assert(java.nio.file.Files.exists(marker),
      "run() threw while a sibling task was still running")
    val marker2 = marker.resolveSibling("deferred")
    val join = Par.deferred(Seq(
      () => { Thread.sleep(300); java.nio.file.Files.createFile(marker2); () },
      () => throw new RuntimeException("append 2 failed")))
    assert(intercept[RuntimeException](join()).getMessage === "append 2 failed")
    assert(java.nio.file.Files.exists(marker2),
      "deferred's join threw while a sibling task was still running")
  }

  test("joinAfter: when the body and the join both throw, the body's " +
      "failure is thrown with the join's attached as suppressed") {
    val join = Par.deferred(Seq(
      () => throw new RuntimeException("append failed")))
    val boom = intercept[RuntimeException] {
      Par.joinAfter(join) { throw new RuntimeException("decisions write failed") }
    }
    assert(boom.getMessage === "decisions write failed")
    assert(boom.getSuppressed.map(_.getMessage).toSeq === Seq("append failed"))
    // a body that succeeds still surfaces the join's failure, and a
    // clean pair returns the body's value after the join
    assert(intercept[RuntimeException](Par.joinAfter(join)(1))
      .getMessage === "append failed")
    var joined = false
    assert(Par.joinAfter(() => joined = true)(2) === 2 && joined)
  }

  test("empty and single-task arities: no pool, same semantics") {
    Par.run(Seq.empty) // no-op, must not throw
    var ran = false
    val t = Thread.currentThread()
    var inline = false
    Par.run(Seq(() => { ran = true; inline = Thread.currentThread() eq t }))
    assert(ran)
    assert(inline, "a single task should run on the calling thread")
  }
}
