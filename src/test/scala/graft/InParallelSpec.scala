package graft

import org.scalatest.funsuite.AnyFunSuite

/** Failure-path contract of the fixture-chain overlap helper: when one
  * chain fails, the SIBLING chains are stopped (interrupted + drained)
  * before the exception unwinds — a straggler that kept writing its
  * temp store dir while the caller deleted it (or timed the next bench
  * query) was the r18-advice race. */
class InParallelSpec extends AnyFunSuite {

  test("inParallel rethrows the original failure cause") {
    val boom = new IllegalStateException("chain failed")
    val got = intercept[IllegalStateException] {
      PipelineQueries.inParallel(
        () => throw boom,
        () => Thread.sleep(50))
    }
    assert(got eq boom, "the ExecutionException wrapper leaked")
  }

  /** One chain fails once its sibling is demonstrably mid-flight on a
    * 30 s sleep; `failFirst` puts the failing chain first or second in
    * submission order. By the time inParallel unwinds, the sibling must
    * have been stopped: interrupted, and not left running to completion
    * later. */
  private def siblingStopped(failFirst: Boolean): Unit = {
    val siblingFinished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val siblingInterrupted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val siblingStarted = new java.util.concurrent.CountDownLatch(1)
    val failing = () => {
      // fail only once the sibling is demonstrably mid-flight
      siblingStarted.await()
      throw new IllegalStateException("one chain fails")
    }
    val sibling = () => {
      siblingStarted.countDown()
      try {
        Thread.sleep(30000) // a long store chain, mid-write
        siblingFinished.set(true) // would be the leaked writer
      } catch {
        case _: InterruptedException => siblingInterrupted.set(true)
      }
    }
    intercept[IllegalStateException] {
      if (failFirst) PipelineQueries.inParallel(failing, sibling)
      else PipelineQueries.inParallel(sibling, failing)
    }
    assert(siblingInterrupted.get,
      "sibling chain was not interrupted on failure")
    assert(!siblingFinished.get,
      "sibling chain kept running after inParallel rethrew")
  }

  test("on failure, sibling chains are interrupted and drained before " +
      "the exception unwinds") {
    siblingStopped(failFirst = true)
  }

  test("a failure in a LATER chain stops an earlier long chain at once " +
      "(completion order, not submission order)") {
    val t0 = System.nanoTime()
    siblingStopped(failFirst = false)
    assert((System.nanoTime() - t0) / 1000000L < 20000L,
      "inParallel waited on the earlier chain before cancelling")
  }
}
