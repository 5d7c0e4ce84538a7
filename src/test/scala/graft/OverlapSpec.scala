package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** The one overlap primitive, without Spark: it returns only after every
  * job has finished, and reports every failure. */
class OverlapSpec extends AnyFunSuite {

  test("parJobs waits for every sibling before rethrowing the first failure") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap.parJobs(
        () => throw new IllegalStateException("head"),
        () => { Thread.sleep(200); siblingDone.set(true) },
        () => { Thread.sleep(50); throw new IllegalArgumentException("third") })
    }
    assert(siblingDone.get(), "the exception surfaced while a sibling ran")
    assert(e.getMessage === "head")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("third"))
  }

  test("parJobs runs every job once, including none and one") {
    Overlap.parJobs()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    Overlap.parJobs(() => n.incrementAndGet())
    Overlap.parJobs(Seq.fill(5)(() => { n.incrementAndGet(); () }): _*)
    assert(n.get() === 6)
  }
}
