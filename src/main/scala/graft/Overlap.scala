package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** The one way graft overlaps INDEPENDENT Spark actions (guide §2.6). */
private[graft] object Overlap {

  /**
   * Run `jobs` concurrently: actions are only sequential because the
   * driver thread calls them sequentially, so overlapping lets one job's
   * tasks back-fill another's straggler tail. The first job runs on the
   * calling thread, the rest on the global pool. Returns only once EVERY
   * job has finished, so no sibling is still writing when the caller
   * goes on (or cleans up after a failure); the first failure in job
   * order is then rethrown with the others attached as suppressed. Only
   * for actions with no ordering requirement between them.
   */
  def parJobs(jobs: (() => Unit)*): Unit = {
    val rest = jobs.drop(1).map(j =>
      Future(j())(scala.concurrent.ExecutionContext.global))
    val head = jobs.headOption.map(j => Try(j()))
    val outcomes = head.toSeq ++
      rest.map(f => Await.ready(f, Duration.Inf).value.get)
    outcomes.collect { case Failure(e) => e } match {
      case first +: others =>
        others.foreach(first.addSuppressed)
        throw first
      case _ => ()
    }
  }
}
