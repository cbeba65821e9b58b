package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Two independent Spark actions on concurrent action threads — the
  * two-legged writes (DeltaCurate's index appends, the ANN lifecycle's
  * append ∥ tombstone delete) and curation's keeper pass ∥ eval-shingle
  * checkpoint. Local-mode actions launched from separate threads
  * genuinely overlap, so the legs pay one job+commit floor instead of
  * two.
  */
object Concurrent {

  /** Runs `a` and `b` concurrently and returns both values only once
    * BOTH have finished; a failure is rethrown then (`a`'s before `b`'s,
    * the other attached as suppressed). Awaiting one leg and rethrowing
    * at once would leave the other leg running detached, still running
    * its job while the caller unwinds.
    */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val ec = ExecutionContext.global
    val fa = Future(a)(ec)
    val fb = Future(b)(ec)
    val ra = Await.ready(fa, Duration.Inf).value.get
    val rb = Await.ready(fb, Duration.Inf).value.get
    for (ea <- ra.failed; eb <- rb.failed) ea.addSuppressed(eb)
    (ra.get, rb.get)
  }
}
