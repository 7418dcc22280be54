package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

object Concurrent {

  /** Run independent driver actions concurrently (guide §2.6): each
    * thunk submits its own Spark jobs, and the scheduler back-fills one
    * job's straggler tail with the next job's tasks. At most `width`
    * thunks run at once; results come back in task order. The first
    * failure is rethrown, and a `deadline` overrun throws
    * TimeoutException. */
  def inParallel[A](tasks: Seq[() => A], width: Int, deadline: Duration): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(width, math.max(1, tasks.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), deadline)
    finally pool.shutdown()
  }
}
