package graft.sink

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}
import scala.concurrent.duration.Duration

/** Runs independent driver-side tasks side by side: the resources of one
  * `Pipeline.run`, the rewrite and batch files of one [[Warehouse.merge]],
  * the footer reads of one [[Warehouse.writeData]]. Each of those is a
  * chain of small Spark jobs or file reads whose driver gaps leave the
  * executors idle; overlapping them fills the gaps.
  *
  * Rules every caller relies on:
  *   - a fresh fixed pool of `min(16, tasks)` threads per call (threads
  *     inherit the caller's Spark local properties and active session when
  *     they are created); a single task runs on the calling thread;
  *   - the call waits for every task before it returns or throws, so no
  *     writer outlives it;
  *   - results come back in input order;
  *   - the first failure in input order is rethrown, with every later
  *     failure attached as suppressed.
  *
  * A finite `timeout` breaks the second rule: when it expires the
  * stragglers are interrupted and a [[TimeoutException]] is thrown without
  * waiting for them. Only read-only tasks (the footer reads) pass one.
  */
private[graft] object FanOut {
  private val MaxThreads = 16

  def apply[A](tasks: Seq[() => A], timeout: Duration = Duration.Inf): Seq[A] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val pool = Executors.newFixedThreadPool(math.min(MaxThreads, tasks.size))
      val futures =
        try tasks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
        finally pool.shutdown()
      val waitMs = if (timeout.isFinite) timeout.toMillis else Long.MaxValue
      try {
        if (!pool.awaitTermination(waitMs, TimeUnit.MILLISECONDS)) {
          pool.shutdownNow()
          throw new TimeoutException(s"${tasks.size} tasks did not finish within $timeout")
        }
      } catch {
        case e: InterruptedException =>
          // interrupt the tasks, but still outlive them before rethrowing
          pool.shutdownNow()
          while (!pool.isTerminated) {
            try pool.awaitTermination(Long.MaxValue, TimeUnit.MILLISECONDS)
            catch { case _: InterruptedException => () }
          }
          throw e
      }
      val outcomes = futures.map { f =>
        try Right(f.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: later =>
          later.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(a) => a }
      }
    }
}
