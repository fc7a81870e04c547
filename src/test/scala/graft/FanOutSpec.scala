package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.sink.FanOut

/** The fan-out helper's contract: results in input order, every task
  * finished before it returns or throws, the first failure in input order
  * rethrown with the later ones suppressed.
  */
class FanOutSpec extends AnyFunSuite {

  test("tasks overlap and results come back in input order") {
    val allIn = new CountDownLatch(3)
    val out = FanOut((0 until 3).map(i => () => {
      allIn.countDown()
      assert(allIn.await(30, TimeUnit.SECONDS), "tasks did not overlap")
      i * 10
    }))
    assert(out == Seq(0, 10, 20))
  }

  test("the first failure in input order is rethrown after every task finished") {
    val finished = new AtomicInteger(0)
    val slowLater = new CountDownLatch(1)
    val err = intercept[IllegalStateException] {
      FanOut(Seq[() => Int](
        () => { finished.incrementAndGet(); 1 },
        () => {
          // fails late: the earlier-failing task further down must not win
          slowLater.await(30, TimeUnit.SECONDS)
          finished.incrementAndGet()
          throw new IllegalStateException("second")
        },
        () => {
          finished.incrementAndGet()
          slowLater.countDown()
          throw new IllegalArgumentException("third")
        },
        () => { Thread.sleep(200); finished.incrementAndGet(); 4 }))
    }
    assert(err.getMessage == "second")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
    assert(finished.get() == 4, "returned before every task finished")
  }
}
