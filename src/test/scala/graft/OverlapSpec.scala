package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite

/** [[Overlap]]'s contract: values in thunk order, every sibling finished
  * before a failure reaches the caller, the first failure in sequence
  * order wins, and the thunks run on the helper's own pool.
  */
class OverlapSpec extends AnyFunSuite {

  test("values come back in thunk order, not completion order") {
    // the later a thunk sits in the sequence, the sooner it finishes
    val got = Overlap.all((0 until 5).map(i => () => { Thread.sleep((5 - i) * 40L); i }))
    assert(got == (0 until 5))
    assert(Overlap({ Thread.sleep(40); 1 }, "two") == ((1, "two")))
    assert(Overlap({ Thread.sleep(40); 1 }, "two", 3.0) == ((1, "two", 3.0)))
  }

  test("a failure reaches the caller only after a slower sibling has finished") {
    val finished = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap.all(Seq(
        () => throw new IllegalStateException("fast failure"),
        () => { Thread.sleep(400); finished.set(true) }))
    }
    assert(e.getMessage == "fast failure")
    assert(finished.get, "the sibling was still running when the failure propagated")
  }

  test("the first failure in sequence order is the one rethrown") {
    // the second thunk fails first in time
    val e = intercept[RuntimeException] {
      Overlap.all(Seq(
        () => { Thread.sleep(300); throw new RuntimeException("first in sequence") },
        () => throw new RuntimeException("first in time")))
    }
    assert(e.getMessage == "first in sequence")
  }

  test("no thunk runs on a scala-execution-context-global thread") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def names(): Seq[String] =
      Overlap.all((0 until 6).map(_ => () => { Thread.sleep(20); Thread.currentThread().getName }))
    // also when the caller itself runs on the global pool
    val all = names() ++ Await.result(Future(names()), 30.seconds)
    assert(all.forall(!_.startsWith("scala-execution-context-global")), all)
    assert(Overlap.all(Seq(() => Thread.currentThread().isDaemon)) == Seq(true))
  }
}
