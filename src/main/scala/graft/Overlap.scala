package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Runs independent driver-side work concurrently (guide §2.6: overlap
  * independent jobs — the driver otherwise serializes several
  * sub-second jobs per store operation, and at bench scale the
  * store-maintenance rows are job-latency-bound). Callers pass only
  * ORDER-INDEPENDENT work and get the thunks' values back, in order.
  */
object Overlap {
  private val threads = new AtomicInteger()

  /** Daemon threads made on demand and dropped after a minute idle: the
    * thunks block on Spark actions, and a thunk that overlaps work of
    * its own (a store rebuild) gets new threads instead of waiting on
    * busy ones.
    */
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, s"graft-overlap-${threads.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  /** Runs every thunk concurrently and returns their values in `work`'s
    * order. Every thunk has finished before anything is returned or
    * thrown, so no sibling is left in flight when a caller reacts to a
    * failure; the first failure in sequence order is rethrown.
    */
  def all[T](work: Seq[() => T]): Seq[T] =
    pool.invokeAll(work.map(w => (() => w()): Callable[T]).asJava)
      .asScala.toSeq
      .map(f => try f.get() catch { case e: ExecutionException => throw e.getCause })

  def apply[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all[Any](Seq(() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  def apply[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val Seq(x, y, z) = all[Any](Seq(() => a, () => b, () => c))
    (x.asInstanceOf[A], y.asInstanceOf[B], z.asInstanceOf[C])
  }
}
