package graft.util

import java.util.concurrent.ConcurrentLinkedQueue

/** Two independent driver-side actions run at once, so their Spark
  * jobs share the cluster instead of queueing behind each other.
  */
private[graft] object Concurrent {

  /** Run `a` on a daemon thread started here and `b` on the caller's
    * thread, wait for both, and return both results.
    *
    * The thread is created at call time, so it inherits the caller's
    * SparkContext local properties (job group, description, scheduler
    * pool) and active session: `a`'s jobs are attributed, and
    * cancelled, with the caller's. A pooled thread would keep the
    * properties of whichever thread created it.
    *
    * Both sides always finish before this returns or throws. The first
    * failure is rethrown as it was thrown, with any later one added as
    * suppressed.
    */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    def attempt[T](f: => T): Option[T] =
      try Some(f) catch { case e: Throwable => failures.add(e); None }
    var ra: Option[A] = None
    val t = new Thread(() => ra = attempt(a), "graft-concurrent")
    t.setDaemon(true)
    t.start()
    val rb = attempt(b)
    var interrupted = false
    while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    failures.poll() match {
      case null => (ra.get, rb.get)
      case first => failures.forEach(first.addSuppressed(_)); throw first
    }
  }
}
