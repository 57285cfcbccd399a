package graft.util

import java.lang.reflect.InvocationTargetException
import java.util.concurrent.TimeoutException

import org.apache.spark.sql.SparkSession

/** Drain Spark's async listener bus — used by metrics-attribution
  * tooling (the perfbench span tracer) that reads listener-fed
  * aggregates right after a job: stage-completed events post
  * asynchronously, so reading without a drain under-attributes
  * GC/spill on a loaded box (a fixed sleep is a race, not a fix).
  *
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]` but JVM-public
  * (Scala package-private compiles to a public method), so it is
  * reached reflectively. The result is THREE-state, because the two
  * failure modes need opposite handling: a drain TIMEOUT (bus found
  * but still posting after `timeoutMs` — the loaded-box case this
  * utility exists for) means the caller already blocked the full
  * timeout and a further sleep is pointless, only the attribution
  * caveat should be surfaced; an API MOVE (reflection failed) means
  * nothing waited at all and the bounded-sleep fallback is the only
  * option. Conflating them — as the original boolean did — silently
  * reproduced the under-attribution bug in exactly the scenario that
  * motivated the drain.
  */
object ListenerDrain {

  sealed trait Result
  /** The bus emptied — listener-fed aggregates are complete. */
  case object Drained extends Result
  /** The bus was reached but did not empty within the timeout: the
    * caller has already waited `timeoutMs`; sleep again won't help,
    * but attribution may be incomplete.
    */
  final case class TimedOut(timeoutMs: Long) extends Result
  /** Reflection failed (the private API moved): nothing waited —
    * fall back to a bounded sleep.
    */
  final case class Unreachable(detail: String) extends Result

  def drainDetailed(spark: SparkSession, timeoutMs: Long = 10000L): Result =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(timeoutMs))
      Drained
    } catch {
      // waitUntilEmpty throws TimeoutException on a non-empty bus;
      // reflective invoke wraps it — unwrap before classifying, or a
      // loaded box masquerades as an API move.
      case ite: InvocationTargetException => ite.getCause match {
        case _: TimeoutException => TimedOut(timeoutMs)
        case other => Unreachable(String.valueOf(other))
      }
      case e: Exception => Unreachable(e.toString)
    }

  /** Boolean convenience: true iff the bus drained. Prefer
    * [[drainDetailed]] where the caller's fallback differs between a
    * timeout and a reflection failure.
    */
  def drain(spark: SparkSession, timeoutMs: Long = 10000L): Boolean =
    drainDetailed(spark, timeoutMs) == Drained
}
