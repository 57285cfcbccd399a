package perfbench

import java.util.concurrent.locks.LockSupport

import graft.enrich.ServiceClient
import org.apache.spark.util.LongAccumulator

/** Stands in for an external service's latency: every call waits a
  * fixed `baseMicros`, plus `perUidMicros` for each uid of an LLM
  * payload ("visit|uid,uid,..."), then answers with `inner`. The wait is
  * deterministic (parked to a deadline, not a random draw) and measured
  * into `waitNs`.
  */
final class DelayedClient(inner: ServiceClient, baseMicros: Long, perUidMicros: Long,
                          waitNs: LongAccumulator) extends ServiceClient {

  override def call(payload: String): Either[String, String] = {
    val t0 = System.nanoTime()
    val deadline = t0 + (baseMicros + perUidMicros * DelayedClient.uids(payload)) * 1000L
    var now = t0
    while (now < deadline) {
      LockSupport.parkNanos(deadline - now)
      now = System.nanoTime()
    }
    waitNs.add(now - t0)
    inner.call(payload)
  }

  override def lastUsage: (Long, Long) = inner.lastUsage
}

object DelayedClient {
  /** Number of uids in a "visit|uid,uid,..." payload (0 without a '|'). */
  def uids(payload: String): Int = {
    val bar = payload.indexOf('|')
    if (bar < 0 || bar == payload.length - 1) 0
    else 1 + payload.count(_ == ',')
  }
}
