package graft.enrich

/** Boundary for per-row/per-group side-effecting calls (HTTP gateway,
  * LLM). Implementations live inside mapPartitions on executors, so
  * they must be Serializable and cheap to construct.
  *
  * Threading contract ([[EnrichOperator]]'s call window): the stage's
  * `makeClient` runs on the task thread, once per window slot; `call`
  * and `lastUsage` run on a pool thread, one call at a time per
  * instance, so per-instance state needs no lock. `TaskContext.get()`
  * is null on the pool threads: a client that needs the task context
  * (partition id, attempt number) must read it in its constructor.
  *
  * `Left` is a transport error (retryable); a payer-level rejection is a
  * `Right` whose body says so — errors are values, never exceptions
  * (reference src/eligibility.py:405-406).
  */
trait ServiceClient extends Serializable {
  /** One call: payload in, body or transport-error out. */
  def call(payload: String): Either[String, String]

  /** Tokens consumed by the last call (prompt, completion) — 0 for
    * non-LLM clients. Used by the cost accumulators (C10).
    */
  def lastUsage: (Long, Long) = (0L, 0L)
}

/** Deterministic mock of the Beneficiary (insurance-card) lookup
  * gateway (C1). Payload = iqama key. Keys divisible by `transientEvery`
  * fail on the first attempt and succeed on retry — exercising the
  * retry path without making the final output nondeterministic.
  */
class MockBeneficiaryClient(transientEvery: Int = 7) extends ServiceClient {
  // Per-payload attempt counter, used only to make the FIRST attempt of
  // selected keys fail. Grows with distinct payloads seen by this
  // (per-slot) instance — fine for a mock over a bounded test
  // batch, but a real client must NOT copy this shape: track only
  // in-flight attempts (or an LRU), or the map leaks across a long run.
  private val attempts = scala.collection.mutable.Map.empty[String, Int]
  override def call(payload: String): Either[String, String] = {
    val n = attempts.getOrElse(payload, 0) + 1
    attempts(payload) = n
    val key = payload.trim.toLongOption.getOrElse(0L)
    if (transientEvery > 0 && key % transientEvery == 0 && n == 1)
      Left("transient: connection reset")
    else if (key % 13 == 0)
      Right(s"""{"response": {"ApiStatus": "Fail", "Insurance": []}}""")
    else
      Right(s"""{"response": {"ApiStatus": "Success", "Insurance": [{"Name": "INS-${key % 5}", "IdentityNumber": "$key", "PolicyNo": "POL-${key % 97}"}]}}""")
  }
}

/** Deterministic mock of the NPHIES eligibility submit endpoint (C2).
  * Payload = visit id. Every 11th visit gets a transport error that
  * never recovers — the error string must flow through as a value row.
  */
class MockEligibilityClient extends ServiceClient {
  override def call(payload: String): Either[String, String] = {
    val visit = payload.trim.toLongOption.getOrElse(0L)
    if (visit % 11 == 0) Left("gateway timeout after 10s")
    else {
      val site = if (visit % 2 == 0) "eligible" else "not-active"
      Right(
        s"""{"status":"success","response":{"entry":[{"resource":{"resourceType":"CoverageEligibilityResponse","outcome":"complete","disposition":"note for visit $visit","extension":[{"url":"http://x/extension-siteEligibility","valueCodeableConcept":{"coding":[{"code":"$site"}]}}],"insurance":[{"item":[{"name":"Approval limit","benefit":[{"type":{"coding":[{"code":"approval-limit"}]},"allowedMoney":{"value":${visit % 5000},"currency":"SAR"}},{"type":{"coding":[{"code":"copay-maximum"}]},"allowedMoney":{"value":${visit % 100},"currency":"SAR"}}]}]}]}}]}}""")
    }
  }
}

/** Deterministic mock LLM for justifications (C5): answers every uid
  * with a justification text; visits divisible by 97 fail terminally.
  */
class MockJustifyClient extends ServiceClient {
  override def call(payload: String): Either[String, String] = {
    val parts = payload.split('|')
    val visit = parts(0).toLongOption.getOrElse(0L)
    val uids = if (parts.length > 1 && parts(1).nonEmpty) parts(1).split(',').toSeq else Seq.empty
    if (visit % 97 == 0) Left("llm request timed out")
    else {
      val body = uids.distinct
        .map(u => s""""$u": "clinical justification for service $u"""")
        .mkString("{\"Justifications\": {", ", ", "}}")
      Right(body)
    }
  }
}

/** Deterministic mock LLM (C4/C5). Payload = "visitId|uid,uid,uid,…".
  * Rejects services whose uid % 5 == 0; answers in a messy but
  * repairable shape that cycles by visit id, exercising every
  * LlmJsonRepair strategy. Visits divisible by 97 never succeed
  * (terminal failure → LlmFanout.terminalMarker downstream).
  */
class MockLlmClient extends ServiceClient {
  private var usage: (Long, Long) = (0L, 0L)
  override def lastUsage: (Long, Long) = usage
  override def call(payload: String): Either[String, String] = {
    val parts = payload.split('|')
    val visit = parts(0).toLongOption.getOrElse(0L)
    val uids = if (parts.length > 1 && parts(1).nonEmpty) parts(1).split(',').toSeq else Seq.empty
    usage = (payload.length.toLong, 64L)
    if (visit % 97 == 0) Left("llm request timed out")
    else {
      val rejected = uids.filter(u => u.toLongOption.exists(_ % 5 == 0))
      val body = rejected.map(u => s""""$u": "service $u is a duplicate order"""").mkString("{\"Rejected\": {", ", ", "}}")
      visit % 3 match {
        case 0 => Right(body)
        case 1 => Right(s"```json\n$body\n```")
        case _ => Right(s"The assessment follows. $body Thank you.")
      }
    }
  }
}
