package graft.parse

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Repair + validation of LLM JSON output — pure Scala, used inside the
  * enrichment operators (never on the driver). Re-expresses the
  * reference's 5-strategy extraction ladder
  * (src/predictions.py:133-198 `clean_llm_json`, and
  * src/predictions_openrouter.py:217-292 `extract_json_from_response`):
  *   1. direct parse,
  *   2. fenced ```json block,
  *   3. first balanced {...} substring (string-aware brace matching),
  *   4. regex uid-pair scraping (numeric 5+-digit ids, 10+-char reasons
  *      — the reference's own fallback constraints),
  *   5. empty map.
  * Plus the validators: comma-joined keys are split
  * (src/predictions.py:168-178 `validate_keys`) and entries whose reason
  * claims approval are dropped (src/predictions.py:179-191
  * `validate_outcome`).
  */
object LlmJsonRepair {

  private val mapper = new ObjectMapper()

  // Compiled once — this runs per LLM response inside the enrich
  // mapPartitions; compiling it per call was a measurable slice of the
  // fan-out stage's CPU (r12 OPT, guide §1.2 per-task work).
  private val fencedRegex: Regex = "(?s)```(?:json)?\\s*(.*?)\\s*```".r

  /** Strip markdown code fences (``` or ```json). */
  def cleanFences(s: String): String = {
    val t = s.trim
    fencedRegex.findFirstMatchIn(t).map(_.group(1)).getOrElse(t)
  }

  private def tryParse(s: String): Option[JsonNode] =
    try {
      val n = mapper.readTree(s)
      if (n != null && n.isObject) Some(n) else None
    } catch { case _: Exception => None }

  /** First balanced top-level {...} substring, respecting quoted strings
    * and escapes.
    */
  def firstBalancedObject(s: String): Option[String] = {
    val start = s.indexOf('{')
    if (start < 0) return None
    var depth = 0
    var inString = false
    var escaped = false
    var i = start
    while (i < s.length) {
      val c = s.charAt(i)
      if (inString) {
        if (escaped) escaped = false
        else if (c == '\\') escaped = true
        else if (c == '"') inString = false
      } else c match {
        case '"' => inString = true
        case '{' => depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0) return Some(s.substring(start, i + 1))
        case _ =>
      }
      i += 1
    }
    None
  }

  // BYTE-FOR-BYTE the reference's strategy-4 regex
  // (src/predictions_openrouter.py:275-281): only NUMERIC ids of 5+
  // digits with reasons of 10+ chars are rescued. The uid constraint
  // is load-bearing, not cosmetic — a prose/refusal response that
  // happens to contain a quoted pair (the model echoing schema text:
  // `"analysis": "the visit looks fine"`) must NOT count as a parse:
  // its non-uid keys would silently vanish in the downstream uid
  // try_cast join-back and every claim on the visit would default to
  // Approved with no retry, the exact failure mode the strict contract
  // exists to close. Keys/values may be unquoted (truncated output).
  // The value class [^,}\n"'] is kept verbatim too, apostrophe
  // exclusion included: a reason whose first 10 chars contain ' or ,
  // ("doesn't meet criteria") fails this pair exactly as it does in
  // the reference — matching its rescue set, not improving on it, is
  // the contract (a wider class would "rescue" pairs the reference
  // sends down its all-approved path and diverge from the oracle).
  private val pairRegex: Regex = """"?(\d{5,})"?\s*:\s*["{]?\s*([^,}\n"']{10,})""".r

  /** Scrape uid-shaped `id: "reason"` pairs as a last-resort flat
    * object — numeric 5+-digit keys with 10+-char reasons only.
    */
  def scrapePairs(s: String): Map[String, String] =
    pairRegex.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).trim).toMap

  /** The 5-strategy ladder, distinguishing PARSE FAILURE from a
    * legitimately empty object. `field` selects a nested object to
    * return (e.g. "Rejected" or "Justifications"); empty field = whole
    * object.
    *
    * Returns None only when NO strategy found JSON (direct, de-fenced,
    * balanced-substring all fail to parse) AND pair-scraping found
    * nothing — the analogue of the reference's JSONDecodeError
    * (src/predictions.py:276-288), which marks the visit failed and
    * retries it. Some(empty) is different: the response parsed and the
    * map is genuinely empty ("LLM approved everything"), or `field` is
    * absent from the parsed object.
    */
  def extractOpt(raw: String, field: String = ""): Option[Map[String, String]] = {
    if (raw == null) return None
    val candidates: LazyList[Option[JsonNode]] = LazyList(
      tryParse(raw),
      tryParse(cleanFences(raw)),
      firstBalancedObject(raw).flatMap(tryParse))
    candidates.flatten.headOption match {
      case Some(n0) =>
        val n = if (field.nonEmpty && n0.has(field) && n0.get(field).isObject) n0.get(field) else n0
        Some(n.properties().asScala.collect {
          case e if e.getValue.isValueNode => e.getKey -> e.getValue.asText()
        }.toMap)
      case None =>
        val scraped = scrapePairs(raw)
        if (scraped.nonEmpty) Some(scraped) else None
    }
  }

  /** [[extractOpt]] collapsed to a bare map (parse failure = empty) —
    * for callers that don't route parse failures anywhere.
    */
  def extract(raw: String, field: String = ""): Map[String, String] =
    extractOpt(raw, field).getOrElse(Map.empty)

  /** Split comma-joined keys: {"123,456": r} → {"123": r, "456": r}. */
  def validateKeys(m: Map[String, String]): Map[String, String] =
    m.flatMap { case (k, v) => k.split(",").map(_.trim).filter(_.nonEmpty).map(_ -> v) }

  /** Drop entries whose reason says the service is approved. */
  def validateOutcome(m: Map[String, String]): Map[String, String] =
    m.filterNot { case (_, v) => v != null && v.toLowerCase.contains("approved") }

  /** Full pipeline with parse failure as a value: extract → split keys
    * → outcome filter, None when nothing parsed (LlmFanout retries the
    * visit, then marks it terminal — the reference's JSONDecodeError
    * contract).
    */
  def repairStrict(raw: String, field: String = ""): Option[Map[String, String]] =
    extractOpt(raw, field).map(m => validateOutcome(validateKeys(m)))

  /** Full pipeline: extract → split keys → outcome filter. */
  def repair(raw: String, field: String = ""): Map[String, String] =
    repairStrict(raw, field).getOrElse(Map.empty)
}
