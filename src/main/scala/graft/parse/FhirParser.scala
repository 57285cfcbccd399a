package graft.parse

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** FHIR CoverageEligibilityResponse parsing re-expressed with
  * `from_json` + higher-order functions (reference
  * src/eligibility.py:409-544 `extract_outcome`/`extract_code`/
  * `extract_note`, and the structured benefit-type money extraction of
  * src/lch_eligibility.py:207-244). Everything here is a pure Column
  * program: it stays inside Catalyst, vectorizes, and never leaves the
  * executor — no UDF, no driver loop, no re-parse per field: write each
  * field over its own `parsed(raw)`, and GraftExtensions.ParseOnce binds
  * the identical parses of one projection to a single one per row.
  *
  * The payer-variable parts of the bundle are intentionally NOT in the
  * schema; the raw string is kept and `JsonFindNumbers` (custom
  * expression) or get_json_object handles payer-specific drift
  * (SURVEY.md §7.5.5: parse permissively, never fail a batch on one
  * malformed bundle).
  */
object FhirParser {

  val codingType: ArrayType = ArrayType(StructType(Seq(
    StructField("code", StringType),
    StructField("display", StringType),
    StructField("system", StringType))))

  val benefitType: StructType = StructType(Seq(
    StructField("type", StructType(Seq(StructField("coding", codingType)))),
    StructField("allowedMoney", StructType(Seq(
      StructField("value", DoubleType),
      StructField("currency", StringType))))))

  private val extensionType = ArrayType(StructType(Seq(
    StructField("url", StringType),
    StructField("valueCodeableConcept", StructType(Seq(StructField("coding", codingType)))))))

  private val errorType = ArrayType(StructType(Seq(
    StructField("code", StructType(Seq(StructField("coding", codingType)))))))

  private val itemType = ArrayType(StructType(Seq(
    StructField("name", StringType),
    StructField("benefit", ArrayType(benefitType)))))

  private val insuranceType = ArrayType(StructType(Seq(
    StructField("inforce", BooleanType),
    StructField("item", itemType))))

  private val resourceType = StructType(Seq(
    StructField("resourceType", StringType),
    StructField("outcome", StringType),
    StructField("disposition", StringType),
    StructField("extension", extensionType),
    StructField("error", errorType),
    StructField("insurance", insuranceType)))

  val bundleSchema: StructType = StructType(Seq(
    StructField("status", StringType),
    StructField("message", StringType),
    StructField("response", StructType(Seq(
      StructField("entry", ArrayType(StructType(Seq(
        StructField("resource", resourceType))))))))))

  /** Parse the raw bundle string; keep permissive mode so malformed
    * payloads produce nulls (error-as-value), never a failed batch.
    * All array access below is try_element_at, not element_at: under
    * ANSI mode a present-but-empty entry/coding/benefit list would
    * otherwise throw and kill the batch — the reference never fails on
    * a single odd bundle, and neither may we.
    */
  def parsed(raw: Column): Column = wholeOrNull(raw, bundleSchema)

  private val corruptField = "_corrupt_record"

  /** A payload that is not well-formed JSON, or breaks the schema's
    * types, parses to null as a WHOLE. Spark's partial JSON results
    * (spark.sql.json.enablePartialResults) would otherwise keep the
    * fields around the break: a string approval limit read as
    * "Complete"/"eligible" with no limit, an unreadable first benefit
    * list let the next insurance's limit through, a truncated error
    * bundle read as "ERROR" (FhirParserSpec, FhirParserProps). The
    * corrupt-record field is only set on such payloads; both uses are
    * one parse under ParseOnce.
    */
  private def wholeOrNull(raw: Column, schema: StructType): Column = {
    val p = from_json(raw, schema.add(corruptField, StringType), Map("columnNameOfCorruptRecord" -> corruptField))
    when(p.getField(corruptField).isNull, p)
  }

  /** The CoverageEligibilityResponse resource (first matching entry). */
  def responseResource(bundle: Column): Column =
    try_element_at(
      filter(bundle.getField("response").getField("entry"),
        e => e.getField("resource").getField("resourceType") === "CoverageEligibilityResponse"),
      lit(1)).getField("resource")

  /** extract_outcome (src/eligibility.py:409-441): "complete" →
    * "Complete"; transport error status → "ERROR"; absent → "Null".
    */
  def outcome(bundle: Column): Column = {
    val res = responseResource(bundle)
    when(bundle.getField("status") === "error", "ERROR")
      .when(res.getField("outcome") === "complete", "Complete")
      .when(res.getField("outcome").isNotNull, initcap(res.getField("outcome")))
      .otherwise("Null")
  }

  /** extract_code (src/eligibility.py:444-484): the siteEligibility
    * extension's first coding code — e.g. "eligible".
    */
  def siteEligibility(bundle: Column): Column = {
    val ext = try_element_at(
      filter(responseResource(bundle).getField("extension"),
        e => e.getField("url").endsWith("extension-siteEligibility")),
      lit(1))
    try_element_at(ext.getField("valueCodeableConcept").getField("coding"), lit(1)).getField("code")
  }

  /** extract_note (src/eligibility.py:487-544): disposition when present,
    * else first error coding "code: display", else transport message.
    */
  def note(bundle: Column): Column = {
    val res = responseResource(bundle)
    val err = try_element_at(
      try_element_at(res.getField("error"), lit(1)).getField("code").getField("coding"), lit(1))
    coalesce(
      res.getField("disposition"),
      // concat_ws of all-null args is "" (not null) — nullif keeps the
      // coalesce chain falling through to the transport message.
      nullif(concat_ws(": ", err.getField("code"), err.getField("display")), lit("")),
      bundle.getField("message"))
  }

  /** Structured benefit lookup (the lch_eligibility.py:207-244 form):
    * first benefit across all insurance items whose type coding contains
    * `code` → allowedMoney.value. flatten+filter stays a single codegen
    * stage; no explode, no shuffle.
    */
  def benefitValue(bundle: Column, code: String): Column = benefitLookup(bundle, code, None)

  /** [[benefitValue]], optionally over only the items named `itemName`
    * (the Bupa form, src/eligibility.py:595-610).
    */
  private def benefitLookup(bundle: Column, code: String, itemName: Option[String]): Column = {
    // filter-before-flatten is load-bearing: Spark's flatten returns
    // NULL when ANY element is null, so one insurance entry without
    // `item` (or one item without `benefit`) would null-poison the
    // whole lookup even when the benefit is present elsewhere.
    val items = flatten(filter(
      transform(responseResource(bundle).getField("insurance"), i => i.getField("item")),
      x => x.isNotNull))
    val named = itemName.fold(items)(n => filter(items, i => i.getField("name") === n))
    val benefits = flatten(filter(transform(named, i => i.getField("benefit")), x => x.isNotNull))
    try_element_at(
      filter(benefits, b => exists(b.getField("type").getField("coding"), c => c.getField("code") === code)),
      lit(1)).getField("allowedMoney").getField("value")
  }

  /** Payer dispatch (src/eligibility.py:547-610): choose the extraction
    * strategy from the payer URL. Tawuniya's "first two allowedMoney
    * values anywhere in the document" needs the recursive scan —
    * JsonFindNumbers, the custom expression — and reads the
    * `tawuniyaIndex`-th of them.
    */
  private def payerBenefit(raw: Column, payerUrl: Column, code: String, tawuniyaIndex: Int): Column =
    when(payerUrl.contains("tawuniya"),
        try_element_at(JsonFindNumbers.of(raw, "allowedMoney", "value"), lit(tawuniyaIndex)))
      .when(payerUrl.contains("bupa"), benefitLookup(parsed(raw), code, Some("Approval limit")))
      .otherwise(benefitValue(parsed(raw), code))

  def approvalLimit(raw: Column, payerUrl: Column): Column = payerBenefit(raw, payerUrl, "approval-limit", 1)

  def copayMaximum(raw: Column, payerUrl: Column): Column = payerBenefit(raw, payerUrl, "copay-maximum", 2)

  // ---- Beneficiary (Iqama) response shape, src/eligibility.py:179-204 ----

  val beneficiarySchema: StructType = StructType(Seq(
    StructField("response", StructType(Seq(
      StructField("ApiStatus", StringType),
      StructField("Insurance", ArrayType(MapType(StringType, StringType))))))))

  private def beneficiary(raw: Column): Column = wholeOrNull(raw, beneficiarySchema).getField("response")

  /** C8: ApiStatus=="Success" → Insurance[0] (a loose field map),
    * plus an api_status tag column.
    */
  def insuranceData(raw: Column): Column =
    when(beneficiary(raw).getField("ApiStatus") === "Success",
      try_element_at(beneficiary(raw).getField("Insurance"), lit(1)))

  def apiStatus(raw: Column): Column =
    coalesce(beneficiary(raw).getField("ApiStatus"), lit("Fail"))
}
