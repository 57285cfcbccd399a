package graft.registry

import graft.parse.FhirParser
import graft.tables.TestTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Registry: JSON payload construction (B22) and FHIR parsing (C3/C7)
  * as oracle-checked queries. FHIR bundles are synthesized per-row from
  * order columns, pushed through the real parser (from_json + higher-
  * order functions + the json_find_numbers custom expression), and the
  * oracle computes the same values straight from the source columns —
  * so a parser regression breaks the hash.
  */
object QueriesParse {

  private def bundleCol = format_string(
    """{"status":"%s","response":{"entry":[{"resource":{"resourceType":"CoverageEligibilityResponse","outcome":"%s","disposition":"note for visit %s","extension":[{"url":"http://x/extension-siteEligibility","valueCodeableConcept":{"coding":[{"code":"%s"}]}}],"insurance":[{"item":[{"name":"Approval limit","benefit":[{"type":{"coding":[{"code":"approval-limit"}]},"allowedMoney":{"value":%s,"currency":"SAR"}},{"type":{"coding":[{"code":"copay-maximum"}]},"allowedMoney":{"value":%s,"currency":"SAR"}}]}]}]}}]}}""",
    lit("success"),
    when(col("o_orderstatus") === "O", "complete").otherwise("queued"),
    col("o_orderkey"),
    when(col("o_orderkey") % 2 === 0, "eligible").otherwise("not-active"),
    (col("o_orderkey") % 5000).cast("string"),
    (col("o_orderkey") % 100).cast("string"))

  private def payerUrl =
    when(col("o_orderkey") % 3 === 0, "https://tawuniya.example/gw")
      .when(col("o_orderkey") % 3 === 1, "https://bupa.example/gw")
      .otherwise("https://other.example/gw")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C3 + C7: full parser over synthesized bundles, all payer paths.
    "q_c3_fhir_extract" -> ((s, dir) => {
      val b = FhirParser.parsed(col("raw"))
      TestTables.orders(s, dir)
        .select(col("o_orderkey").as("visit_id"), bundleCol.as("raw"), payerUrl.as("payer_url"))
        .select(
          col("visit_id"),
          FhirParser.outcome(b).as("outcome"),
          FhirParser.siteEligibility(b).as("class"),
          FhirParser.note(b).as("note"),
          FhirParser.approvalLimit(col("raw"), col("payer_url")).as("approval_limit"),
          FhirParser.copayMaximum(col("raw"), col("payer_url")).as("copay_maximum"))
        .orderBy(col("visit_id"))
    }),

    // B22: JSON payload constructor round-trip — build the request with
    // to_json(struct(...)), parse it back, emit the parsed fields.
    "q_b22_payload_roundtrip" -> ((s, dir) => {
      val o = TestTables.orders(s, dir)
      val payload = to_json(struct(
        lit("benefits").as("purpose"),
        col("o_custkey").as("patient_id"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("serviced_period_start"),
        concat_ws(" ", lit("pat"), col("o_orderkey").cast("string")).as("patient_name"),
        filter(array(lit("a"), lit(null).cast("string"), lit("b")), x => x.isNotNull).as("given_names")))
      val schema = StructType(Seq(
        StructField("purpose", StringType),
        StructField("patient_id", LongType),
        StructField("serviced_period_start", StringType),
        StructField("patient_name", StringType),
        StructField("given_names", ArrayType(StringType))))
      o.select(col("o_orderkey"), from_json(payload, schema).as("p"))
        .select(col("o_orderkey"),
          col("p.purpose").as("purpose"),
          col("p.patient_id").as("patient_id"),
          col("p.serviced_period_start").as("serviced_period_start"),
          col("p.patient_name").as("patient_name"),
          array_join(col("p.given_names"), "|").as("given_names"))
        .orderBy(col("o_orderkey"))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_c3_fhir_extract" ->
      """SELECT o_orderkey AS visit_id,
        |  CASE WHEN o_orderstatus = 'O' THEN 'Complete' ELSE 'Queued' END AS outcome,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 'eligible' ELSE 'not-active' END AS class,
        |  'note for visit ' || CAST(o_orderkey AS VARCHAR) AS note,
        |  CAST(o_orderkey % 5000 AS DOUBLE) AS approval_limit,
        |  CAST(o_orderkey % 100 AS DOUBLE) AS copay_maximum
        |FROM orders ORDER BY visit_id""".stripMargin,

    "q_b22_payload_roundtrip" ->
      """SELECT o_orderkey,
        |  'benefits' AS purpose,
        |  o_custkey AS patient_id,
        |  strftime(o_orderdate, '%Y-%m-%d') AS serviced_period_start,
        |  'pat ' || CAST(o_orderkey AS VARCHAR) AS patient_name,
        |  'a|b' AS given_names
        |FROM orders ORDER BY o_orderkey""".stripMargin,
  )
}
