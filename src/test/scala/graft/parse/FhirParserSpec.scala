package graft.parse

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden-fixture parser tests. The bundle below reproduces the
  * documented CoverageEligibilityResponse shape (FIXTURES.md §3:
  * outcome=complete, siteEligibility=eligible, approval-limit 1000 /
  * copay-maximum 100 SAR) — authored here, not copied.
  */
class FhirParserSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  val goldenBundle: String =
    """{
      |  "status": "success",
      |  "response": {
      |    "entry": [
      |      {"resource": {"resourceType": "Patient", "outcome": null}},
      |      {"resource": {
      |        "resourceType": "CoverageEligibilityResponse",
      |        "outcome": "complete",
      |        "disposition": "Patient is eligible for benefits",
      |        "extension": [
      |          {"url": "http://example.org/other", "valueCodeableConcept": {"coding": [{"code": "x"}]}},
      |          {"url": "http://example.org/extension-siteEligibility",
      |           "valueCodeableConcept": {"coding": [{"code": "eligible", "display": "Eligible"}]}}
      |        ],
      |        "insurance": [
      |          {"inforce": true,
      |           "item": [
      |             {"name": "Approval limit",
      |              "benefit": [
      |                {"type": {"coding": [{"code": "approval-limit"}]},
      |                 "allowedMoney": {"value": 1000, "currency": "SAR"}},
      |                {"type": {"coding": [{"code": "copay-maximum"}]},
      |                 "allowedMoney": {"value": 100, "currency": "SAR"}}
      |              ]}
      |           ]}
      |        ]
      |      }}
      |    ]
      |  }
      |}""".stripMargin

  val errorBundle: String =
    """{"status": "error", "message": "connection timed out", "response": null}""".stripMargin

  val errorCodedBundle: String =
    """{
      |  "status": "success",
      |  "response": {
      |    "entry": [
      |      {"resource": {
      |        "resourceType": "CoverageEligibilityResponse",
      |        "outcome": "error",
      |        "error": [{"code": {"coding": [{"code": "GW-001", "display": "Payer gateway unavailable"}]}}]
      |      }}
      |    ]
      |  }
      |}""".stripMargin

  private def df = Seq(
    (1L, goldenBundle, "https://api.payer.example/gateway"),
    (2L, errorBundle, "https://api.payer.example/gateway"),
    (3L, errorCodedBundle, "https://api.payer.example/gateway"),
    (4L, goldenBundle, "https://tawuniya.example/gateway"),
    (5L, "not json at all {", "https://api.payer.example/gateway")
  ).toDF("visit_id", "raw", "payer_url")

  test("outcome: Complete / ERROR / initcap / Null") {
    val out = df.select($"visit_id", FhirParser.outcome(FhirParser.parsed($"raw")).as("outcome"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "Complete")
    assert(out(2L) == "ERROR")
    assert(out(3L) == "Error")
    assert(out(5L) == "Null")
  }

  test("siteEligibility code extracted from the right extension") {
    val out = df.select($"visit_id", FhirParser.siteEligibility(FhirParser.parsed($"raw")).as("cls"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L).contains("eligible"))
    assert(out(5L).isEmpty)
  }

  test("note: disposition, else error coding, else transport message") {
    val out = df.select($"visit_id", FhirParser.note(FhirParser.parsed($"raw")).as("note"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out(1L).contains("Patient is eligible for benefits"))
    assert(out(3L).contains("GW-001: Payer gateway unavailable"))
    assert(out(2L).contains("connection timed out"))
  }

  test("money extraction: structured, named-item, and recursive paths agree on the golden bundle") {
    val out = df.select($"visit_id",
        FhirParser.approvalLimit($"raw", $"payer_url").as("approval"),
        FhirParser.copayMaximum($"raw", $"payer_url").as("copay"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L) == (Some(1000.0), Some(100.0)), "structured benefit-type path")
    assert(out(4L) == (Some(1000.0), Some(100.0)), "tawuniya recursive json_find_numbers path")
    assert(out(5L) == (None, None), "malformed bundle yields nulls, not failure")
  }

  // Robustness variants (reference src/eligibility.py:409-544 handles
  // each of these without raising): multiple entries with several
  // resource types, a bundle whose entries carry no
  // CoverageEligibilityResponse at all, and a payer URL the dispatch
  // table doesn't know.
  val multiEntryBundle: String =
    """{
      |  "status": "success",
      |  "response": {
      |    "entry": [
      |      {"resource": {"resourceType": "OperationOutcome"}},
      |      {"resource": {"resourceType": "Patient"}},
      |      {"resource": {
      |        "resourceType": "CoverageEligibilityResponse",
      |        "outcome": "complete",
      |        "disposition": "first response wins",
      |        "insurance": [
      |          {"inforce": true, "item": [
      |            {"name": "Approval limit", "benefit": [
      |              {"type": {"coding": [{"code": "approval-limit"}]},
      |               "allowedMoney": {"value": 500, "currency": "SAR"}}
      |            ]}
      |          ]}
      |        ]
      |      }},
      |      {"resource": {
      |        "resourceType": "CoverageEligibilityResponse",
      |        "outcome": "error",
      |        "disposition": "duplicate response entry"
      |      }}
      |    ]
      |  }
      |}""".stripMargin

  val noResponseEntryBundle: String =
    """{
      |  "status": "success",
      |  "response": {
      |    "entry": [
      |      {"resource": {"resourceType": "OperationOutcome"}},
      |      {"resource": {"resourceType": "Patient"}}
      |    ]
      |  }
      |}""".stripMargin

  test("multi-entry bundle: first CoverageEligibilityResponse wins among mixed resources") {
    val d = Seq((1L, multiEntryBundle, "https://api.payer.example/gateway")).toDF("visit_id", "raw", "payer_url")
    val r = d.select(
      FhirParser.outcome(FhirParser.parsed($"raw")).as("outcome"),
      FhirParser.note(FhirParser.parsed($"raw")).as("note"),
      FhirParser.approvalLimit($"raw", $"payer_url").as("approval")).head()
    assert(r.getString(0) == "Complete")
    assert(r.getString(1) == "first response wins")
    assert(r.getDouble(2) == 500.0)
  }

  test("bundle with entries but no CoverageEligibilityResponse: all nulls/Null, no failure") {
    val d = Seq((1L, noResponseEntryBundle, "https://api.payer.example/gateway")).toDF("visit_id", "raw", "payer_url")
    val r = d.select(
      FhirParser.outcome(FhirParser.parsed($"raw")).as("outcome"),
      FhirParser.siteEligibility(FhirParser.parsed($"raw")).as("cls"),
      FhirParser.note(FhirParser.parsed($"raw")).as("note"),
      FhirParser.approvalLimit($"raw", $"payer_url").as("approval")).head()
    assert(r.getString(0) == "Null", "no response resource → outcome Null")
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("unknown payer URL falls back to the structured path; mismatched shape yields null not error") {
    val d = Seq(
      (1L, goldenBundle, "https://unknown-payer.example/api"),
      // bupa dispatch against a bundle whose items are NOT named "Approval limit"
      (2L, multiEntryBundle.replace("Approval limit", "Limit of approval"), "https://bupa.example/api")
    ).toDF("visit_id", "raw", "payer_url")
    val out = d.select($"visit_id", FhirParser.approvalLimit($"raw", $"payer_url").as("approval"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) == Some(1000.0), "unknown payer uses the generic structured extraction")
    assert(out(2L).isEmpty, "named-item miss is a null value, never an exception")
  }

  test("a truncated or mistyped bundle reads as the error values as a whole, not as its parsed prefix") {
    // Spark's partial JSON results keep what parsed before the break:
    // the first read outcome "ERROR", the third "Complete"/"eligible"
    // with copay 100 and no approval limit, and the fourth the SECOND
    // insurance's approval limit (1000) because the first one's
    // benefits are unreadable.
    val cases = Seq(
      """{"status":"error","response":{"entry":""",
      goldenBundle.take(goldenBundle.indexOf("\"insurance\"")),
      goldenBundle.replace("\"value\": 1000", "\"value\": \"1000 SAR\""),
      goldenBundle.replace("\"insurance\": [",
        "\"insurance\": [{\"inforce\": true, \"item\": [{\"name\": \"Approval limit\", \"benefit\": false}]},"))
    val beneficiary = """{"response": {"ApiStatus": "Success", "Insurance": [{"Name": "ACME"}"""
    val b = FhirParser.parsed($"raw")
    val got = cases.map(c => (c, beneficiary)).toDF("raw", "ben")
      .select(FhirParser.outcome(b), FhirParser.siteEligibility(b), FhirParser.note(b),
        FhirParser.approvalLimit($"raw", lit("structured")), FhirParser.copayMaximum($"raw", lit("structured")),
        FhirParser.apiStatus($"ben"), FhirParser.insuranceData($"ben"))
      .collect().toSeq
    val errorValues = org.apache.spark.sql.Row("Null", null, null, null, null, "Fail", null)
    assert(got.forall(_ == errorValues), cases.zip(got).filter(_._2 != errorValues).mkString("\n"))
  }

  test("a string field keeps any JSON value as its text (Spark's string conversion)") {
    // Not an error value: a payer sending an object where a string
    // belongs leaks its JSON text into `note`. Pinned so a fix is a
    // deliberate change.
    val d = Seq("""{"status": "success", "message": {"code": 7}, "response": {"entry": []}}""").toDF("raw")
    assert(d.select(FhirParser.note(FhirParser.parsed($"raw"))).head().getString(0) == """{"code":7}""")
  }

  test("beneficiary insurance extraction (C8)") {
    val ben = Seq(
      (1L, """{"response": {"ApiStatus": "Success", "Insurance": [{"Name": "ACME", "IdentityNumber": "123"}]}}"""),
      (2L, """{"response": {"ApiStatus": "Fail", "Insurance": []}}"""),
      (3L, """garbage""")
    ).toDF("k", "raw")
    val out = ben.select($"k", FhirParser.apiStatus($"raw").as("st"), FhirParser.insuranceData($"raw").as("ins"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)))).toMap
    assert(out(1L)._1 == "Success" && out(1L)._2.nonEmpty)
    assert(out(2L)._1 == "Fail" && out(2L)._2.isEmpty)
    assert(out(3L)._1 == "Fail")
  }

  test("json_find_numbers doGenCode compiles and runs with codegen fallback disabled") {
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = Seq("""{"a":{"allowedMoney":{"value":7}},"b":{"allowedMoney":{"value":9.5}}}""").toDF("j")
        .select(JsonFindNumbers.of($"j", "allowedMoney", "value")).as[Seq[Double]].collect()
      assert(out.head == Seq(7.0, 9.5))
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("json_find_numbers: document order, depth-independence, malformed safety") {
    val j = Seq(
      ("""{"a": {"allowedMoney": {"value": 7, "currency": "SAR"}}, "b": [{"allowedMoney": {"value": 9.5}}]}""", 1L),
      ("""{"allowedMoney": {"nested": {"value": 1}, "value": 3}}""", 2L),
      ("""{"x": 1}""", 3L),
      ("""{"broken": """, 4L)
    ).toDF("raw", "k")
    val out = j.select($"k", JsonFindNumbers.of($"raw", "allowedMoney", "value").as("vals"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(out(1L).contains(Seq(7.0, 9.5)))
    assert(out(2L).contains(Seq(3.0)), "nested object inside target does not leak its fields")
    assert(out(3L).contains(Seq.empty))
    assert(out(4L).isEmpty, "malformed json → null")
  }

  test("json_find_numbers: a target nested inside another target opens its own scope") {
    // The reference's recursive find_keys finds BOTH occurrences; a
    // depth counter found only the outer one.
    val j = Seq(
      ("""{"allowedMoney": {"value": 1, "allowedMoney": {"value": 2}}}""", 1L),
      ("""{"allowedMoney": {"allowedMoney": {"value": 5}}}""", 2L)
    ).toDF("raw", "k")
    val out = j.select($"k", JsonFindNumbers.of($"raw", "allowedMoney", "value").as("vals"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) == Seq(1.0, 2.0), s"both scopes must collect: ${out(1L)}")
    assert(out(2L) == Seq(5.0), s"inner-only value found: ${out(2L)}")
  }

  test("json_find_numbers: wrong-typed argument fails at ANALYSIS, not executor-side") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1L, 2L)).toDF("a", "b")
        .select(org.apache.spark.sql.functions.call_function(
          JsonFindNumbers.fnName, $"a", org.apache.spark.sql.functions.array($"b"),
          org.apache.spark.sql.functions.lit("v")))
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("type") || e.getMessage.contains("DATATYPE"),
      s"want a type error at analysis: ${e.getMessage.take(200)}")
  }

  test("benefit lookup survives insurance entries without item/benefit (flatten null-poison)") {
    // One inforce=false entry WITHOUT `item` next to the real entry:
    // Spark's flatten returns NULL if any element is null, which used
    // to nullify the whole lookup despite the benefit being present.
    val bundle =
      """{"status": "success", "response": {"entry": [{"resource": {
        |  "resourceType": "CoverageEligibilityResponse",
        |  "insurance": [
        |    {"inforce": false},
        |    {"inforce": true, "item": [
        |      {"name": "Approval limit",
        |       "benefit": [{"type": {"coding": [{"code": "approval-limit"}]},
        |                    "allowedMoney": {"value": 777.0}}]},
        |      {"name": "No benefits here"}
        |    ]}
        |  ]}}]}}""".stripMargin
    val df = Seq((bundle, 1L)).toDF("response", "k")
    val v = df.select(
        FhirParser.approvalLimit($"response", org.apache.spark.sql.functions.lit("structured")).as("al"))
      .collect().head
    assert(!v.isNullAt(0) && v.getDouble(0) == 777.0,
      s"null items must not poison the benefit lookup: $v")
  }
}
