package graft.parse

import graft.{GraftExtensions, SharedSpark}
import graft.enrich.{MockBeneficiaryClient, MockEligibilityClient}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, GetStructField, JsonToStructs}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions.ParseOnce: the plain one-parse-per-field spelling
  * plans one `from_json` per bundle column. Counts are of expression
  * nodes in the optimized plan, never of `from_json(` substrings: an
  * unaliased column's name embeds its SQL text.
  */
class ParseOnceSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val payers = Seq("https://tawuniya.example/gw", "https://bupa.example/gw", "https://other.example/gw")

  /** Mock eligibility and beneficiary bundles for 60 visits, every
    * third on each payer path, read back from parquet so the optimizer
    * cannot fold the parses into a local relation.
    */
  private lazy val bundles: DataFrame = {
    val dir = graft.util.TempDirs.scratch("parse_once") + "/bundles"
    (1L to 60L).map { v =>
      (v, new MockEligibilityClient().call(v.toString).toOption.orNull, payers((v % 3).toInt),
        new MockBeneficiaryClient(0).call(v.toString).toOption.orNull)
    }.toDF("id", "fhir", "payer_url", "beneficiary").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def parses(df: DataFrame): Seq[JsonToStructs] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))

  /** Parse nodes per input column name. */
  private def perColumn(df: DataFrame): Map[String, Int] =
    parses(df).groupMapReduce(_.child.references.map(_.name).mkString(","))(_ => 1)(_ + _)

  private def fhirFields: Seq[org.apache.spark.sql.Column] = {
    val b = FhirParser.parsed(col("fhir"))
    Seq(FhirParser.outcome(b), FhirParser.siteEligibility(b), FhirParser.note(b),
      FhirParser.approvalLimit(col("fhir"), col("payer_url")),
      FhirParser.copayMaximum(col("fhir"), col("payer_url")))
  }

  test("plain five-field FHIR extraction, all three payer paths: one from_json") {
    val out = bundles.select(col("id") +: fhirFields: _*)
    assert(perColumn(out) == Map("fhir" -> 1), out.queryExecution.optimizedPlan.treeString)
    val got = out.collect().map { r =>
      val money = (i: Int) => Option(r.get(i)).map(_.asInstanceOf[Number].doubleValue)
      r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3), money(4), money(5))
    }.toMap
    assert(got.size == 60)
    got.foreach { case (v, fields) =>
      val want =
        if (v % 11 == 0) ("Null", null, null, None, None)
        else ("Complete", if (v % 2 == 0) "eligible" else "not-active", s"note for visit $v",
          Some((v % 5000).toDouble), Some((v % 100).toDouble))
      assert(fields == want, s"visit $v on ${payers((v % 3).toInt)}")
    }
  }

  test("apiStatus + insuranceData: one from_json, beside the FHIR one") {
    val ben = bundles.select(col("id"), FhirParser.apiStatus(col("beneficiary")),
      FhirParser.insuranceData(col("beneficiary")).getItem("Name"))
    assert(perColumn(ben) == Map("beneficiary" -> 1), ben.queryExecution.optimizedPlan.treeString)
    val got = ben.as[(Long, String, String)].collect()
    assert(got.forall { case (v, status, name) =>
      if (v % 13 == 0) status == "Fail" && name == null else status == "Success" && name == s"INS-${v % 5}"
    }, got.toSeq)
    val both = bundles.select(fhirFields ++ Seq(FhirParser.apiStatus(col("beneficiary")),
      FhirParser.insuranceData(col("beneficiary"))): _*)
    assert(perColumn(both) == Map("fhir" -> 1, "beneficiary" -> 1))
  }

  test("different schemas, FAILFAST and lambda-variable parses stay separate") {
    val s1 = StructType(Seq(StructField("status", StringType)))
    val s2 = StructType(Seq(StructField("status", StringType), StructField("message", StringType)))
    val two = bundles.select(
      from_json(col("fhir"), s1).getField("status").as("a"), from_json(col("fhir"), s1).getField("status").as("b"),
      from_json(col("fhir"), s2).getField("status").as("c"), from_json(col("fhir"), s2).getField("message").as("d"))
    assert(parses(two).map(_.schema).toSet == Set(s1, s2) && parses(two).size == 2)

    // A FAILFAST parse throws on malformed input, so it stays inside
    // the branch that guards it and the malformed row is never parsed.
    val malformed = Seq((1L, """{"status":"success"}"""), (2L, "not json {")).toDF("id", "raw")
    val ff = from_json(col("raw"), s2, Map("mode" -> "FAILFAST"))
    val guarded = malformed.select(
      when(col("id") === 1, ff.getField("status")).as("s"), when(col("id") === 1, ff.getField("message")).as("m"))
    val top = guarded.queryExecution.analyzed.asInstanceOf[Project].projectList
    assert(top.map(_.collect { case j: JsonToStructs => j }.size).sum == 2)
    assert(guarded.as[(String, String)].collect().toSet == Set(("success", null), (null, null)))

    // Two identical parses of a lambda variable (and a child column):
    // binding them would move the variable out of its lambda.
    val lambdas = bundles.select(col("id"), array(col("fhir"), col("fhir")).as("xs")).select(transform(col("xs"), x => {
      val p = from_json(when(col("id") > 0, x), s2)
      concat_ws("|", p.getField("status"), p.getField("message"))
    }).as("st"))
    assert(parses(lambdas).size == 2)
    assert(lambdas.as[Seq[String]].collect().flatten.toSet == Set("success", ""))
  }

  test("the rule keeps the Project's output and is idempotent") {
    val child = bundles.queryExecution.analyzed
    val fhir = child.output.find(_.name == "fhir").get
    val j = JsonToStructs(FhirParser.bundleSchema, Map.empty, fhir, Some("UTC"))
    val p = Project(Seq(Alias(GetStructField(j, 0), "status")(), Alias(GetStructField(j, 1), "message")()), child)
    val once = GraftExtensions.ParseOnce(p)
    assert(once != p && once.output == p.output)
    assert(once.collect { case q: Project => q.projectList.count(_.exists(_.isInstanceOf[JsonToStructs])) }.sum == 1)
    assert(GraftExtensions.ParseOnce(once) == once)
  }
}
