package graft.registry

import graft.enrich._
import graft.parse.FhirParser
import graft.tables.TestTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry: enrichment operators (SURVEY.md §2.C) run against the
  * deterministic mock clients, so the full mapPartitions plumbing —
  * dedup-before-call, retry, error-as-value, fan-out, repair, join-back
  * — is exercised under the driver's DuckDB oracle: the mocks are pure
  * functions of the key, so the oracle states the expected composite
  * result directly.
  */
object QueriesEnrich {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C1 + C8: unique-key beneficiary lookup joined back to all rows.
    "q_c1_beneficiary_enrich" -> ((s, dir) => {
      val cust = TestTables.customer(s, dir).select(col("c_custkey"))
      EnrichOperator.enrichUniqueKeys(cust, "c_custkey", () => new MockBeneficiaryClient())
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          FhirParser.apiStatus(col("response")).as("api_status"),
          FhirParser.insuranceData(col("response")).getItem("Name").as("ins_name"))
        .orderBy(col("c_custkey"))
    }),

    // C2 + C3: per-visit eligibility submit, error-as-value, parsed.
    "q_c2_eligibility_submit" -> ((s, dir) => {
      val visits = TestTables.orders(s, dir)
        .select(col("o_orderkey").as("visit_id"), col("o_orderkey").cast("string").as("__payload"))
      val b = FhirParser.parsed(col("response"))
      EnrichOperator.enrich(visits, "__payload", () => new MockEligibilityClient())
        .select(col("visit_id"), col("status"), col("message"),
          FhirParser.siteEligibility(b).as("class"),
          FhirParser.note(b).as("note"),
          FhirParser.benefitValue(b, "approval-limit").as("approval_limit"))
        .orderBy(col("visit_id"))
    }),

    // C4 + C6 + C9: per-visit LLM prediction fan-out with JSON repair,
    // the in-window retry round and terminal failure markers.
    //
    // MEASURED DEAD END (r11): staging this frame to disk before the
    // verify ORDER BY (the q_pipeline_predictions /
    // q_pipeline_resubmission pattern) does NOT pay here. The range
    // sampler's second job REUSES the first job's shuffle map outputs,
    // so the re-executed "double compute" is only the narrow join tail
    // above the last exchange — cheaper than the DISK_ONLY round-trip
    // of the 60M-row result at the 100× replica: staged 52.5 s median
    // [47.4, 52.5, 57.4] vs unstaged 39.0 s [38.8, 39.0, 54.1] at
    // 100×/8 GB; a wash at 10× (14.8 vs 15.0 s) —
    // bench_ab_stage_sort_r11.json (which also records the same
    // dead end on q_pipeline_corpus/q_pipeline_pretrain). The siblings
    // pay because their narrow tails are themselves expensive: the
    // broadcast 5-BU fan-out union (resubmission 59.3 -> 44.0 s) and
    // the triple-window gate table (predictions, r10). LLM calls never
    // re-fire either way — the call stages read their own materialized
    // blocks.
    "q_c4_llm_predictions" -> ((s, dir) => {
      val claims = TestTables.lineitem(s, dir)
        .select(col("l_orderkey").as("visit_id"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("uid"))
      LlmFanout.predict(claims, "visit_id", "uid", () => new MockLlmClient())
        .select(col("visit_id"), col("uid"), col("medical_prediction"), col("reason"))
        .orderBy(col("visit_id"), col("uid"))
    }),

    // E3 + B28: checkpoint round-trip and anti-join resume.
    "q_e3_checkpoint_resume" -> ((s, dir) => {
      val tmp = graft.util.TempDirs.scratch("graft_ckpt")
      val ckpt = new Checkpoint(s, tmp, "o_orderkey")
      val o = TestTables.orders(s, dir)
      ckpt.record(o.filter(col("o_orderkey") % 4 === 0), runId = "r1")
      ckpt.filterNew(o)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_c1_beneficiary_enrich" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 13 = 0 THEN 'Fail' ELSE 'Success' END AS api_status,
        |  CASE WHEN c_custkey % 13 = 0 THEN NULL
        |       ELSE 'INS-' || CAST(c_custkey % 5 AS VARCHAR) END AS ins_name
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_c2_eligibility_submit" ->
      """SELECT o_orderkey AS visit_id,
        |  CASE WHEN o_orderkey % 11 = 0 THEN 'error' ELSE 'ok' END AS status,
        |  CASE WHEN o_orderkey % 11 = 0 THEN 'gateway timeout after 10s' END AS message,
        |  CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |       WHEN o_orderkey % 2 = 0 THEN 'eligible' ELSE 'not-active' END AS class,
        |  CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |       ELSE 'note for visit ' || CAST(o_orderkey AS VARCHAR) END AS note,
        |  CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |       ELSE CAST(o_orderkey % 5000 AS DOUBLE) END AS approval_limit
        |FROM orders ORDER BY visit_id""".stripMargin,

    "q_c4_llm_predictions" ->
      """SELECT l_orderkey AS visit_id,
        |  l_orderkey * 10 + l_linenumber AS uid,
        |  CASE WHEN l_orderkey % 97 = 0 THEN 'Failed to reach LLM'
        |       WHEN (l_orderkey * 10 + l_linenumber) % 5 = 0 THEN 'Rejected'
        |       ELSE 'Approved' END AS medical_prediction,
        |  CASE WHEN l_orderkey % 97 <> 0 AND (l_orderkey * 10 + l_linenumber) % 5 = 0
        |       THEN 'service ' || CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) || ' is a duplicate order'
        |       END AS reason
        |FROM lineitem ORDER BY visit_id, uid""".stripMargin,

    "q_e3_checkpoint_resume" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderkey % 4 <> 0 ORDER BY o_orderkey""".stripMargin,
  )
}
