package graft.pipeline

import graft.enrich._
import graft.parse.FhirParser
import graft.relational.{EligibilityExtract, ResubmissionExtract}
import graft.sink.QualityGate
import graft.tables.TestTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The three DAG task graphs composed as single Spark jobs
  * (SURVEY.md §3). Each Airflow task boundary in the reference
  * (parquet-in-/tmp handoff) becomes either a materialized DataFrame (the
  * shared extract, E6) or just lineage; enrichment stages sit behind
  * EnrichOperator so their parallelism and retry policy are explicit.
  */
object Pipelines {

  /** Eligibility pipeline (dags/eligibilty_etl.py:357-370): one
    * extraction, two enrichment transforms over it, a quality gate, one
    * joined load projection.
    *
    * The two transforms are parallel tasks in the reference DAG, and
    * here too: the `iqama` branch materializes on a second driver
    * thread while the caller materializes and gates the `elig` branch
    * ([[graft.util.Concurrent.both]]). Each branch still runs once,
    * over the materialized `base` blocks, and both finish before the
    * join; a gate failure throws before anything loads.
    */
  def eligibility(spark: SparkSession, dir: String): DataFrame = {
    // Enrichment policy, stated explicitly at the composition layer:
    // calls in flight follow the cluster (parallelism <= 0 →
    // defaultParallelism × EnrichOperator.DefaultCallsPerCore, over
    // defaultParallelism partitions); the rate budget is global, so a
    // wider cluster or window does not mean a harder hammering of the
    // upstream service (0 = mocks, unthrottled).
    val enrichCfg = EnrichOperator.Config(maxAttempts = 2)

    // extract_data — shared by both transforms, so materialize once (E6).
    val base = graft.util.Materialize.stage(
      EligibilityExtract.build(spark, dir).select(col("visit_id"), col("patient_id")))

    // transform_iqama (C1): per-unique-patient insurance lookup.
    // Materialized like the eligibility branch: this stage fires
    // external calls, and a caller running more than one action over
    // the returned frame (count + write, gate + sink) would otherwise
    // re-execute the lookup per action through bare lineage.
    def iqamaBranch(): DataFrame = graft.util.Materialize.stage(
      EnrichOperator.enrichUniqueKeys(base, "patient_id",
          () => new MockBeneficiaryClient(), enrichCfg)
        .select(col("visit_id"),
          FhirParser.apiStatus(col("response")).as("api_status"),
          FhirParser.insuranceData(col("response")).getItem("Name").as("ins_name")))

    // transform_eligibility (C2+C3): per-visit FHIR submit + parse.
    def eligBranch(): DataFrame = {
      val withPayload = base.withColumn("__payload", col("visit_id").cast("string"))
      val submitted = EnrichOperator.enrich(withPayload, "__payload",
        () => new MockEligibilityClient(), enrichCfg)
      val b = FhirParser.parsed(col("response"))
      // load_data's quality gate, counted on this branch's materialization
      // pass: it throws before the caller loads anything. Materialized
      // because the final join consumes the branch again, and the gate's
      // top-notes diagnostic reads it too — bare lineage would re-fire
      // every eligibility submit call.
      QualityGate.stageAsserted(submitted.select(
        col("visit_id").as("__ev"),
        FhirParser.outcome(b).as("outcome"),
        FhirParser.siteEligibility(b).as("class"),
        FhirParser.note(b).as("note"),
        FhirParser.approvalLimit(col("response"), lit("structured")).as("approval_limit"),
        FhirParser.copayMaximum(col("response"), lit("structured")).as("copay_maximum")))._1
    }

    val (iqama, elig) = graft.util.Concurrent.both(iqamaBranch(), eligBranch())

    base.select(col("visit_id"), col("patient_id"))
      .join(iqama, Seq("visit_id"), "left")
      .join(elig, col("visit_id") === col("__ev"), "left")
      .drop("__ev")
  }

  /** Predictions pipeline (src/run_predictions.py): no-diagnosis
    * auto-reject (B18) → duplicate-service drop (B8/B19) → per-visit
    * LLM fan-out (C4) → fill remaining as Approved (B11).
    */
  def predictions(spark: SparkSession, dir: String): DataFrame =
    predictions(spark, dir, keepDay = false)

  /** `keepDay = true` appends the claim's service day (`day`) for the
    * KPI rollup surface — the run-log Date axis of the reference's
    * dashboard (analysis.py:16-58).
    */
  def predictions(spark: SparkSession, dir: String, keepDay: Boolean): DataFrame = {
    val annotated = annotatedClaims(spark, dir)

    // The gate-annotated table is consumed by SEVERAL independent
    // passes — the fan-out derivation, the final join-back, and (on
    // the verify surface) the global sort's range-sampling pass —
    // so materialize it ONCE. Before round 10 only the slim
    // (visit, uid) fan-out slice was materialized and every other
    // consumer re-ran scan+windows through bare lineage. DISK_ONLY
    // (stageData), deliberately: this frame is corpus-sized, and
    // memory-first blocks would occupy the protected half of the
    // unified pool and starve every downstream sort (measured
    // UNABLE_TO_ACQUIRE_MEMORY at the 100× replica / 8 GB heap) —
    // a disk stage boundary is exactly the reference's between-task
    // parquet handoff, paid once instead of one windows recompute
    // per consumer.
    // r13 OPT (guide §2.3 — project before the stage boundary): only
    // the columns a consumer reads cross it. The window stage needs
    // l_linenumber/icd10/__rn internally, but every consumer of the
    // materialized frame reads (visit_id, uid, svc, __nodx, __dup)
    // [+ day when keepDay] — carrying the dead columns through a
    // corpus-sized DISK_ONLY write, its block reads, and the uid
    // join-back shuffle was pure weight.
    val kept = Seq(col("visit_id"), col("uid"), col("svc"), col("__nodx"), col("__dup")) ++
      (if (keepDay) Seq(col("l_shipdate")) else Nil)
    val annotatedMat = graft.util.Materialize.stageData(annotated.select(kept: _*))

    // The fan-out only needs (visit, uid): a cheap projection of the
    // materialized blocks (recompute-safe — no side effects upstream).
    val llmInput = annotatedMat.filter(col("__nodx") === 0 && col("__dup") === 0)
      .select(col("visit_id"), col("uid"))
    // The fan-out's result sets join straight onto the annotated
    // corpus frame through LlmFanout.joinBack (one uid join, left to
    // the planner: a sort-merge join at scale). Gate branches win
    // first, so a cross-visit uid the LLM names on a gated claim
    // resolves to the gate's label.
    //
    // Measured dead ends kept on record:
    //  - condensing the LLM output to per-visit uid→prediction maps
    //    (collect_list + map_from_entries, join on visit alone) is 4.5×
    //    slower at the 100× replica
    //    (bench_100x_pred8g_mapjoin_deadend_r09.json) — the uid SMJ
    //    keeps map-side partial dedup and codegen'd sorts;
    //  - an evidence-gated broadcast of the rejections side (hint it
    //    when a limit-bounded count proves it small) was slower at
    //    sf0.1 — the driver-side gate count plus broadcast build cost
    //    more than the small uid exchange and sorts it removes — and
    //    at 100× the gate trips anyway (rejections ~20% of uids).
    val (failedVisits, rejections) =
      LlmFanout.predictSets(llmInput, "visit_id", "uid", () => new MockLlmClient())

    val baseCols = Seq(col("visit_id"), col("uid"), col("svc"),
      when(col("__nodx") === 1, "Rejected")
        .when(col("__dup") === 1, "Rejected")
        .when(col("__visit").isNotNull, LlmFanout.terminalMarker)
        .when(col("__text").isNotNull, "Rejected")
        .otherwise("Approved").as("medical_prediction"),
      when(col("__nodx") === 1, "Missing diagnosis")
        .when(col("__dup") === 1, "Duplicated Service")
        .otherwise(col("__text")).as("reason"))
    val cols = if (keepDay) baseCols :+ to_date(col("l_shipdate")).as("day") else baseCols
    LlmFanout.joinBack(annotatedMat, "visit_id", "uid", failedVisits, rejections)
      .select(cols: _*)
  }

  /** The gate-window stage of the predictions pipeline, unmaterialized
    * (exposed for plan-shape tests: the one-scan / three-window /
    * two-sort invariants live HERE — [[predictions]] materializes this
    * frame, so its own plan reads blocks).
    */
  private[graft] def annotatedClaims(spark: SparkSession, dir: String): DataFrame = {
    val claims = TestTables.lineitem(spark, dir).select(
      col("l_orderkey").as("visit_id"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("uid"),
      col("l_partkey").as("svc"),
      col("l_shipdate"), col("l_linenumber"),
      when(col("l_orderkey") % 53 === 0 && col("l_linenumber") === 1, lit(null: String))
        .otherwise(concat(lit("ICD-"), (col("l_partkey") % 500).cast("string"))).as("icd10"))

    // Both gates annotate claims IN PLACE via windows that all cluster
    // on the visit_id prefix — one exchange, zero gate joins, no
    // driver-side set handling at any scale:
    //  - __nodx: any-null-diagnosis flag over the visit (B18);
    //  - __rn: keep-first rank within (visit, svc) — the dedup window;
    //  - __dup: uid-level flag, set iff NO row of the uid ranks first
    //    (uids can span several rows — set semantics, matching the
    //    reference's uid ∉ kept).
    // The old shape (two aggregations + EXCEPT + three left joins of
    // derived sets) shuffled the claims table five ways; this shuffles
    // it once and filters/branches on the flags.
    //
    // Per-task memory is the scale constraint here (the 100× replica
    // once needed a 4× heap): every full-partition SORT in the window
    // stage holds the task's whole slice, so the windows are declared
    // to SHARE sorts. __nodx is order-independent (a whole-partition
    // max), but declaring it over wGroup's exact (svc, shipdate,
    // linenumber, uid) order with an explicit unbounded frame makes its
    // required child ordering identical to __rn's — one sort serves
    // both, whatever order the optimizer stacks the Window nodes in.
    // The explicit repartition on the visit prefix guarantees the ONE
    // exchange regardless of that stacking (a bottom wGroup window
    // would otherwise make EnsureRequirements key the exchange on
    // (visit, svc) and force a second one for the visit-level gate).
    import org.apache.spark.sql.expressions.Window
    val wVisit = Window.partitionBy(col("visit_id"))
      .orderBy(col("svc").asc, col("l_shipdate").asc, col("l_linenumber").asc, col("uid").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wGroup = Window.partitionBy(col("visit_id"), col("svc"))
      .orderBy(col("l_shipdate").asc, col("l_linenumber").asc, col("uid").asc)
    val wUid = Window.partitionBy(col("visit_id"), col("uid"))
    claims
      .repartition(col("visit_id"))
      .withColumn("__nodx", max(col("icd10").isNull.cast("int")).over(wVisit))
      .withColumn("__rn", row_number().over(wGroup))
      .withColumn("__dup", (min(col("__rn")).over(wUid) > 1).cast("int"))
  }

  val clinicUnits: Seq[String] = Seq("AKW", "ALW", "LCH", "MKR", "SNB")

  /** Clinics resubmission pipeline (dags/clinics_resubmission_etl.py):
    * the extraction + justification fan-out instantiated per business
    * unit (D5 tag), one unioned load (E6 parameterized fan-out).
    */
  def resubmission(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // E6: the extract is the shared intermediate (the reference hands
    // it between Airflow tasks as parquet) — materialize once; the
    // fan-out's grouping AND its join-back both consume it, and its
    // lineage is the deepest plan in the engine (union of window
    // branches over the star join).
    val claims = graft.util.Materialize.stage(ResubmissionExtract.full(spark, dir))
    val justified = LlmFanout.justify(claims, "visit_id", "visit_service_id", () => new MockJustifyClient())
      .select(col("visit_id"), col("seq_no"), col("visit_service_id"), col("service_name"),
        col("justification_type"), col("reason"), col("reason_code"), col("status"), col("justification"))
    // One broadcast cross join, NOT a 5-way union of the same plan —
    // a union would recompute the whole justify lineage per clinic
    // (and re-fire its LLM calls five times).
    justified.crossJoin(broadcast(clinicUnits.toDF("bu")))
  }
}
