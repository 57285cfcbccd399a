package perfbench

import graft.enrich.{EnrichOperator, LlmFanout, MockBeneficiaryClient, MockEligibilityClient, MockLlmClient, ServiceClient}
import graft.parse.{FhirParser, LlmJsonRepair}
import graft.pipeline.{JobRunner, Pipelines}
import graft.relational.{EligibilityExtract, ResubmissionExtract}
import graft.sink.{QualityGate, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Everything a pass needs: the session, the tracer, the derived input
  * and a working directory for pass outputs.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val input: String, val work: String, val seed: Long) {
  private var dirs = 0
  /** A directory no earlier pass has used. */
  def freshDir(tag: String): String = { dirs += 1; s"$work/$tag-$dirs" }
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

object Timed {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def seconds(body: => Any): Double = apply(body)._2
}

/** The timed operations, each through the program's public entry
  * points: `JobRunner.run`, `EnrichOperator.enrich`/`enrichUniqueKeys`,
  * `LlmFanout.predictSets`, `SparkEntry.queries`, `Pipelines`, the
  * relational extracts, the plain `FhirParser` spellings,
  * `LlmJsonRepair.repairStrict` and `Sinks`.
  */
object Workloads {

  val jobs: Seq[String] = Seq("eligibility", "predictions", "resubmission", "incremental")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ---------------------------------------------------------------- etl

  final case class EtlPass(first: Seq[(String, Double, Long)], rerun: Seq[(String, Double, Long)]) {
    def firstS: Double = first.map(_._2).sum
    def rerunS: Double = rerun.map(_._2).sum
    def rows: Long = first.map(_._3).sum + rerun.map(_._3).sum
  }

  /** All four jobs into an empty target, then all four again onto the
    * loaded targets. `between` runs untimed after the first round.
    */
  def etl(ctx: Ctx, out: String, between: () => Unit = () => ()): EtlPass = {
    def round(phase: String): Seq[(String, Double, Long)] = ctx.span(s"etl.$phase") {
      jobs.map { j =>
        val (n, s) = Timed(ctx.span(s"job.$j.$phase")(JobRunner.run(ctx.spark, j, ctx.input, out)))
        (j, s, n)
      }
    }
    val first = round("first")
    between()
    EtlPass(first, round("rerun"))
  }

  // ------------------------------------------------------------- enrich

  /** Injected service latency of the enrich workload. */
  val callMicros = 4000L
  val llmPerUidMicros = 1000L
  /** Visits per enrich pass, chosen by a seeded hash. */
  val enrichVisits = 1500

  /** The visit sample: (visit_id, patient_id) of `sample` orders
    * chosen by a seeded hash (every order with None), and the
    * (visit_id, uid) claim lines of those visits.
    */
  def enrichInput(ctx: Ctx, sample: Option[Int] = Some(enrichVisits)): (DataFrame, DataFrame) = {
    val s = ctx.spark
    val orders = s.read.parquet(s"${ctx.input}/orders.parquet")
      .select(col("o_orderkey").as("visit_id"), col("o_custkey").as("patient_id"))
    val picked = sample.fold(orders)(n =>
      orders.orderBy(xxhash64(lit(ctx.seed + 1), col("visit_id")), col("visit_id")).limit(n))
    val claims = s.read.parquet(s"${ctx.input}/lineitem.parquet")
      .join(picked.select(col("visit_id")), col("l_orderkey") === col("visit_id"), "left_semi")
      .select(col("l_orderkey").as("visit_id"), (col("l_orderkey") * 10 + col("l_linenumber")).as("uid"))
    (picked, claims)
  }

  /** One enrichment stage's timing, output digest and counters,
    * snapshotted when the stage ends.
    */
  final class Stage(val name: String, val metrics: EnrichOperator.Metrics, val waitNs: org.apache.spark.util.LongAccumulator) {
    var seconds = 0.0
    var rows = 0L
    var calls, failures, promptTokens = 0L
    var waitS = 0.0
    /** Order-insensitive digest of the stage's output ([[Checks.digest]]). */
    var digest: (Long, Long) = (0L, 0L)
    def end(s: Double): Unit = {
      seconds = s
      calls = metrics.calls.value; failures = metrics.failures.value
      promptTokens = metrics.promptTokens.value; waitS = waitNs.value / 1e9
    }
  }

  /** Rows each enrich stage is asked to enrich (visits, distinct
    * patients, visits with claim lines), counted once per input.
    */
  private val stageRows = scala.collection.mutable.Map.empty[(String, Long, Option[Int]), Seq[Long]]

  /** The three enrichment stages over the visit sample. With `delayed`
    * every client answers through a [[DelayedClient]]; without it the
    * mocks answer instantly (the check's reference output). Each stage's
    * output is consumed by its digest, so every pass is checkable.
    */
  def enrich(ctx: Ctx, delayed: Boolean, sample: Option[Int] = Some(enrichVisits)): Seq[Stage] = {
    val sc = ctx.spark.sparkContext
    val (visits, claims) = enrichInput(ctx, sample)
    def stage(name: String) = new Stage(name,
      EnrichOperator.Metrics(visits, s"perfbench.$name"), sc.longAccumulator(s"perfbench.$name.wait"))
    def client(st: Stage, perUid: Long, make: () => ServiceClient): () => ServiceClient =
      if (!delayed) make
      else { val w = st.waitNs; () => new DelayedClient(make(), callMicros, perUid, w) }
    val cfg = EnrichOperator.Config(maxAttempts = 2)
    def run(st: Stage)(body: => (Long, Long)): Unit = {
      val (d, s) = Timed(ctx.span(s"enrich.${st.name}")(body))
      st.digest = d
      st.end(s)
    }

    val submit = stage("submit")
    run(submit)(Checks.digest(EnrichOperator.enrich(visits.withColumn("__payload", col("visit_id").cast("string")),
      "__payload", client(submit, 0L, () => new MockEligibilityClient()), cfg, Some(submit.metrics))))
    val unique = stage("unique_keys")
    run(unique)(Checks.digest(EnrichOperator.enrichUniqueKeys(visits, "patient_id",
      client(unique, 0L, () => new MockBeneficiaryClient()), cfg, Some(unique.metrics))))
    val llm = stage("llm_fanout")
    run(llm) {
      val (failed, rejections) = LlmFanout.predictSets(claims, "visit_id", "uid",
        client(llm, llmPerUidMicros, () => new MockLlmClient()), EnrichOperator.Config(), Some(llm.metrics))
      val (fc, fh) = Checks.digest(failed)
      val (rc, rh) = Checks.digest(rejections)
      (fc + rc, fh + rh)
    }

    val rows = stageRows.getOrElseUpdate((ctx.input, ctx.seed, sample), Seq(
      visits.count(),
      visits.select(col("patient_id")).na.drop().distinct().count(),
      claims.select(col("visit_id")).distinct().count()))
    Seq(submit, unique, llm).zip(rows).foreach { case (st, n) => st.rows = n }
    Seq(submit, unique, llm)
  }

  // ---------------------------------------------------------- registry

  /** A sample of `graft.Bench.headline` outside the pipelines: one query
    * per operator family, each cheap at this input size.
    */
  val registrySample: Seq[String] = Seq(
    "q_a11_latest_per_group", "q_a12_string_agg", "q_dedup_exact", "q_text_stats", "q_sim_bruteforce",
    "q_stream_windowed_agg", "q_asof_join", "q_set_ops_all", "q_ts_ewma", "q_text_dict_match")

  /** Each sampled query via `SparkEntry.queries` into the noop sink. */
  def registry(ctx: Ctx): Seq[(String, Double)] = {
    val qs = registrySample.map { q =>
      val fn = graft.SparkEntry.queries(q)
      s"query.${q}_s" -> Timed.seconds(ctx.span(s"query.$q")(noop(fn(ctx.spark, ctx.input))))
    }
    qs :+ ("registry.sample_total_s" -> qs.map(_._2).sum)
  }

  // ------------------------------------------------------ layer probes

  /** The relational extracts into the noop sink. */
  def relational(ctx: Ctx): Seq[(String, Double)] = Seq(
    "relational.eligibility_extract_s" ->
      Timed.seconds(ctx.span("relational.eligibility_extract")(noop(EligibilityExtract.build(ctx.spark, ctx.input)))),
    "relational.resubmission_extract_s" ->
      Timed.seconds(ctx.span("relational.resubmission_extract")(noop(ResubmissionExtract.full(ctx.spark, ctx.input)))))

  /** The three pipelines into the noop sink, no load. Each output is
    * persisted while it is written, so the sink probe loads it without
    * re-running the pipeline; the caller unpersists.
    */
  def pipelines(ctx: Ctx): (Seq[(String, Double)], Seq[(String, DataFrame, Option[String])]) = {
    val s = ctx.spark; val in = ctx.input
    val outs = Seq(
      ("eligibility", () => Pipelines.eligibility(s, in), Some("visit_id")),
      ("predictions", () => Pipelines.predictions(s, in), Some("uid")),
      ("resubmission", () => Pipelines.resubmission(s, in), None))
      .map { case (name, make, key) =>
        val (df, t) = Timed(ctx.span(s"pipeline.$name") { val df = make().persist(); noop(df); df })
        (s"pipeline.${name}_s" -> t, (name, df, key))
      }
    (outs.map(_._1), outs.map(_._2))
  }

  /** Plain `FhirParser` spellings over materialized eligibility and
    * beneficiary responses, and `LlmJsonRepair.repairStrict` over
    * materialized LLM bodies (one per order, the mock's answer).
    */
  def parse(ctx: Ctx): Seq[(String, Double)] = {
    import ctx.spark.implicits._
    val orders = ctx.spark.read.parquet(s"${ctx.input}/orders.parquet")
    val lines = ctx.spark.read.parquet(s"${ctx.input}/lineitem.parquet")
    val responses = orders.select(col("o_orderkey").cast("string").as("v"), col("o_custkey").cast("string").as("p"))
      .as[(String, String)]
      .map { case (v, p) =>
        (new MockEligibilityClient().call(v).getOrElse(null), new MockBeneficiaryClient(0).call(p).getOrElse(null))
      }.toDF("fhir", "beneficiary").localCheckpoint(eager = true)
    val bodies = lines.groupBy(col("l_orderkey"))
      .agg(array_join(array_sort(collect_list((col("l_orderkey") * 10 + col("l_linenumber")).cast("string"))), ",").as("u"))
      .select(concat_ws("|", col("l_orderkey").cast("string"), col("u"))).as[String]
      .map(p => new MockLlmClient().call(p).getOrElse(null)).localCheckpoint(eager = true)
    try {
      val fhir = Timed.seconds(ctx.span("parse.fhir_extract") {
        val b = FhirParser.parsed(col("fhir"))
        val payer = lit("structured")
        noop(responses.select(FhirParser.outcome(b), FhirParser.siteEligibility(b), FhirParser.note(b),
          FhirParser.approvalLimit(col("fhir"), payer), FhirParser.copayMaximum(col("fhir"), payer),
          FhirParser.apiStatus(col("beneficiary")), FhirParser.insuranceData(col("beneficiary"))))
      })
      val repair = Timed.seconds(ctx.span("parse.llm_repair") {
        noop(bodies.map(b => LlmJsonRepair.repairStrict(b, "Rejected").fold(-1)(_.size)).toDF("n"))
      })
      Seq("parse.fhir_extract_s" -> fhir, "parse.llm_repair_s" -> repair)
    } finally {
      responses.unpersist(blocking = true)
      bodies.unpersist(blocking = true)
    }
  }

  /** The load layer alone: the public `Sinks` calls `JobRunner.load`
    * makes (CSV archive, append, bucketed upsert) on each pipeline's
    * persisted output, into an empty target, then the upsert again onto
    * the loaded target (the merge). `QualityGate.assertPasses` runs on
    * the eligibility output.
    */
  def sink(ctx: Ctx, out: String, outputs: Seq[(String, DataFrame, Option[String])]): Seq[(String, Double)] = {
    val s = ctx.spark
    var archive, append, upsert, merge, gate = 0.0
    outputs.foreach { case (name, persisted, key) =>
      val base = s"$out/$name"
      if (name == "eligibility")
        gate += Timed.seconds(ctx.span("sink.gate")(QualityGate.assertPasses(persisted, "class", "note")))
      archive += Timed.seconds(ctx.span("sink.archive_csv")(
        Sinks.archiveCsv(persisted.withColumn("archived_at", lit("run")), s"$base/archive")))
      append += Timed.seconds(ctx.span("sink.append")(Sinks.append(persisted, s"$base/append")))
      key.foreach { k =>
        val bucketed = persisted.withColumn("part_bucket",
          pmod(xxhash64(col(k)), lit(JobRunner.upsertBuckets.toLong)).cast("int"))
        upsert += Timed.seconds(ctx.span("sink.upsert")(
          Sinks.upsertPartitioned(s, s"$base/current", bucketed, k, "part_bucket")))
        merge += Timed.seconds(ctx.span("sink.upsert_merge")(
          Sinks.upsertPartitioned(s, s"$base/current", bucketed, k, "part_bucket")))
      }
    }
    val (bytes, files) = Files.dataFiles(out)
    Seq("sink.archive_csv_s" -> archive, "sink.append_s" -> append, "sink.upsert_s" -> upsert,
      "sink.upsert_merge_s" -> merge, "sink.gate_s" -> gate,
      "sink.bytes_written" -> bytes.toDouble, "sink.files_written" -> files.toDouble)
  }
}
