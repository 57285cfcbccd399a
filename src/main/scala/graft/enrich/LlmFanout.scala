package graft.enrich

import graft.parse.LlmJsonRepair
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-visit LLM fan-out (C4 predictions / C5 justifications,
  * reference src/predictions.py:201-290 and src/resubmission.py:76-151).
  *
  * The reference iterates visits in a Python loop; here the grouping is
  * one shuffle (`groupBy(visit).agg(collect_list(...))`) and the LLM
  * stage is a bounded-parallelism mapPartitions over the *visit* rows —
  * call volume = visit count, not service count. A visit whose call
  * fails is retried once inside the same stage (C9). Results come back
  * as a JSON map, are repaired (LlmJsonRepair), exploded to (uid, text)
  * pairs, and left-joined to the claims.
  *
  * Scale notes: per-visit group size is skewed (30+ services on some
  * visits) — AQE skew handling applies on the groupBy; the prompt
  * payload sorts service uids so the call is deterministic regardless
  * of row order. Failed-visit sets join back broadcast only on
  * measured evidence (Joins.broadcastIfSmall) — usually tiny, but they
  * grow with the corpus, so the hint is never static.
  */
object LlmFanout {

  /** Label of a claim whose visit failed both its call and the C9
    * retry (reference src/predictions.py:371-373).
    */
  val terminalMarker = "Failed to reach LLM"

  /** Repair + explode the enrich stage's responses to entry rows —
    * fused into the SAME narrow stage as the calls, so the raw
    * per-visit JSON strings are young-generation garbage the moment
    * they are parsed, never stored blocks. Emits:
    *  - one (null, uid, text, 0) row per repaired entry — the
    *    visit is deliberately nulled on this LINEAR-size path: no
    *    consumer reads it (the join-back keys on uid), and at replica
    *    scale the dropped visit strings were measurable block weight;
    *  - one (visit, null, null, 1) row per visit whose retry failed or
    *    was skipped by the breaker;
    *  - one (visit, null, null, 1) row for an ok call whose response
    *    still does not parse as JSON at all (repairStrict = None) —
    *    the reference treats a JSONDecodeError exactly like a transport
    *    failure (src/predictions.py:276-288: failed visit → retry →
    *    [[terminalMarker]]), and so do we; silently
    *    treating it as an empty map would default every claim on the
    *    visit to "Approved" off garbage output;
    *  - NOTHING for an ok call whose repaired map parsed but is empty
    *    ("approved everything") — both downstream consumers filter such
    *    rows out, so emitting them only inflated the materialized
    *    blocks.
    */
  private def explodeCalls(called: DataFrame, visitCol: String, field: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("__visit", StringType),
      StructField("__uid", StringType),
      StructField("__text", StringType),
      StructField("__failed", IntegerType)))
    val enc = Encoders.row(outSchema)
    val vIdx = called.schema.fieldIndex(visitCol)
    val stIdx = called.schema.fieldIndex("status")
    val respIdx = called.schema.fieldIndex("response")
    called.mapPartitions { rows =>
      rows.flatMap { r =>
        def failedRow = Row(Option(r.get(vIdx)).map(_.toString).orNull, null, null, 1)
        if (r.getString(stIdx) != "ok") Iterator(failedRow)
        else LlmJsonRepair.repairStrict(r.getString(respIdx), field) match {
          case None => Iterator(failedRow) // unparseable-but-HTTP-ok: never approve
          case Some(m) => m.iterator.map { case (uid, text) => Row(null, uid, text, 0) }
        }
      }
    }(enc)
  }

  /** The fan-out's two result sets for one response `field`:
    * (failedVisits, texts), from one LLM call per visit whose response
    * is repaired and exploded ([[explodeCalls]]).
    *
    * The C9 retry (reference src/predictions.py:299-314) runs inside the
    * enrich stage's call window: every non-ok call — errors,
    * unparseable answers AND circuit-broken "skipped" rows — is called
    * once more with a fresh client and breaker, so an outage never
    * drops a visit (a dropped visit would default to "Approved").
    * failedVisits (`__visit`) holds the visits that failed their retry
    * too; it is key-sized and materialized, so [[joinBack]]'s
    * broadcast-evidence count is cheap. texts (`__uid`, `__text`)
    * rides on the materialized explode blocks. The uid column is cast
    * back to the claims' key type here: casting the fact side per row
    * would cost and break its partitioning on the key.
    *
    * Memory shape (the 100×/8 GB lesson): the ONLY materialized frames
    * are the exploded form and the tiny failed set, never the raw
    * enrich output. Materializing the raw responses first (the full
    * 15M-visit response frame and the exploded rows resident at once)
    * tripled the heap-pressure wall time at the 100× replica on the
    * default 8 GB heap. Exactly-once for the side-effecting calls
    * holds: the enrich stage is consumed by exactly one materialized
    * explode, and every downstream branch reads those blocks.
    */
  private def resultSets(claims: DataFrame, visitCol: String, uidCol: String, field: String,
                         makeClient: () => ServiceClient, cfg: EnrichOperator.Config,
                         metrics: Option[EnrichOperator.Metrics]): (DataFrame, DataFrame) = {
    // The uid list lives ONLY inside the payload string (a separate
    // __uids column doubled the string volume through the call stage).
    val perVisit = claims
      .groupBy(col(visitCol))
      .agg(array_join(array_sort(collect_list(col(uidCol).cast("string"))), ",").as("__uids"))
      .select(col(visitCol),
        concat_ws("|", col(visitCol).cast("string"), col("__uids")).as("__payload"))
    val retryIf = (body: String) => LlmJsonRepair.repairStrict(body, field).isEmpty
    val exploded = graft.util.Materialize.stage(explodeCalls(
      EnrichOperator.enrich(perVisit, "__payload", makeClient, cfg, metrics, Some(retryIf)), visitCol, field))
    val failedVisits = graft.util.Materialize.stage(
      exploded.filter(col("__failed") === 1).select(col("__visit")).distinct())
    val texts = exploded.filter(col("__uid").isNotNull)
      .select(col("__uid").try_cast(claims.schema(uidCol).dataType.sql).as("__uid"), col("__text"))
    (failedVisits, texts)
  }

  /** C4's result sets without the per-claim join: (failedVisits,
    * rejections). A caller that joins them onto its own, wider claims
    * frame (Pipelines.predictions) uses this with [[joinBack]].
    */
  def predictSets(claims: DataFrame, visitCol: String, uidCol: String,
                  makeClient: () => ServiceClient,
                  cfg: EnrichOperator.Config = EnrichOperator.Config(),
                  metrics: Option[EnrichOperator.Metrics] = None): (DataFrame, DataFrame) =
    resultSets(claims, visitCol, uidCol, "Rejected", makeClient, cfg, metrics)

  /** Left-joins the result sets onto `claims`: `__visit` is non-null
    * on claims whose visit failed its retry too, `__text` carries the
    * claim's LLM text. failedVisits grows with the corpus (about 1/97
    * of visits), so it is hinted broadcast only on measured evidence.
    * texts is deduped per uid first: the uids are whatever the model
    * returned, and two visits' answers naming the same uid must not
    * fan a claim row out.
    */
  def joinBack(claims: DataFrame, visitCol: String, uidCol: String,
               failedVisits: DataFrame, texts: DataFrame): DataFrame =
    claims
      .join(graft.ops.Joins.broadcastIfSmall(failedVisits),
        claims(visitCol).cast("string") === col("__visit"), "left")
      .join(texts.dropDuplicates("__uid"), claims(uidCol) === col("__uid"), "left")

  /** C4: predictions. Appends `medical_prediction`
    * ("Approved"/"Rejected"/[[terminalMarker]]) and `reason`.
    */
  def predict(claims: DataFrame, visitCol: String, uidCol: String,
              makeClient: () => ServiceClient,
              cfg: EnrichOperator.Config = EnrichOperator.Config(),
              metrics: Option[EnrichOperator.Metrics] = None): DataFrame = {
    val (failedVisits, rejections) = predictSets(claims, visitCol, uidCol, makeClient, cfg, metrics)
    joinBack(claims, visitCol, uidCol, failedVisits, rejections)
      .withColumn("medical_prediction",
        when(col("__visit").isNotNull, terminalMarker)
          .when(col("__text").isNotNull, "Rejected")
          .otherwise("Approved"))
      .withColumn("reason", col("__text"))
      .drop("__visit", "__uid", "__text")
  }

  /** C5: justifications. Appends `justification` ([[terminalMarker]]
    * for visits the LLM never answered).
    */
  def justify(claims: DataFrame, visitCol: String, uidCol: String,
              makeClient: () => ServiceClient,
              cfg: EnrichOperator.Config = EnrichOperator.Config(),
              metrics: Option[EnrichOperator.Metrics] = None): DataFrame = {
    val (failedVisits, texts) =
      resultSets(claims, visitCol, uidCol, "Justifications", makeClient, cfg, metrics)
    joinBack(claims, visitCol, uidCol, failedVisits, texts)
      .withColumn("justification",
        when(col("__visit").isNotNull, terminalMarker).otherwise(col("__text")))
      .drop("__visit", "__uid", "__text")
  }
}
