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
  * call volume = visit count, not service count. Results come back as a
  * JSON map, are repaired (LlmJsonRepair), exploded to (uid, text)
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

  /** Label of a claim whose visit failed both the first pass and the
    * C9 retry pass (reference src/predictions.py:371-373).
    */
  val terminalMarker = "Failed to reach LLM"

  /** Repair + explode one enrich pass's responses to entry rows —
    * fused into the SAME narrow stage as the calls, so the raw
    * per-visit JSON strings are young-generation garbage the moment
    * they are parsed, never stored blocks. Emits:
    *  - one (null, uid, text, 0, null) row per repaired entry — the
    *    visit is deliberately nulled on this LINEAR-size path: no
    *    consumer reads it (the join-back keys on uid), and at replica
    *    scale the dropped visit strings were measurable block weight;
    *  - one (visit, null, null, 1, payload) row per failed call — the
    *    payload rides along (only here: ~1/97 of visits) so the retry
    *    pass can be driven from the exploded form without ever
    *    materializing the raw response frame;
    *  - one (visit, null, null, 1, payload) row for an ok call whose
    *    response does not parse as JSON at all (repairStrict = None) —
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
      StructField("__failed", IntegerType),
      StructField("__payload", StringType)))
    val enc = Encoders.row(outSchema)
    val vIdx = called.schema.fieldIndex(visitCol)
    val stIdx = called.schema.fieldIndex("status")
    val respIdx = called.schema.fieldIndex("response")
    val pIdx = called.schema.fieldIndex("__payload")
    called.mapPartitions { rows =>
      rows.flatMap { r =>
        def failedRow = Row(Option(r.get(vIdx)).map(_.toString).orNull, null, null, 1,
          r.getString(pIdx))
        if (r.getString(stIdx) != "ok") Iterator(failedRow)
        else LlmJsonRepair.repairStrict(r.getString(respIdx), field) match {
          case None => Iterator(failedRow) // unparseable-but-HTTP-ok: retry, never approve
          case Some(m) => m.iterator.map { case (uid, text) => Row(null, uid, text, 0, null) }
        }
      }
    }(enc)
  }

  /** Core fan-out: one LLM call per visit (with a C9 retry pass over
    * failed visits), responses repaired and exploded to rows
    * (__visit, __uid, __text, __failed).
    *
    * Memory shape (the 100×/8 GB lesson): the ONLY materialized frames
    * are the exploded forms — entry rows plus the tiny failed set —
    * never the raw enrich output. Materializing the raw responses
    * first (the full 15M-visit response frame, its retry twin AND
    * the exploded rows all resident at once) tripled the heap-pressure
    * wall time at the 100× replica on the default 8 GB heap.
    * Exactly-once for the side-effecting calls still holds: each
    * enrich pass is consumed by exactly one materialized explode, and
    * every downstream branch reads those blocks.
    */
  private def callPerVisit(claims: DataFrame, visitCol: String, uidCol: String, field: String,
                           makeClient: () => ServiceClient, cfg: EnrichOperator.Config,
                           metrics: Option[EnrichOperator.Metrics]): DataFrame = {
    // The uid list lives ONLY inside the payload string (a separate
    // __uids column doubled the string volume through the call stage).
    val perVisit = claims
      .groupBy(col(visitCol))
      .agg(array_join(array_sort(collect_list(col(uidCol).cast("string"))), ",").as("__uids"))
      .select(col(visitCol),
        concat_ws("|", col(visitCol).cast("string"), col("__uids")).as("__payload"))

    val first = graft.util.Materialize.stage(
      explodeCalls(EnrichOperator.enrich(perVisit, "__payload", makeClient, cfg, metrics),
        visitCol, field))
    // C9 retry pass (reference src/predictions.py:299-314), driven from
    // the exploded failed rows (visit + payload): one fresh enrich over
    // exactly the failed visits, fresh client/breaker state. "Failed"
    // is every non-ok call — errors, unparseable answers AND
    // circuit-broken "skipped" rows — so an outage never drops a visit
    // (a dropped visit would default to "Approved"). Rows that fail
    // BOTH passes surface as terminal __failed = 1 rows; rows the
    // retry answers contribute their entries like any other visit.
    val failedPayloads = first.filter(col("__failed") === 1)
      .select(col("__visit").as(visitCol), col("__payload"))
    val retried = graft.util.Materialize.stage(
      explodeCalls(EnrichOperator.enrich(failedPayloads, "__payload", makeClient, cfg, metrics),
        visitCol, field))
    first.filter(col("__failed") === 0).unionByName(retried)
      .select(col("__visit"), col("__uid"), col("__text"), col("__failed"))
  }

  /** The fan-out's two result sets for one response `field`:
    * (failedVisits, texts). failedVisits (`__visit`) holds the visits
    * that failed both passes; it is key-sized and materialized, so
    * [[joinBack]]'s broadcast-evidence count is cheap. texts
    * (`__uid`, `__text`) rides on the materialized explode blocks.
    * The uid column is cast back to the claims' key type here:
    * casting the fact side per row would cost and break its
    * partitioning on the key.
    */
  private def resultSets(claims: DataFrame, visitCol: String, uidCol: String, field: String,
                         makeClient: () => ServiceClient, cfg: EnrichOperator.Config,
                         metrics: Option[EnrichOperator.Metrics]): (DataFrame, DataFrame) = {
    val exploded = callPerVisit(claims, visitCol, uidCol, field, makeClient, cfg, metrics)
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
    * on claims whose visit failed both passes, `__text` carries the
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
