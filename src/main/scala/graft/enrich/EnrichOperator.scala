package graft.enrich

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

/** The enrichment engine (SURVEY.md §2.C): side-effecting per-row calls
  * as an explicit, Catalyst-opaque mapPartitions stage.
  *
  * Design constraints it encodes (SURVEY §7.5.2-3):
  *  - scale-aware parallelism: the stage repartitions to
  *    `Config.parallelism` when set, else the cluster's
  *    `defaultParallelism` — it widens with the cluster, never
  *    silently caps at a constant;
  *  - global rate budget: `Config.ratePerSec` is divided by the
  *    resolved partition count, so the external service sees the same
  *    aggregate rate on 8 cores or 800;
  *  - bounded retries with backoff inside the partition;
  *  - error-as-value: failures become (status, message) columns, the
  *    batch never dies;
  *  - cost accounting via LongAccumulators (C10);
  *  - the output should be materialized (checkpoint/write) by callers
  *    before wide downstream reuse so lineage recomputation can't
  *    re-fire calls.
  */
object EnrichOperator {

  /** @param parallelism number of concurrent call partitions; <= 0
    *        (the default) derives it from the cluster's
    *        `defaultParallelism`, so the stage widens with the cluster
    *        instead of silently capping at a constant. Pass an explicit
    *        positive value when the external service, not the cluster,
    *        is the bottleneck.
    * @param ratePerSec GLOBAL call-rate budget in requests/second,
    *        split evenly across the resolved partitions (the service
    *        sees at most this rate however wide the cluster is).
    *        0 = unthrottled.
    */
  final case class Config(
      parallelism: Int = 0,
      maxAttempts: Int = 2,
      backoffMs: Long = 0L,
      ratePerSec: Double = 0.0,
      // E-family circuit breaker: after this many CONSECUTIVE
      // exhausted-retry failures in a partition, stop calling the
      // service and mark the partition's remaining rows "skipped" —
      // a dying endpoint fails in seconds instead of burning the full
      // row count x maxAttempts x backoff. 0 disables. Success resets
      // the streak. Skipped rows are replayable: they fail the
      // Checkpoint.resume anti-join exactly like errors.
      breakerThreshold: Int = 0)

  /** Resolve the effective partition count for an enrichment stage. */
  def resolveParallelism(df: DataFrame, cfg: Config): Int =
    if (cfg.parallelism > 0) cfg.parallelism
    else math.max(1, df.sparkSession.sparkContext.defaultParallelism)

  final case class Metrics(
      calls: LongAccumulator,
      failures: LongAccumulator,
      promptTokens: LongAccumulator,
      completionTokens: LongAccumulator)

  object Metrics {
    def apply(df: DataFrame, name: String): Metrics = {
      val sc = df.sparkSession.sparkContext
      Metrics(
        sc.longAccumulator(s"$name.calls"),
        sc.longAccumulator(s"$name.failures"),
        sc.longAccumulator(s"$name.promptTokens"),
        sc.longAccumulator(s"$name.completionTokens"))
    }
  }

  /** Enrich `df` by calling `client(payloadCol)` once per row. Appends
    * `status` ("ok"/"error"/"skipped"), `response` (body or null) and
    * `message` (error/skip reason or null). Row order within
    * partitions is preserved; the repartition is the only shuffle.
    */
  def enrich(df: DataFrame, payloadCol: String, makeClient: () => ServiceClient,
             cfg: Config = Config(), metrics: Option[Metrics] = None): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("status", StringType),
      StructField("response", StringType),
      StructField("message", StringType)))
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    val enc = Encoders.row(outSchema)
    val numParts = resolveParallelism(df, cfg)
    val perPartitionRate = if (cfg.ratePerSec > 0) cfg.ratePerSec / numParts else 0.0
    df.repartition(numParts).mapPartitions { rows =>
      val client = makeClient()
      val minIntervalNs =
        if (perPartitionRate > 0) (1e9 / perPartitionRate).toLong else 0L
      // nanoTime has an ARBITRARY origin (may be negative): seed from
      // it and compare only differences, or the first throttled row on
      // a negative-origin platform sleeps for |now| milliseconds.
      var nextAllowedNs = System.nanoTime()
      var failStreak = 0
      // Every ATTEMPT consumes a rate slot — charging once per row
      // would let retries fire back-to-back and multiply the
      // documented global budget exactly when the service is failing.
      def awaitRateSlot(): Unit = if (minIntervalNs > 0) {
        val now = System.nanoTime()
        if (now - nextAllowedNs < 0) Thread.sleep((nextAllowedNs - now) / 1000000L + 1)
        nextAllowedNs = (if (now - nextAllowedNs > 0) now else nextAllowedNs) + minIntervalNs
      }
      rows.map { row =>
        if (cfg.breakerThreshold > 0 && failStreak >= cfg.breakerThreshold) {
          Row.fromSeq(row.toSeq ++ Seq("skipped", null,
            s"circuit open after $failStreak consecutive failures"))
        } else {
        val payload = Option(row.get(payloadIdx)).map(_.toString).getOrElse("")
        var attempt = 0
        var result: Either[String, String] = Left("not attempted")
        while (attempt < cfg.maxAttempts && (attempt == 0 || result.isLeft)) {
          if (attempt > 0 && cfg.backoffMs > 0) Thread.sleep(cfg.backoffMs)
          awaitRateSlot()
          result = client.call(payload)
          attempt += 1
          metrics.foreach { m =>
            m.calls.add(1)
            val (p, c) = client.lastUsage
            m.promptTokens.add(p); m.completionTokens.add(c)
            if (result.isLeft) m.failures.add(1)
          }
        }
        val extra = result match {
          case Right(body) => failStreak = 0; Seq("ok", body, null)
          case Left(err)   => failStreak += 1; Seq("error", null, err)
        }
        Row.fromSeq(row.toSeq ++ extra)
        }
      }
    }(enc)
  }

  /** C1 shape: dedup to unique keys, call once per key, join results
    * back to every row carrying that key — the reference's
    * unique-iqama optimization (src/eligibility.py:217) that turns
    * row-count API volume into key-count volume.
    */
  def enrichUniqueKeys(df: DataFrame, keyCol: String, makeClient: () => ServiceClient,
                       cfg: Config = Config(), metrics: Option[Metrics] = None): DataFrame = {
    val keys = df.select(col(keyCol).cast("string").as(keyCol)).na.drop().distinct()
    val enriched = enrich(keys, keyCol, makeClient, cfg, metrics)
    // Cast the (key-count-sized) enriched side back to the fact key's
    // type — casting the fact side per row would cost a row-wise cast
    // AND break any pre-existing partitioning/bucketing on the key
    // (LlmFanout casts its uid result side back the same way).
    val back = enriched.withColumn("__k",
      col(keyCol).try_cast(df.schema(keyCol).dataType.sql)).drop(keyCol)
    df.join(back, df(keyCol) === col("__k"), "left").drop("__k")
  }
}
