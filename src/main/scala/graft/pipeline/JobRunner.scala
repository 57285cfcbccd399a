package graft.pipeline

import graft.ops.ColumnOps
import graft.sink.Sinks
import graft.streaming.Incremental
import graft.tables.TestTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI entry mirroring the reference's Airflow DAG graphs as
  * spark-submit jobs (dags/eligibilty_etl.py, dags/resubmission_etl.py,
  * dags/clinics_resubmission_etl.py). An orchestrator (Airflow cron)
  * invokes one of:
  *
  *   spark-submit --class graft.pipeline.JobRunner app.jar eligibility  <sfDir> <outDir>
  *   spark-submit --class graft.pipeline.JobRunner app.jar predictions  <sfDir> <outDir>
  *   spark-submit --class graft.pipeline.JobRunner app.jar resubmission <sfDir> <outDir>
  *   spark-submit --class graft.pipeline.JobRunner app.jar incremental  <sfDir> <outDir>
  *
  * The session comes from [[graft.GraftSession]]: spark-submit's master
  * is kept; without one the job runs on local[SPARK_GRAFT_CPUS].
  *
  * Each run: empty-input short-circuit (E4), pipeline transform, CSV
  * archive (B3) + keyed upsert (D2), then parquet append load (D1). The
  * incremental job maintains a durable high-water mark instead of the
  * reference's overlap window.
  */
object JobRunner {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: JobRunner <job> <sfDir> <outDir>")
    val Array(job, sfDir, outDir) = args.take(3)
    val spark = graft.GraftSession.create()
    // Optional 4th arg: a durable checkpoint directory. When given,
    // every pipeline stage boundary materializes via a reliable
    // checkpoint instead of localCheckpoint blocks — executor loss
    // mid-LLM-stage then costs a re-read of durable storage, not the
    // job (the right trade for a long production run; bench/test runs
    // keep the fail-stop default).
    args.drop(3).headOption.foreach(d => enableReliable(spark, d))
    try runNotified(spark, job, sfDir, outDir, new FileNotifier(s"$outDir/_notifications"))
    finally spark.stop()
  }

  /** Route all Materialize.stage boundaries through durable
    * checkpoints rooted at `dir` for this session.
    */
  def enableReliable(spark: SparkSession, dir: String): Unit = {
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(graft.util.Materialize.reliableConf, "true")
  }

  /** E5 wrapper: a failed run leaves a durable notification record and
    * still fails the process (the orchestrator must see the non-zero
    * exit — notification is an addition to failure, never a swallow).
    */
  def runNotified(spark: SparkSession, job: String, sfDir: String, outDir: String,
                  notifier: FailureNotifier): Long =
    try run(spark, job, sfDir, outDir)
    catch {
      case e: Throwable =>
        try notifier.notifyFailure(job, e)
        catch { case ne: Throwable => e.addSuppressed(ne) }
        throw e
    }

  def run(spark: SparkSession, job: String, sfDir: String, outDir: String): Long = job match {
    case "eligibility" =>
      val out = Pipelines.eligibility(spark, sfDir)
      load(out, s"$outDir/eligibility", upsertKey = Some("visit_id"))
    case "predictions" =>
      val out = Pipelines.predictions(spark, sfDir)
      load(out, s"$outDir/predictions", upsertKey = Some("uid"))
    case "resubmission" =>
      val out = Pipelines.resubmission(spark, sfDir)
      load(out, s"$outDir/resubmission", upsertKey = None)
    case "incremental" =>
      // The typed `ts` is derived (raw physical column → timestamp) so
      // a predicate on it cannot reach the parquet scan; give the
      // watermark cut the schema-matched raw form that does (see
      // Incremental.rawPredicate / TestTables.eventsWatermarkPredicate).
      val inc = new Incremental(spark, s"$outDir/state", "ts",
        rawPredicate = Some(TestTables.eventsWatermarkPredicate(spark, sfDir)))
      inc.runBatch(TestTables.events(spark, sfDir)) { batch =>
        load(batch.drop("props", "ts_ns", "ts_raw"), s"$outDir/events", upsertKey = None)
      }
    case other => throw new IllegalArgumentException(s"unknown job: $other")
  }

  /** Hash-bucket count for the `current` table's partition layout. */
  val upsertBuckets = 16

  /** load_data task: E4 short-circuit, then CSV archive and keyed
    * upsert together, then the parquet append.
    *
    * Append goes last because it is the one write that is not
    * idempotent: archive overwrites and upsert merges on the key, so a
    * failed attempt that appended nothing can be retried whole (the
    * DAG's `retries=2`) and the batch still lands in `append` once.
    * Archive and upsert are independent, so they run at once
    * ([[graft.util.Concurrent.both]]); a load without an upsert runs
    * archive, then append.
    *
    * The upsert goes through the partition-pruned rename-aside path
    * (Sinks.upsertPartitioned), never the full-table rewrite: the
    * `current` table is laid out in `part_bucket = xxhash64(key) mod
    * buckets` partitions — stable per key (the same property a date or
    * tenant partition would give), so an incremental run rewrites only
    * the buckets containing updated keys and untouched buckets are
    * never read or written.
    */
  private[pipeline] def load(df: DataFrame, base: String, upsertKey: Option[String]): Long = {
    val out = df.persist()
    try {
      val n = out.count()
      if (n == 0) return 0L // E4: AirflowSkipException analog
      def archive(): Unit = Sinks.archiveCsv(out.withColumn("archived_at", lit("run")), s"$base/archive")
      upsertKey match {
        case Some(k) =>
          val bucketed = out.withColumn("part_bucket",
            pmod(xxhash64(col(k)), lit(upsertBuckets.toLong)).cast("int"))
          graft.util.Concurrent.both(archive(),
            Sinks.upsertPartitioned(out.sparkSession, s"$base/current", bucketed, k, "part_bucket"))
        case None => archive()
      }
      Sinks.append(out, s"$base/append")
      n
    } finally out.unpersist()
  }
}
