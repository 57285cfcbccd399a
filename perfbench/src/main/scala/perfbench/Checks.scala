package perfbench

import graft.enrich.{EnrichOperator, MockBeneficiaryClient, MockEligibilityClient, MockLlmClient, ServiceClient}
import graft.parse.LlmJsonRepair
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. They run after the timed passes, in the session the
  * passes were timed in. Each check is also run on a deliberately
  * corrupted output, where it must fail (the `selftest` results).
  */
object Checks {

  final case class Result(name: String, ok: Boolean, detail: String = "") {
    def obj: Obj = Obj("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  /** Order-insensitive (row count, sum of row hashes): equal digests
    * mean equal multisets of rows, up to hash collisions.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(shiftright(xxhash64(df.columns.map(col).toIndexedSeq: _*), 20)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Digest of the per-key row counts. */
  def keyCounts(df: DataFrame, key: String): (Long, Long) = digest(df.groupBy(col(key)).count())

  def twice(d: (Long, Long)): (Long, Long) = (2 * d._1, 2 * d._2)

  /** A loaded table for the DuckDB compare: `sql` runs over the input
    * tables; with `project`, the loaded table is cut to the SQL's columns.
    */
  final case class OracleTarget(name: String, path: String, sql: String, project: Boolean) {
    def obj: Obj = Obj("name" -> name, "path" -> path, "sql" -> sql, "project" -> project)
  }

  /** Checks the etl pass whose loaded tables are in `dir`, with the
    * first load's tables copied to `snap` before the rerun. `returned`
    * holds each job's (first, rerun) row counts.
    *  - first load: `JobRunner.run` returned the appended row count,
    *    the CSV archive holds as many rows, `current` holds the
    *    appended rows (so each key as often as the pipeline emits it);
    *  - rerun: `current` unchanged, `append` doubled;
    *  - incremental: the first run loads every event, the rerun none;
    *  - the appended rows themselves are compared with the pipelines'
    *    DuckDB oracles (`SparkEntry.oracleSql`) by the caller.
    */
  def etl(ctx: Ctx, dir: String, snap: String, returned: Map[String, (Long, Long)]): (Seq[Result], Seq[Result], Seq[OracleTarget]) = {
    val s = ctx.spark
    def read(p: String): DataFrame = s.read.parquet(p)
    val results = Seq.newBuilder[Result]
    val selftest = Seq.newBuilder[Result]
    Seq("eligibility" -> Some("visit_id"), "predictions" -> Some("uid"), "resubmission" -> None).foreach {
      case (job, key) =>
        val appendFirst = read(s"$snap/$job/append")
        val first = digest(appendFirst)
        val (n1, n2) = returned(job)
        results += Result(s"$job.returned_rows", n1 == first._1 && n2 == first._1,
          s"first=$n1 rerun=$n2 appended=${first._1}")
        val archived = s.read.option("header", "true").csv(s"$snap/$job/archive").count()
        results += Result(s"$job.archive_rows", archived == first._1, s"archive=$archived append=${first._1}")
        val appendAfter = digest(read(s"$dir/$job/append"))
        results += Result(s"$job.append_doubled_after_rerun", appendAfter == twice(first))
        key.foreach { k =>
          val currentFirst = read(s"$snap/$job/current").drop("part_bucket")
          results += Result(s"$job.current_equals_append", digest(currentFirst) == first)
          val keys = keyCounts(appendFirst, k)
          results += Result(s"$job.current_key_counts", keyCounts(currentFirst, k) == keys,
            s"keys=${keys._1} rows=${first._1}")
          val after = digest(read(s"$dir/$job/current").drop("part_bucket"))
          results += Result(s"$job.current_unchanged_after_rerun", after == first)
          if (job == "eligibility") {
            val dup = currentFirst.unionByName(currentFirst.limit(1))
            selftest += Result("selftest.current_equals_append_trips", digest(dup) != first)
            selftest += Result("selftest.current_key_counts_trips", keyCounts(dup, k) != keys)
            selftest += Result("selftest.missing_row_trips", digest(appendFirst.limit(first._1.toInt - 1)) != first)
          }
        }
    }
    val events = graft.tables.TestTables.events(s, ctx.input).count()
    val (e1, e2) = returned("incremental")
    results += Result("incremental.first_loads_all_events", e1 == events, s"loaded=$e1 events=$events")
    results += Result("incremental.rerun_loads_none", e2 == 0L, s"loaded=$e2")
    results += Result("incremental.append_unchanged_after_rerun",
      digest(read(s"$dir/events/append")) == digest(read(s"$snap/events/append")))
    val oracle = Seq("eligibility", "predictions", "resubmission").map { job =>
      val q = s"q_pipeline_$job"
      OracleTarget(q, s"$snap/$job/append", graft.SparkEntry.oracleSql(q), project = false)
    } :+ OracleTarget("incremental_events", s"$snap/events/append",
      "SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us FROM events", project = true)
    (results.result(), selftest.result(), oracle)
  }

  // ------------------------------------------------------------ enrich

  /** Calls and failures the enrich contract implies for one stage:
    * each row is called until a success or `maxAttempts` calls, and
    * with `retryPass`, rows still failed, or answered with a body it
    * rejects, get one more such round with a fresh client.
    */
  def expectedCalls(payloads: Seq[String], make: () => ServiceClient, maxAttempts: Int,
                    retryPass: Option[String => Boolean]): (Long, Long) = {
    var calls, failures = 0L
    def round(ps: Seq[String]): Seq[String] = {
      val client = make()
      ps.filter { p =>
        var attempt = 0
        var result: Either[String, String] = Left("not attempted")
        while (attempt < maxAttempts && (attempt == 0 || result.isLeft)) {
          result = client.call(p); attempt += 1; calls += 1
          if (result.isLeft) failures += 1
        }
        result.fold(_ => true, body => retryPass.exists(bad => bad(body)))
      }
    }
    val left = round(payloads)
    if (retryPass.isDefined) round(left)
    (calls, failures)
  }

  /** Checks the enrich passes: each stage's output through the delay
    * wrapper hash-equals its output with instant mocks, and its calls
    * and failures equal what the retry contract implies for its rows
    * (calls = rows + retries).
    */
  def enrich(ctx: Ctx, delayed: Seq[Seq[Workloads.Stage]], instant: Seq[Workloads.Stage]): (Seq[Result], Seq[Result]) = {
    val (visits, claims) = Workloads.enrichInput(ctx)
    val tampered = digest(EnrichOperator.enrich(visits.withColumn("__payload", col("visit_id").cast("string")),
        "__payload", () => new MockEligibilityClient(), EnrichOperator.Config(maxAttempts = 2))
      .withColumn("response", when(col("visit_id") % 2 === 0, lit("tampered")).otherwise(col("response"))))
    val vs = visits.collect().map(r => (r.getLong(0).toString, Option(r.get(1)).map(_.toString))).toSeq
    val perVisit = claims.collect().groupBy(_.getLong(0)).toSeq.map { case (v, rows) =>
      s"$v|" + rows.map(_.getLong(1).toString).sorted.mkString(",")
    }
    def submitCalls(visitIds: Seq[String]) = expectedCalls(visitIds, () => new MockEligibilityClient(), 2, None)
    val expected = Map(
      "submit" -> submitCalls(vs.map(_._1)),
      "unique_keys" -> expectedCalls(vs.flatMap(_._2).distinct, () => new MockBeneficiaryClient(), 2, None),
      "llm_fanout" -> expectedCalls(perVisit, () => new MockLlmClient(), 2,
        Some(body => LlmJsonRepair.repairStrict(body, "Rejected").isEmpty)))
    val results = instant.flatMap { i =>
      val (calls, failures) = expected(i.name)
      val ds = delayed.map(_.find(_.name == i.name).get)
      Seq(
        Result(s"enrich.${i.name}.delayed_output_equals_instant", ds.forall(_.digest == i.digest),
          s"delayed=${ds.map(_.digest).distinct.mkString(",")} instant=${i.digest}"),
        Result(s"enrich.${i.name}.calls", (i +: ds).forall(_.calls == calls),
          s"observed=${(i +: ds).map(_.calls).distinct.mkString(",")} expected=$calls rows=${i.rows}"),
        Result(s"enrich.${i.name}.failures", (i +: ds).forall(_.failures == failures),
          s"observed=${(i +: ds).map(_.failures).distinct.mkString(",")} expected=$failures"))
    }
    val selftest = Seq(
      Result("selftest.enrich_output_trips", tampered != instant.find(_.name == "submit").get.digest),
      Result("selftest.enrich_calls_trips",
        instant.find(_.name == "submit").get.calls != submitCalls(vs.drop(1).map(_._1))._1))
    (results, selftest)
  }
}
