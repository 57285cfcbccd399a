package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: timed passes of one workload, the
  * output checks, and with --trace 1 the per-layer probes under the
  * span tracer. Writes the run report as JSON; `perfbench/run.py`
  * derives the input before and runs the DuckDB oracle compare after.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1
  *            --input DIR --work DIR --report FILE
  */
object Main {

  val workloads: Seq[String] = Seq("etl_jobs", "enrich_latency")

  /** Fewest timed enrich passes per run, however long they take. */
  val minPasses = 2

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    // The configuration graft.Bench times the headline queries in.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.tables.TestTables.nanosAsLongConf._1, graft.tables.TestTables.nanosAsLongConf._2)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(workloads.contains(workload), s"unknown workload $workload (known: ${workloads.mkString(", ")})")
    val work = opts("work")
    val spark = session(work)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, new Tracer(spark, opts("trace") == "1"), opts("input"), work, opts("seed").toLong)
    val report = try new Run(ctx, workload, opts("seconds").toDouble).execute(sessionS) finally spark.stop()
    Files.write(opts("report"), Json.render(report))
  }
}

/** Timings of one pass plus its hygiene record. */
final case class Pass(kind: String, seconds: Double, loadBefore: Double, loadAfter: Double,
                      barriers: Int, barrierBytes: Long, values: Seq[(String, Double)]) {
  def value(key: String): Option[Double] = values.find(_._1 == key).map(_._2)
  def obj: Obj = Obj("kind" -> kind, "s" -> seconds, "loadavg_before" -> loadBefore,
    "loadavg_after" -> loadAfter, "materialize_barriers" -> barriers,
    "materialize_bytes" -> barrierBytes, "values" -> Obj(values: _*))
}

final class Run(ctx: Ctx, workload: String, seconds: Double) {
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val tracer = ctx.tracer
  private val checks = mutable.ArrayBuffer.empty[Checks.Result]
  private val selftest = mutable.ArrayBuffer.empty[Checks.Result]
  private val oracle = mutable.ArrayBuffer.empty[Checks.OracleTarget]
  private var attempted = 0L
  private var failed = 0L
  /** Seconds the output checks took (outside every timed section). */
  private var checkS = 0.0

  /** Runs `body` as one pass in a fresh directory: records loadavg
    * around it, then frees the persisted RDDs it created (after noting
    * their count and stored size) and deletes the directory.
    */
  private def pass(kind: String)(body: String => Seq[(String, Double)]): Pass = {
    val dir = ctx.freshDir(kind)
    val before = sc.getPersistentRDDs.keySet
    val loadBefore = Files.loadAvg()
    tracer.newTrace(dir.split('/').last)
    val (values, s) = Timed(tracer.span(kind)(body(dir)))
    val created = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    val bytes = sc.getRDDStorageInfo.filter(i => created.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    created.values.foreach(_.unpersist(blocking = true))
    Files.delete(dir)
    Pass(kind, s, loadBefore, Files.loadAvg(), created.size, bytes, values)
  }

  /** One operation for `attempted`/`failed`: it fails if it throws or
    * `ok` rejects its result.
    */
  private def operation[T](name: String)(body: => T)(ok: T => Boolean): Option[T] = {
    attempted += 1
    try {
      val r = body
      if (!ok(r)) failed += 1
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        checks += Checks.Result(name, ok = false, s"${e.getClass.getName}: ${e.getMessage}".take(500))
        None
    }
  }

  // ------------------------------------------------------------ passes

  /** An etl pass. With `check`, the first load's tables are copied aside
    * (untimed) before the rerun, and the checks run on the kept output.
    */
  private def etlPass(check: Boolean)(dir: String): Seq[(String, Double)] = {
    val snap = s"${ctx.work}/snapshot"
    val p = Workloads.etl(ctx, dir, () => if (check) Files.copy(dir, snap))
    if (check) {
      val returned = p.first.map { case (j, _, n) => j -> n }.toMap
        .map { case (j, n) => j -> (n, p.rerun.find(_._1 == j).get._3) }
      val (checked, t) = Timed(operation("etl.checks")(Checks.etl(ctx, dir, snap, returned))(_._1.forall(_.ok)))
      checked.foreach { case (r, st, targets) => checks ++= r; selftest ++= st; oracle ++= targets }
      checkS = t
    }
    p.first.map { case (j, s, _) => s"etl.${j}_job_s" -> s } ++ Seq(
      "etl.first_s" -> p.firstS, "etl.rerun_s" -> p.rerunS, "etl.rows" -> p.rows.toDouble,
      "pass_s" -> (p.firstS + p.rerunS), "rate_per_s" -> p.rows / (p.firstS + p.rerunS))
  }

  /** Stages of every delayed enrich pass, for the check. */
  private val delayedPasses = mutable.ArrayBuffer.empty[Seq[Workloads.Stage]]

  private def enrichPass(dir: String): Seq[(String, Double)] = {
    val stages = Workloads.enrich(ctx, delayed = true)
    delayedPasses += stages
    val wall = stages.map(_.seconds).sum
    val calls = stages.map(_.calls).sum
    val failures = stages.map(_.failures).sum
    val wait = stages.map(_.waitS).sum
    stages.map(st => s"enrich.${st.name}_s" -> st.seconds) ++ Seq(
      "enrich.s" -> wall,
      "enrich.calls" -> calls.toDouble,
      "enrich.failures" -> failures.toDouble,
      "enrich.retries" -> (calls - stages.map(_.rows).sum).toDouble,
      "enrich.ok_per_call" -> (calls - failures).toDouble / calls,
      "enrich.prompt_tokens" -> stages.map(_.promptTokens).sum.toDouble,
      "enrich.client_wait_s" -> wait,
      "enrich.inflight_mean" -> wait / wall,
      "pass_s" -> wall, "rate_per_s" -> calls / wall)
  }

  /** The instant-mock enrich stages: the warm-up pass, and the
    * reference output the delayed passes are checked against.
    */
  private var instantStages: Seq[Workloads.Stage] = Nil

  private def enrichWarmup(dir: String): Seq[(String, Double)] = {
    instantStages = Workloads.enrich(ctx, delayed = false)
    instantStages.map(st => s"enrich.${st.name}_s" -> st.seconds)
  }

  private def enrichCheck(): Unit = {
    val (checked, t) = Timed(operation("enrich.checks")(Checks.enrich(ctx, delayedPasses.toSeq, instantStages))(
      r => r._1.forall(_.ok) && delayedPasses.nonEmpty))
    checked.foreach { case (r, st) => checks ++= r; selftest ++= st }
    checkS = t
  }

  // --------------------------------------------------------------- run

  def execute(sessionS: Double): Obj = {
    // etl_jobs times the JVM's first pass: each JobRunner run in
    // production is a fresh spark-submit, so users pay the cold start
    // every time. It is also the checked pass: the checks need the
    // snapshot it takes between its first load and its rerun.
    // enrich_latency warms up (set-up, untimed, untraced) with the
    // instant-mock stages the delayed passes are checked against, then
    // times delayed passes, at least `minPasses`, until `seconds` have
    // been measured (traced: once, in `layers`).
    val warmupS =
      if (workload == "etl_jobs") 0.0
      else {
        tracer.active = false
        val s = Timed.seconds(operation("enrich_latency.warmup")(pass("enrich_latency.warmup")(enrichWarmup))(_ => true))
        tracer.active = tracer.enabled
        s
      }
    val timed = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    if (workload == "etl_jobs")
      operation("etl_jobs.pass")(pass(workload)(etlPass(check = true)))(_ => true).foreach(timed += _)
    else while (!tracer.enabled && (timed.size < Main.minPasses || (System.nanoTime() - t0) / 1e9 < seconds))
      operation("enrich_latency.pass")(pass(workload)(enrichPass))(_ => true).foreach(timed += _)
    val measuredS = (System.nanoTime() - t0) / 1e9
    val perLayer = if (tracer.enabled) Some(layers(timed.toSeq)) else None
    if (workload == "enrich_latency") enrichCheck()
    def med(key: String): Double = Main.median(timed.flatMap(_.value(key)).toSeq)
    val keys = timed.headOption.map(_.values.map(_._1)).getOrElse(Nil)

    Obj(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> tracer.enabled,
      "metrics" -> Obj("session_s" -> sessionS, "warmup_s" -> warmupS,
        "pass_s" -> med("pass_s"), "rate_per_s" -> med("rate_per_s")),
      "per_layer" -> perLayer,
      "workload_medians" -> Obj(keys.map(k => k -> med(k)): _*),
      "attempted" -> attempted, "failed" -> failed,
      "checks" -> checks.map(_.obj), "selftest" -> selftest.map(_.obj),
      "oracle_targets" -> oracle.map(_.obj),
      "check_s" -> checkS, "measured_s" -> measuredS,
      "passes" -> timed.map(_.obj),
      "hygiene" -> Obj(
        "cpus" -> Runtime.getRuntime.availableProcessors(),
        "default_parallelism" -> sc.defaultParallelism,
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
        "spark_version" -> spark.version),
      "spans" -> tracer.report)
  }

  /** The traced suite: the workload's pass (the etl pass has already
    * run, traced, as `timed`), then every layer probe, so each per-layer
    * metric is measured in every traced run. The etl pass is the JVM's
    * first in both workloads.
    */
  private def layers(timed: Seq[Pass]): Obj = {
    tracer.active = true
    val values = mutable.LinkedHashMap.empty[String, Double]
    def add(p: Pass): Unit = p.values.foreach { case (k, v) => if (k != "pass_s" && k != "rate_per_s") values(k) = v }

    val own =
      if (workload == "enrich_latency") pass(workload)(enrichPass)
      else timed.headOption.getOrElse(throw new IllegalStateException(s"etl_jobs pass failed: ${checks.last.detail}"))
    val etl = if (workload == "etl_jobs") own else pass("etl_jobs")(etlPass(check = false))
    val enrich = if (workload == "enrich_latency") own else pass("enrich_latency")(enrichPass)
    add(etl); add(enrich)
    tracer.drain()
    val etlSpan = tracer.root("etl_jobs").get
    values("materialize.barriers") = etl.barriers.toDouble
    values("materialize.bytes") = etl.barrierBytes.toDouble
    values("materialize.s") = tracer.subtree(etlSpan.id).materializeJobMs / 1e3
    tracer.spans.filter(s => s.name.startsWith("job.") && s.name.endsWith(".first") && isUnder(s, etlSpan.id))
      .foreach { s =>
        values(s"etl.${s.name.stripPrefix("job.").stripSuffix(".first")}_unexplained_s") = s.seconds - tracer.jobSeconds(s.id)
      }
    val instant = pass("enrich_instant")(_ => Seq("etl.enrich_instant_s" ->
      Workloads.enrich(ctx, delayed = false, sample = None).map(_.seconds).sum))
    values ++= instant.values
    values("etl.enrich_share") = instant.values.head._2 / values("etl.first_s")

    add(pass("probe.relational")(_ => Workloads.relational(ctx)))
    add(pass("probe.pipeline_sink") { dir =>
      val (times, outputs) = Workloads.pipelines(ctx)
      try times ++ Workloads.sink(ctx, dir, outputs)
      finally outputs.foreach(_._2.unpersist(blocking = true))
    })
    add(pass("probe.parse")(_ => Workloads.parse(ctx)))
    add(pass("probe.registry")(_ => Workloads.registry(ctx)))

    tracer.drain()
    val c = tracer.subtree(tracer.root(workload).get.id)
    values ++= Seq(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble, "spark.tasks" -> c.tasks.toDouble,
      "spark.executor_run_s" -> c.executorRunMs / 1e3, "spark.gc_s" -> c.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "spark.spill_disk_bytes" -> c.spillDiskBytes.toDouble,
      "trace.pass_s" -> own.value("pass_s").get)
    Obj(values.toSeq: _*)
  }

  private def isUnder(s: Span, ancestor: Int): Boolean =
    s.parent == ancestor || (s.parent >= 0 && isUnder(tracer.spans(s.parent), ancestor))
}
