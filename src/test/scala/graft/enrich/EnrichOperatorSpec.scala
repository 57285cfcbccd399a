package graft.enrich

import graft.SharedSpark
import graft.parse.LlmJsonRepair
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-client-instance state for the retry tests: the C9 retry
  * round calls through FRESH clients, so "fail first, answer
  * afterwards" needs JVM-wide state (fine under local mode).
  */
object FlakyJsonState {
  val tries = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** JVM-wide probes of the call window: every `call` the service saw,
  * and the most calls it saw at once.
  */
object WindowProbe {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
  val peak = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { calls.set(0); inFlight.set(0); peak.set(0) }
}

/** Answers after `sleepMs`, recording calls and the in-flight peak. */
class ProbeClient(sleepMs: Long) extends ServiceClient {
  override def call(payload: String): Either[String, String] = {
    WindowProbe.calls.incrementAndGet()
    WindowProbe.peak.accumulateAndGet(WindowProbe.inFlight.incrementAndGet(), math.max)
    try { if (sleepMs > 0) Thread.sleep(sleepMs); Right(payload) }
    finally WindowProbe.inFlight.decrementAndGet()
  }
}

/** Reads the task context where the threading contract allows it: in
  * the constructor, on the task thread.
  */
class PartitionEchoClient extends ServiceClient {
  private val partition = org.apache.spark.TaskContext.get().partitionId()
  override def call(payload: String): Either[String, String] = Right(partition.toString)
}

class EnrichOperatorSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("transient failures recover via in-partition retry; metrics count the extra calls") {
    val df = (1L to 50L).toDF("k").withColumn("__p", $"k".cast("string"))
    val m = EnrichOperator.Metrics(df, "test")
    val out = EnrichOperator.enrich(df, "__p", () => new MockBeneficiaryClient(transientEvery = 7),
      EnrichOperator.Config(parallelism = 2, maxAttempts = 2), Some(m))
    assert(out.filter($"status" === "error").count() == 0)
    val transientKeys = (1L to 50L).count(_ % 7 == 0)
    assert(m.calls.value == 50 + transientKeys)
    assert(m.failures.value == transientKeys)
  }

  test("default config widens with the cluster: partition count = defaultParallelism") {
    val df = (1L to 100L).toDF("k").withColumn("__p", $"k".cast("string"))
    val out = EnrichOperator.enrich(df, "__p", () => new MockBeneficiaryClient(0))
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "unset parallelism must follow the cluster, not a hard-coded constant")
    val explicit = EnrichOperator.enrich(df, "__p", () => new MockBeneficiaryClient(0),
      EnrichOperator.Config(parallelism = 3))
    assert(explicit.rdd.getNumPartitions == 3, "explicit override still wins")
  }

  test("terminal errors surface as values, not exceptions") {
    val df = (1L to 33L).toDF("v").withColumn("__p", $"v".cast("string"))
    val out = EnrichOperator.enrich(df, "__p", () => new MockEligibilityClient(),
      EnrichOperator.Config(parallelism = 2))
    val errs = out.filter($"status" === "error").select($"v").as[Long].collect().toSet
    assert(errs == (1L to 33L).filter(_ % 11 == 0).toSet)
    assert(out.filter($"status" === "error" && $"message".contains("timeout")).count() == errs.size)
  }

  test("enrich is idempotent: two runs produce identical results") {
    val df = (1L to 40L).toDF("k").withColumn("__p", $"k".cast("string"))
    def run() = EnrichOperator.enrich(df, "__p", () => new MockBeneficiaryClient(0),
      EnrichOperator.Config(parallelism = 3)).select($"k", $"response").collect().toSet
    assert(run() == run())
  }

  test("enrichUniqueKeys calls once per distinct key, not per row") {
    val df = Seq(1L, 1L, 1L, 2L, 2L, 3L).toDF("iqama")
    val m = EnrichOperator.Metrics(df, "uniq")
    val out = EnrichOperator.enrichUniqueKeys(df, "iqama", () => new MockBeneficiaryClient(0),
      EnrichOperator.Config(parallelism = 2), Some(m))
    assert(out.count() == 6)
    assert(m.calls.value == 3)
  }

  test("rate limiter paces calls per partition") {
    val df = (1L to 10L).toDF("k").withColumn("__p", $"k".cast("string"))
    val t0 = System.nanoTime()
    EnrichOperator.enrich(df, "__p", () => new MockBeneficiaryClient(0),
      EnrichOperator.Config(parallelism = 1, ratePerSec = 100.0)).count()
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs >= 80, s"10 calls at 100/s in one partition should take >=~90ms, took $elapsedMs")
  }

  test("checkpoint record + filterNew resumes exactly where it left off") {
    val tmp = java.nio.file.Files.createTempDirectory("ckpt_spec").toString
    val ckpt = new Checkpoint(spark, tmp, "id")
    val all = (1L to 20L).toDF("id")
    assert(ckpt.filterNew(all).count() == 20, "empty checkpoint passes everything")
    ckpt.record(all.filter($"id" <= 8), "run1")
    assert(ckpt.filterNew(all).as[Long].collect().toSet == (9L to 20L).toSet)
    ckpt.record(all.filter($"id" > 8), "run2")
    assert(ckpt.filterNew(all).count() == 0)
  }

  test("checkpoint filterNew on an empty store plans no join") {
    // The empty store is a one-column empty relation; the optimizer
    // drops the anti join against it, so a first run pays no shuffle.
    val tmp = java.nio.file.Files.createTempDirectory("ckpt_empty").toString + "/keys"
    val plan = new Checkpoint(spark, tmp, "id").filterNew((1L to 5L).toDF("id"))
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
      s"first-run anti join must be planned away:\n$plan")
  }

  test("checkpoint store with only _temporary crash debris reads as empty, not wedged") {
    // A first record() that crashed mid-write leaves files only under
    // _temporary/ — Spark's reader ignores them, so the probe must
    // classify the store as empty instead of attempting a read that
    // fails schema inference on every subsequent batch.
    val tmp = java.nio.file.Files.createTempDirectory("ckpt_debris").toString
    // An underscore-prefixed dir distinct from the live committer's
    // own _temporary, so the later REAL write can't collide with the
    // planted debris (the probe treats any hidden segment the same).
    val debris = java.nio.file.Paths.get(tmp, "_abandoned_attempt", "0")
    java.nio.file.Files.createDirectories(debris)
    java.nio.file.Files.writeString(debris.resolve("part-00000.parquet"), "not parquet")
    val ckpt = new Checkpoint(spark, tmp, "id")
    assert(ckpt.filterNew((1L to 5L).toDF("id")).count() == 5,
      "crash debris must read as an empty store")
    // A real record afterwards works normally.
    ckpt.record((1L to 2L).toDF("id"), "run1")
    assert(ckpt.filterNew((1L to 5L).toDF("id")).as[Long].collect().toSet == (3L to 5L).toSet)
  }

  test("LlmFanout.predict: rejection map exploded and joined back to claims") {
    val claims = Seq((1L, 10L), (1L, 11L), (2L, 25L), (97L, 970L))
      .toDF("visit_id", "uid")
    val out = LlmFanout.predict(claims, "visit_id", "uid", () => new MockLlmClient(),
        EnrichOperator.Config(parallelism = 2))
      .select($"uid", $"medical_prediction").as[(Long, String)].collect().toMap
    assert(out(10L) == "Rejected")
    assert(out(11L) == "Approved")
    assert(out(25L) == "Rejected")
    assert(out(970L) == "Failed to reach LLM")
  }

  test("LlmFanout: unparseable-but-HTTP-ok responses retry, then terminally fail — never approve") {
    // The reference treats a JSONDecodeError like a transport failure
    // (predictions.py:276-288): failed visit -> retry -> terminal
    // "Failed to reach LLM". An ok-status response that no repair
    // strategy can parse must NOT collapse to an empty rejection map
    // (which downstream reads as "LLM approved everything").
    val claims = (1L to 8L).map(v => (v, v * 10)).toDF("visit_id", "uid")
    val m = EnrichOperator.Metrics(claims, "parsefail")
    val garbage = () => new ServiceClient {
      override def call(payload: String): Either[String, String] = {
        val visit = payload.split('|')(0).toLong
        if (visit == 7L) Right("I am sorry, I cannot help with that request.")
        else Right("""{"Rejected": {}}""")
      }
    }
    val out = LlmFanout.predict(claims, "visit_id", "uid", garbage,
        EnrichOperator.Config(parallelism = 2), Some(m))
      .select($"uid", $"medical_prediction").as[(Long, String)].collect().toMap
    assert(out(70L) == "Failed to reach LLM", "a parse failure must never default to Approved")
    assert((1L to 8L).filterNot(_ == 7L).forall(v => out(v * 10) == "Approved"),
      "parsed-but-empty rejection maps stay Approved: " + out)
    assert(m.calls.value == 9, s"the parse-failed visit must get exactly one retry call, calls=${m.calls.value}")
  }

  test("LlmFanout: a parse failure that repairs on retry contributes its entries normally") {
    FlakyJsonState.tries.set(0)
    val claims = Seq((7L, 70L), (7L, 71L), (2L, 20L)).toDF("visit_id", "uid")
    val healing = () => new ServiceClient {
      override def call(payload: String): Either[String, String] = {
        val visit = payload.split('|')(0).toLong
        if (visit == 7L && FlakyJsonState.tries.getAndIncrement() == 0)
          Right("json coming right up!") // first attempt: no JSON anywhere
        else if (visit == 7L)
          Right("""{"Rejected": {"70": "service 70 is a duplicate order"}}""")
        else Right("""{"Rejected": {}}""")
      }
    }
    val out = LlmFanout.predict(claims, "visit_id", "uid", healing,
        EnrichOperator.Config(parallelism = 1))
      .select($"uid", $"medical_prediction").as[(Long, String)].collect().toMap
    assert(out(70L) == "Rejected", "the healed retry's entries must flow like any other visit")
    assert(out(71L) == "Approved")
    assert(out(20L) == "Approved")
  }

  test("LlmFanout.justify: parse failures surface as the terminal justification marker") {
    // C5 shares explodeCalls with predict, but its downstream labeling
    // differs (justification column, not medical_prediction) — pin the
    // parse-failure contract on this face too.
    val claims = Seq((3L, 30L), (9L, 90L)).toDF("visit_id", "uid")
    val garbage = () => new ServiceClient {
      override def call(payload: String): Either[String, String] = {
        val visit = payload.split('|')(0).toLong
        if (visit == 9L) Right("no json here, ever")
        else Right("""{"Justifications": {"30": "clinically indicated"}}""")
      }
    }
    val out = LlmFanout.justify(claims, "visit_id", "uid", garbage,
        EnrichOperator.Config(parallelism = 1))
      .select($"uid", $"justification").as[(Long, String)].collect().toMap
    assert(out(30L) == "clinically indicated")
    assert(out(90L) == "Failed to reach LLM",
      "a parse-failed visit must carry the terminal marker, not a null justification")
  }

  test("LlmFanout: two answers naming one uid keep one row per claim") {
    // The uids in an answer are the model's, not ours: both visits
    // here name uid 20, which only visit 2 owns. The join-back keys on
    // uid, so without a per-uid dedup claim 20 would come out twice.
    val claims = Seq((1L, 10L), (2L, 20L)).toDF("visit_id", "uid")
    val sameUid = () => new ServiceClient {
      override def call(payload: String): Either[String, String] =
        Right("""{"Rejected": {"20": "duplicate order"}, "Justifications": {"20": "indicated"}}""")
    }
    val cfg = EnrichOperator.Config(parallelism = 1)
    val predicted = LlmFanout.predict(claims, "visit_id", "uid", sameUid, cfg)
      .select($"uid", $"medical_prediction").as[(Long, String)].collect()
    assert(predicted.length == claims.count(), predicted.mkString(", "))
    assert(predicted.toMap == Map(10L -> "Approved", 20L -> "Rejected"))
    val justified = LlmFanout.justify(claims, "visit_id", "uid", sameUid, cfg)
      .select($"uid", $"justification").as[(Long, String)].collect()
    assert(justified.length == claims.count(), justified.mkString(", "))
    assert(justified.toMap == Map(10L -> null, 20L -> "indicated"))
  }

  test("LlmFanout.predict: breaker-skipped visits heal on the retry pass") {
    // An outage during the first two calls trips the breaker
    // (threshold 2), so the first pass skips every later visit. The
    // retry pass must call every failed AND skipped visit again: no
    // claim may vanish or carry the terminal marker, and the retry
    // calls are billed to the metrics.
    FlakyJsonState.tries.set(0)
    val visits = 6L
    val claims = (1L to visits).flatMap(v => Seq((v, v * 10), (v, v * 10 + 1))).toDF("visit_id", "uid")
    val m = EnrichOperator.Metrics(claims, "outage")
    val outage = () => new ServiceClient {
      override def call(payload: String): Either[String, String] =
        if (FlakyJsonState.tries.getAndIncrement() < 2) Left("endpoint down")
        else Right("""{"Rejected": {}}""")
    }
    val out = LlmFanout.predict(claims, "visit_id", "uid", outage,
        EnrichOperator.Config(parallelism = 1, maxAttempts = 1, breakerThreshold = 2), Some(m))
      .select($"uid", $"medical_prediction").as[(Long, String)].collect()
    assert(out.length == claims.count(), "every claim row must survive the retry pass")
    assert(out.forall(_._2 == "Approved"), "the healthy retry heals failed AND skipped visits: " +
      out.mkString(", "))
    assert(m.calls.value == 2 + visits, s"2 outage calls + one retry per visit, calls=${m.calls.value}")
  }

  test("LlmFanout.predict: a dead service labels every claim terminal") {
    val claims = (1L to 5L).map(v => (v, v * 10)).toDF("visit_id", "uid")
    val dead = () => new ServiceClient {
      override def call(payload: String): Either[String, String] = Left("endpoint down")
    }
    val out = LlmFanout.predict(claims, "visit_id", "uid", dead,
        EnrichOperator.Config(parallelism = 1, maxAttempts = 1, breakerThreshold = 2))
      .select($"uid", $"medical_prediction").as[(Long, String)].collect()
    assert(out.length == claims.count())
    assert(out.forall(_._2 == LlmFanout.terminalMarker),
      "a visit that fails both passes must never read Approved: " + out.mkString(", "))
  }

  test("LlmFanout.predict: the retry calls through a fresh client") {
    // The first call of the run wedges the client instance that made
    // it: every later call on that instance fails, while a new
    // instance answers. With one slot every visit fails on the wedged
    // instance, so only fresh clients on the retry heal them.
    FlakyJsonState.tries.set(0)
    val visits = 6L
    val claims = (1L to visits).map(v => (v, v * 10)).toDF("visit_id", "uid")
    val m = EnrichOperator.Metrics(claims, "fresh")
    val wedging = () => new ServiceClient {
      private var wedged = false
      override def call(payload: String): Either[String, String] = {
        if (FlakyJsonState.tries.getAndIncrement() == 0) wedged = true
        if (wedged) Left("connection wedged") else Right("""{"Rejected": {}}""")
      }
    }
    val out = LlmFanout.predict(claims, "visit_id", "uid", wedging,
        EnrichOperator.Config(parallelism = 1, maxAttempts = 1), Some(m))
      .select($"uid", $"medical_prediction").as[(Long, String)].collect()
    assert(out.length == claims.count() && out.forall(_._2 == "Approved"),
      "a retry on the wedged client would leave the visits terminal: " + out.mkString(", "))
    assert(m.calls.value == 2 * visits, s"every visit fails once, then heals: calls=${m.calls.value}")
  }

  test("LlmFanout.predict: the retry over several partitions and a wide window matches a serial run") {
    val visits = 1L to 400L
    val claims = visits.flatMap(v => Seq((v, v * 10), (v, v * 10 + 5))).toDF("visit_id", "uid")
    val (parts, window) = EnrichOperator.resolveWidth(claims, EnrichOperator.Config())
    assert(parts > 1 && window > 1, s"default config: $parts partitions, window $window")
    def run(cfg: EnrichOperator.Config): (Seq[(Long, String, String)], Long) = {
      val m = EnrichOperator.Metrics(claims, "wide")
      val out = LlmFanout.predict(claims, "visit_id", "uid", () => new MockLlmClient(), cfg, Some(m))
        .select($"uid", $"medical_prediction", $"reason").as[(Long, String, String)].collect()
      (out.sortBy(_._1).toSeq, m.calls.value)
    }
    val (wide, calls) = run(EnrichOperator.Config())
    val (serial, _) = run(EnrichOperator.Config(parallelism = 1))
    assert(wide.length == claims.count() && wide == serial)
    assert(wide.filter(_._2 == LlmFanout.terminalMarker).map(_._1 / 10).distinct ==
      visits.filter(_ % 97 == 0), "visits divisible by 97 never answer")
    // calls = rows + retries: each round calls every payload up to
    // maxAttempts times, and the second round takes the ones the
    // first left failed or unparseable.
    val maxAttempts = EnrichOperator.Config().maxAttempts
    var expected = 0L
    def round(payloads: Seq[String]): Seq[String] = {
      val client = new MockLlmClient()
      payloads.filter { p =>
        var result: Either[String, String] = Left("not attempted")
        var n = 0
        while (n < maxAttempts && (n == 0 || result.isLeft)) { result = client.call(p); n += 1 }
        expected += n
        result.fold(_ => true, LlmJsonRepair.repairStrict(_, "Rejected").isEmpty)
      }
    }
    round(round(visits.map(v => s"$v|${Seq(v * 10, v * 10 + 5).map(_.toString).sorted.mkString(",")}")))
    assert(calls == expected, s"calls = $calls, expected $expected")
  }

  test("LlmFanout.predictSets materializes the explode and the failed set, nothing else") {
    val sc = spark.sparkContext
    val claims = (1L to 200L).map(v => (v, v * 10)).toDF("visit_id", "uid")
    val before = sc.getPersistentRDDs.keySet
    val (failed, rejections) = LlmFanout.predictSets(claims, "visit_id", "uid", () => new MockLlmClient(),
      EnrichOperator.Config(parallelism = 2))
    val created = sc.getPersistentRDDs.keySet -- before
    assert(created.size == 2, s"one enrich pass: explode + failed set, got ${created.size} materialized RDDs")
    assert(failed.as[String].collect().toSet == Set("97", "194"))
    assert(rejections.count() == (1L to 200L).count(v => v * 10 % 5 == 0 && v % 97 != 0))
  }

  test("B18 gate: null-diagnosis visits read Rejected / Missing diagnosis") {
    val dir = "/root/testdata/sf0.001"
    val claims = graft.pipeline.Pipelines.annotatedClaims(spark, dir)
    val noDx = claims.filter($"icd10".isNull).select($"visit_id").distinct()
    val gated = graft.pipeline.Pipelines.predictions(spark, dir).join(noDx, "visit_id")
    val labels = gated.select($"medical_prediction", $"reason").distinct().as[(String, String)].collect()
    assert(labels.toSeq == Seq(("Rejected", "Missing diagnosis")), labels.toSeq)
    val n = claims.join(noDx, "visit_id").count()
    assert(n > noDx.count() && gated.count() == n, s"gated ${gated.count()} of $n claims")
  }

  test("circuit breaker trips after the streak and stops calling the service") {
    val alwaysFail = () => new ServiceClient {
      override def call(payload: String): Either[String, String] = Left("endpoint down")
    }
    val df = (1L to 40L).toDF("k").withColumn("__p", $"k".cast("string"))
    val m = EnrichOperator.Metrics(df, "breaker")
    val out = EnrichOperator.enrich(df, "__p", alwaysFail,
      EnrichOperator.Config(parallelism = 1, maxAttempts = 2, breakerThreshold = 3), Some(m))
      .groupBy("status").count().as[(String, Long)].collect().toMap
    assert(out("error") == 3 && out("skipped") == 37, out.toString)
    // Only the 3 tripping rows hit the wire (x maxAttempts retries).
    assert(m.calls.value == 6, s"calls = ${m.calls.value}")
    val msg = EnrichOperator.enrich(df, "__p", alwaysFail,
      EnrichOperator.Config(parallelism = 1, maxAttempts = 1, breakerThreshold = 1))
      .filter($"status" === "skipped").select("message").as[String].head()
    assert(msg.contains("circuit open"))
  }

  test("a success resets the breaker streak") {
    // Client alternates fail/ok by an internal counter: failures can
    // never run consecutively, so threshold 2 must never trip in any
    // row order.
    val flaky = () => new ServiceClient {
      private var n = 0
      override def call(payload: String): Either[String, String] = {
        n += 1
        if (n % 2 == 1) Left("odd call fails") else Right("{}")
      }
    }
    val out = EnrichOperator.enrich((1L to 30L).toDF("k").withColumn("__p", $"k".cast("string")),
      "__p", flaky,
      EnrichOperator.Config(parallelism = 1, maxAttempts = 1, breakerThreshold = 2))
      .groupBy("status").count().as[(String, Long)].collect().toMap
    assert(!out.contains("skipped"), out.toString)
    assert(out("error") == 15 && out("ok") == 15)
  }

  test("breaker disabled by default: every row is attempted") {
    val alwaysFail = () => new ServiceClient {
      override def call(payload: String): Either[String, String] = Left("down")
    }
    val out = EnrichOperator.enrich((1L to 20L).toDF("k").withColumn("__p", $"k".cast("string")),
      "__p", alwaysFail, EnrichOperator.Config(parallelism = 2, maxAttempts = 1))
      .groupBy("status").count().as[(String, Long)].collect().toMap
    assert(out("error") == 20 && !out.contains("skipped"))
  }

  test("a consumer that stops early is still billed for every call that reached the service") {
    val df = (1L to 200L).toDF("k").withColumn("__p", $"k".cast("string"))
    val m = EnrichOperator.Metrics(df, "limit")
    WindowProbe.reset()
    val got = EnrichOperator.enrich(df, "__p", () => new ProbeClient(0), EnrichOperator.Config(), Some(m))
      .limit(3).collect()
    assert(got.length == 3)
    // The window calls ahead of the emitted rows, so the service saw
    // more than three calls; each of them is billed.
    assert(WindowProbe.calls.get() > 3, s"calls = ${WindowProbe.calls.get()}")
    assert(m.calls.value == WindowProbe.calls.get(),
      s"billed ${m.calls.value}, service saw ${WindowProbe.calls.get()}")
  }

  test("the service never sees more than parallelism calls in flight") {
    val cores = spark.sparkContext.defaultParallelism
    val df = (1L to 200L).toDF("k").withColumn("__p", $"k".cast("string"))
    def peak(cfg: EnrichOperator.Config): Int = {
      WindowProbe.reset()
      assert(EnrichOperator.enrich(df, "__p", () => new ProbeClient(5), cfg).count() == 200)
      WindowProbe.peak.get()
    }
    val two = peak(EnrichOperator.Config(parallelism = 2))
    assert(two <= 2, s"parallelism = 2: peak $two")
    val default = peak(EnrichOperator.Config())
    assert(default > cores && default <= cores * EnrichOperator.DefaultCallsPerCore,
      s"default: peak $default on $cores cores")
    val breaker = peak(EnrichOperator.Config(breakerThreshold = 3))
    assert(breaker <= cores, s"an armed breaker calls serially per partition: peak $breaker")
  }

  test("a client that throws fails the job with its own exception and leaves no pool thread") {
    val df = (1L to 40L).toDF("k").withColumn("__p", $"k".cast("string"))
    val boom = () => new ServiceClient {
      override def call(payload: String): Either[String, String] =
        throw new IllegalStateException(s"client exploded on $payload")
    }
    val e = intercept[org.apache.spark.SparkException](EnrichOperator.enrich(df, "__p", boom).collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] && c.getMessage.contains("client exploded")),
      causes.map(_.toString).mkString(" <- "))
    def poolThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.startsWith("graft-enrich-"))
    val deadline = System.nanoTime() + 5000000000L
    while (poolThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(poolThreads.isEmpty, poolThreads.map(_.getName).mkString(", "))
  }

  test("a client reads the task context in its constructor") {
    val df = (1L to 100L).toDF("k").withColumn("__p", $"k".cast("string"))
    val answers = EnrichOperator.enrich(df, "__p", () => new PartitionEchoClient())
      .select($"status", $"response").as[(String, String)].collect()
    assert(answers.length == 100 && answers.forall { case (st, r) => st == "ok" && r != null },
      answers.take(5).mkString(", "))
    assert(answers.map(_._2.toInt).toSet.subsetOf((0 until spark.sparkContext.defaultParallelism).toSet))
  }

  test("backoffMs sleeps before each retry and changes no call") {
    val rows = 5L
    val df = (1L to rows).toDF("k").withColumn("__p", $"k".cast("string"))
    // Every key fails its first attempt; one call in flight, so the
    // backoffs run back to back.
    def run(backoffMs: Long): (Seq[String], Long, Long) = {
      val m = EnrichOperator.Metrics(df, s"backoff$backoffMs")
      val start = System.nanoTime()
      val out = EnrichOperator.enrich(df, "__p", () => new MockBeneficiaryClient(transientEvery = 1),
          EnrichOperator.Config(parallelism = 1, backoffMs = backoffMs), Some(m))
        .select($"k", $"status", $"response").collect().map(_.toString).sorted.toSeq
      (out, m.calls.value, (System.nanoTime() - start) / 1000000L)
    }
    val (plain, plainCalls, _) = run(0L)
    val (backedOff, backedOffCalls, ms) = run(100L)
    assert(plainCalls == 2 * rows && backedOffCalls == plainCalls)
    assert(backedOff == plain)
    assert(ms >= 100L * rows, s"$rows retried rows with a 100 ms backoff took $ms ms")
  }
}
