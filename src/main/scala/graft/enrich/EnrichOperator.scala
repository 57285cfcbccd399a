package graft.enrich

import java.util.concurrent.{Callable, CompletableFuture, ConcurrentLinkedQueue, ExecutionException,
  Executors, Future, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

/** The enrichment engine (SURVEY.md §2.C): side-effecting per-row calls
  * as an explicit, Catalyst-opaque mapPartitions stage.
  *
  * Design constraints it encodes (SURVEY §7.5.2-3):
  *  - scale-aware width: `Config.parallelism` is the most calls the
  *    service sees in flight (default: `defaultParallelism` ×
  *    [[DefaultCallsPerCore]], so it widens with the cluster). The
  *    stage repartitions to min(parallelism, defaultParallelism)
  *    partitions and each task keeps parallelism / partitions calls in
  *    flight (its window), because the calls wait on the network, not
  *    on the cores;
  *  - one windowed loop per task: only the task thread reads the input
  *    and emits rows, in input order (without a retry round, see
  *    [[CallWindow]]), draining the oldest row first;
  *    each row's attempts (call, retries, backoff) run on one of the
  *    task's window pool threads, with one client per slot from
  *    `makeClient()` (see [[ServiceClient]] for the threading contract);
  *  - global rate budget: `Config.ratePerSec` is divided by the
  *    resolved partition count, and a partition's slots share its one
  *    limiter, so the external service sees the same aggregate rate on
  *    8 cores or 800, at any window;
  *  - bounded retries with backoff inside the slot;
  *  - error-as-value: failures become (status, message) columns, the
  *    batch never dies (a client that THROWS breaks its contract and
  *    fails the task with its own exception);
  *  - cost accounting via LongAccumulators (C10), added on the task
  *    thread as rows drain; calls still in flight when the consumer
  *    stops early (limit/take/head) are awaited and billed when the
  *    task completes;
  *  - the output should be materialized (checkpoint/write) by callers
  *    before wide downstream reuse so lineage recomputation can't
  *    re-fire calls.
  */
object EnrichOperator {

  /** Calls in flight per core when `Config.parallelism` is unset: the
    * calls wait on the service, so a core can keep several busy.
    */
  val DefaultCallsPerCore = 8

  /** @param parallelism the most calls the service sees in flight;
    *        <= 0 (the default) derives it from the cluster as
    *        `defaultParallelism` × [[DefaultCallsPerCore]], so the
    *        stage widens with the cluster instead of silently capping
    *        at a constant. The stage runs min(parallelism,
    *        defaultParallelism) partitions, each with
    *        parallelism / partitions calls in flight. Pass an explicit
    *        positive value when the external service, not the cluster,
    *        is the bottleneck; a value at or below the core count
    *        calls serially in that many partitions.
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
      // Checkpoint.filterNew anti-join exactly like errors. The streak
      // counts rows in row order, so an armed breaker runs a window
      // of one call per partition.
      breakerThreshold: Int = 0)

  /** Resolve an enrichment stage's (partition count, calls in flight
    * per partition).
    */
  def resolveWidth(df: DataFrame, cfg: Config): (Int, Int) = {
    val cores = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    val inFlight = if (cfg.parallelism > 0) cfg.parallelism else cores * DefaultCallsPerCore
    val partitions = math.min(inFlight, cores)
    (partitions, if (cfg.breakerThreshold > 0) 1 else inFlight / partitions)
  }

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
    * partitions is preserved (there is no retry round); the repartition
    * is the only shuffle.
    */
  def enrich(df: DataFrame, payloadCol: String, makeClient: () => ServiceClient,
             cfg: Config = Config(), metrics: Option[Metrics] = None): DataFrame =
    enrich(df, payloadCol, makeClient, cfg, metrics, None)

  /** [[enrich]] with [[CallWindow]]'s retry round armed by `retryIf`:
    * held rows are emitted after the partition's others.
    */
  private[enrich] def enrich(df: DataFrame, payloadCol: String, makeClient: () => ServiceClient, cfg: Config,
                             metrics: Option[Metrics], retryIf: Option[String => Boolean]): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("status", StringType),
      StructField("response", StringType),
      StructField("message", StringType)))
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    val enc = Encoders.row(outSchema)
    val (numParts, window) = resolveWidth(df, cfg)
    val perPartitionRate = if (cfg.ratePerSec > 0) cfg.ratePerSec / numParts else 0.0
    df.repartition(numParts).mapPartitions { rows =>
      new CallWindow(rows, payloadIdx, makeClient, cfg, window, perPartitionRate, metrics, retryIf).flatten
    }(enc)
  }

  /** One row's attempts as its slot made them: the final result, and
    * the tallies the task thread adds to [[Metrics]] when it drains the
    * row. `result == null` marks a row the open breaker skipped.
    */
  private final case class Outcome(result: Either[String, String], calls: Long, failures: Long,
                                   promptTokens: Long, completionTokens: Long)

  private val skipped = CompletableFuture.completedFuture(Outcome(null, 0L, 0L, 0L, 0L))

  /** A partition's share of the rate budget, shared by its slots. Every
    * ATTEMPT reserves the next slot under the lock and sleeps outside
    * it — charging once per row would let retries fire back-to-back
    * and multiply the documented global budget exactly when the
    * service is failing.
    */
  private final class RateLimiter(ratePerSec: Double) {
    private val intervalNs = if (ratePerSec > 0) (1e9 / ratePerSec).toLong else 0L
    // nanoTime has an ARBITRARY origin (may be negative): seed from it
    // and compare only differences, or the first throttled call on a
    // negative-origin platform sleeps for |now| milliseconds.
    private var nextNs = System.nanoTime()
    def await(): Unit = if (intervalNs > 0) {
      val waitNs = synchronized {
        val now = System.nanoTime()
        val slot = if (now - nextNs > 0) now else nextNs
        nextNs = slot + intervalNs
        slot - now
      }
      if (waitNs > 0) Thread.sleep(waitNs / 1000000L + 1)
    }
  }

  /** The task's windowed call loop (see the object doc): reads ahead up
    * to `width` rows, hands each to a pool slot, and emits them in input
    * order as the oldest one completes.
    *
    * With `retryIf` set (LlmFanout's C9 retry), a row whose call failed,
    * was skipped by the breaker, or answered a body `retryIf` accepts is
    * held back instead; ok rows are emitted as they drain. Once the
    * input is drained the held rows are submitted once more, with fresh
    * clients and a reset breaker streak, and every outcome of that round
    * is emitted. So:
    *  - a partition retries when its own rows are done, not after every
    *    row of the stage: an outage that lasts longer than one
    *    partition's span has less time to heal;
    *  - held rows (the input rows themselves) live in the task heap, not
    *    in spillable blocks; a full outage holds the partition's whole
    *    input.
    */
  private final class CallWindow(rows: Iterator[Row], payloadIdx: Int, makeClient: () => ServiceClient,
                                 cfg: Config, width: Int, ratePerSec: Double, metrics: Option[Metrics],
                                 retryIf: Option[String => Boolean]) extends Iterator[Option[Row]] {
    private val ctx = TaskContext.get()
    private val pool = Executors.newFixedThreadPool(width, new ThreadFactory {
      private val n = new AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-enrich-${ctx.stageId()}.${ctx.partitionId()}-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
    private val limiter = new RateLimiter(ratePerSec)
    // Clients not held by a row. At most `width` rows are undrained, so
    // a new client is made only while fewer than `width` exist.
    private val idle = new ConcurrentLinkedQueue[ServiceClient]()
    private val pending = scala.collection.mutable.Queue.empty[(Row, Future[Outcome])]
    private var failStreak = 0
    private var failed = false
    private var input = rows
    private val held = scala.collection.mutable.ArrayBuffer.empty[Row]
    private var retrying = false

    ctx.addTaskFailureListener { (_, _) => failed = true; pool.shutdownNow(); () }
    // A consumer that stops early leaves calls in flight; they reached
    // the service, so wait for them and bill them before the task's
    // accumulators are collected. A row never emitted drops its
    // client's exception: no output depends on it.
    ctx.addTaskCompletionListener[Unit] { _ =>
      try if (!failed) pending.foreach { case (_, f) =>
        try tally(f.get()) catch { case _: ExecutionException => }
      } finally pool.shutdownNow()
    }

    private def attempts(payload: String, client: ServiceClient): Outcome = {
      var calls, failures, prompt, completion = 0L
      var result: Either[String, String] = Left("not attempted")
      while (calls < cfg.maxAttempts && (calls == 0 || result.isLeft)) {
        if (calls > 0 && cfg.backoffMs > 0) Thread.sleep(cfg.backoffMs)
        limiter.await()
        result = client.call(payload)
        calls += 1
        val (p, c) = client.lastUsage
        prompt += p; completion += c
        if (result.isLeft) failures += 1
      }
      Outcome(result, calls, failures, prompt, completion)
    }

    private def submit(row: Row): Future[Outcome] =
      if (cfg.breakerThreshold > 0 && failStreak >= cfg.breakerThreshold) skipped
      else {
        val payload = Option(row.get(payloadIdx)).map(_.toString).getOrElse("")
        val client = Option(idle.poll()).getOrElse(makeClient())
        pool.submit(new Callable[Outcome] {
          def call(): Outcome = try attempts(payload, client) finally idle.add(client)
        })
      }

    private def tally(o: Outcome): Unit = if (o.calls > 0) metrics.foreach { m =>
      m.calls.add(o.calls); m.failures.add(o.failures)
      m.promptTokens.add(o.promptTokens); m.completionTokens.add(o.completionTokens)
    }

    private def fill(): Unit =
      while (pending.size < width && input.hasNext) {
        val row = input.next()
        pending.enqueue(row -> submit(row))
      }

    override def hasNext: Boolean = {
      fill()
      if (pending.isEmpty && held.nonEmpty && !retrying) {
        retrying = true; failStreak = 0; idle.clear()
        input = held.iterator
        fill()
      }
      pending.nonEmpty
    }

    /** The oldest row's output, or None while it is held for the retry
      * round.
      */
    override def next(): Option[Row] = {
      if (!hasNext) throw new NoSuchElementException("call window drained")
      val (row, f) = pending.dequeue()
      val o = try f.get() catch { case e: ExecutionException => throw e.getCause }
      tally(o)
      val extra = o.result match {
        case null        => Seq("skipped", null, s"circuit open after $failStreak consecutive failures")
        case Right(body) => failStreak = 0; Seq("ok", body, null)
        case Left(err)   => failStreak += 1; Seq("error", null, err)
      }
      val hold = !retrying && retryIf.exists(again => o.result == null || o.result.fold(_ => true, again))
      if (hold) { held += row; None } else Some(Row.fromSeq(row.toSeq ++ extra))
    }
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
