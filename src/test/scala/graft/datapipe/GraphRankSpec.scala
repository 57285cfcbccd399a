package graft.datapipe

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphRankSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private val S = 1000000000000L

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int = 10) =
    GraphRank.pageRank(nodes.toDF("v"), "v", edges.toDF("s", "d"), "s", "d", iters)
      .orderBy("node").as[(Long, Long)].collect().toSeq

  test("a 2-cycle stays symmetric and conserves mass up to floor loss") {
    val out = run(Seq(0L, 1L), Seq((0L, 1L), (1L, 0L)))
    assert(out.map(_._2).distinct.size == 1, s"symmetric graph must rank equally: $out")
    val total = out.map(_._2).sum
    assert(total <= S && total > (S * 95) / 100, s"mass off grid: $total")
  }

  test("the hub of a star out-ranks the leaves, which out-rank nothing-pointed-at nodes") {
    // 1..4 all point at 0; 0 points at 1; 5 is isolated (teleport
    // only). The 0<->1 cycle oscillates with period 2 and contracts
    // at 0.7225 per round, so rank order needs the fixed point, not an
    // early phase: run enough iterations to be within one grid unit.
    val out = run(Seq(0L, 1L, 2L, 3L, 4L, 5L),
      Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L)), iters = 40).toMap
    assert(out(0L) > out(1L), "hub must out-rank its one in-link leaf")
    assert(out(1L) > out(2L), "a leaf with an in-link out-ranks teleport-only")
    assert(Seq(2L, 3L, 4L).map(out).distinct.size == 1, "equivalent leaves rank equally")
    assert(out(5L) == out(2L), "no in-links means teleport mass, wherever you sit")
  }

  test("scores are partitioning-invariant (exact integer grid, no IEEE accumulation)") {
    val nodes = (0L until 64L).toSeq
    val edges = nodes.flatMap(i => Seq((i, (i * 7 + 3) % 64), (i, (i * 5 + 11) % 64)))
    val a = run(nodes, edges)
    val b = GraphRank.pageRank(
        nodes.toDF("v").repartition(13), "v",
        edges.toDF("s", "d").repartition(7), "s", "d", 10)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("checkpoint cadence leaves scores bit-identical and bounds deep-iteration plans") {
    val nodes = (0L until 32L).toSeq
    val edges = nodes.flatMap(i => (1L to 1L + i % 3).map(k => (i, (i * 31 + 97 * k) % 32)))
    val plain = GraphRank.pageRank(nodes.toDF("v"), "v", edges.toDF("s", "d"), "s", "d",
        iters = 12, checkpointEvery = 100)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val chk = GraphRank.pageRank(nodes.toDF("v"), "v", edges.toDF("s", "d"), "s", "d",
        iters = 12, checkpointEvery = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(plain == chk, "materialization must not change a single grid unit")
    // The checkpointed frame's plan is rooted at the LAST segment, not
    // the full 12-iteration lineage: its optimized plan must contain a
    // checkpoint scan and stay shallow.
    val planned = GraphRank.pageRank(nodes.toDF("v"), "v", edges.toDF("s", "d"), "s", "d",
      iters = 12, checkpointEvery = 3)
    val planStr = planned.queryExecution.optimizedPlan.toString
    assert(planStr.contains("LogicalRDD") || planStr.contains("ExistingRDD"),
      s"deep iteration must be rooted at a materialized segment:\n$planStr")
  }

  test("reliable checkpointing (durable dir) leaves scores bit-identical to localCheckpoint") {
    // The executor-loss knob: Materialize.reliableConf swaps
    // localCheckpoint's executor-local blocks for a checkpoint() write
    // to durable storage. Same cadence, same integer grid — the scores (and the
    // SSSP distances below) must not move by a single unit, and the
    // checkpoint dir must actually receive the RDD state.
    val dir = graft.util.TempDirs.scratch("graft_reliable_ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    val nodes = (0L until 32L).toSeq
    val edges = nodes.flatMap(i => (1L to 1L + i % 3).map(k => (i, (i * 31 + 97 * k) % 32)))
    val local = GraphRank.pageRank(nodes.toDF("v"), "v", edges.toDF("s", "d"), "s", "d",
        iters = 12, checkpointEvery = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    def reliably[T](body: => T): T = {
      spark.conf.set(graft.util.Materialize.reliableConf, "true")
      try body finally spark.conf.set(graft.util.Materialize.reliableConf, "false")
    }
    val durable = reliably(GraphRank.pageRank(nodes.toDF("v"), "v", edges.toDF("s", "d"), "s", "d",
        iters = 12, checkpointEvery = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq)
    assert(local == durable, "reliable materialization must not change a single grid unit")
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty, s"checkpoint dir $dir must hold durable RDD state")

    val ew = edges.map { case (s, d) => (s, d, 1L + (s + d) % 7) }.toDF("s", "d", "w")
    val src = Seq(0L, 5L).toDF("n")
    val sLocal = ShortestPaths.distances(src, "n", ew, "s", "d", "w", iters = 6, checkpointEvery = 2)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val sDurable = reliably(ShortestPaths.distances(src, "n", ew, "s", "d", "w", iters = 6,
        checkpointEvery = 2)
      .orderBy("node").as[(Long, Long)].collect().toSeq)
    assert(sLocal == sDurable, "reliable SSSP must match localCheckpoint distances exactly")
  }

  test("reliable materialization with an explicit dir configures and uses that dir") {
    val dir = graft.util.TempDirs.scratch("graft_reliable_explicit")
    val out = graft.util.Materialize.reliable(
      (0L until 100L).toDF("x"), dir = Some(dir))
    assert(out.as[Long].collect().sorted.toSeq == (0L until 100L))
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty, s"explicit checkpoint dir $dir must hold the state")
  }

  test("bucketed-by-src edges make the per-iteration edge join and degree agg exchange-free") {
    // The README claim locked as a test: persist edges bucketed on the
    // source key and each PageRank iteration plans NO exchange on the
    // edge side (the 100 TB side) — only the score/aggregation
    // exchanges remain. Evidence: one iteration over bucketed edges
    // plans strictly fewer shuffles than the same iteration over plain
    // parquet edges, and the bucketed run reads the bucketed layout.
    val base = graft.util.TempDirs.scratch("graft_pr_bkt")
    val nodes = (0L until 64L).toDF("v")
    val edges = (0L until 64L).flatMap(i => (1L to 1L + i % 3).map(k => (i, (i * 31 + 97 * k) % 64)))
      .toDF("s", "d")
    graft.sink.Bucketing.writeBucketed(edges, "pr_edges_bkt", base + "/e", Seq("s"), 8)
    edges.write.mode("overwrite").parquet(base + "/plain")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def exchanges(e: org.apache.spark.sql.DataFrame): (Int, Seq[(Long, Long)]) = {
        val out = GraphRank.pageRank(nodes, "v", e, "s", "d", iters = 1)
        val rows = out.orderBy("node").as[(Long, Long)].collect().toSeq
        val finalPlan = out.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        (finalPlan.toString.sliding("Exchange hashpartitioning".length)
          .count(_ == "Exchange hashpartitioning"), rows)
      }
      val (nBkt, rBkt) = exchanges(graft.sink.Bucketing.table(spark, "pr_edges_bkt"))
      val (nPlain, rPlain) = exchanges(spark.read.parquet(base + "/plain"))
      assert(rBkt == rPlain, "layout must not change scores")
      assert(nBkt < nPlain,
        s"bucketed edges must remove the edge-side shuffles: bucketed=$nBkt plain=$nPlain")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
