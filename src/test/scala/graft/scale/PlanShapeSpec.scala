package graft.scale

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

/** Locks the physical-plan properties the 100-TB design depends on —
  * a regression that re-introduces a shuffle or loses pushdown fails
  * here, not in production.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("eligibility star join: every dimension joins broadcast, no sort-merge join") {
    val plan = graft.relational.EligibilityExtract.build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dimensions must broadcast:\n$plan")
  }

  test("eligibility scan: predicates and projection push into parquet") {
    val plan = graft.relational.EligibilityExtract.build(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus)"), "status filter must reach the scan")
    assert(!plan.contains("o_orderpriority:string,o_clerk"), "only referenced columns read")
  }

  test("resubmission full: window and string_agg share the l_orderkey exchange family") {
    val df = graft.relational.ResubmissionExtract.full(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // The flagged set must reach the claims as a JOIN, never a
    // collected list. Since the r12 branch fusion it arrives as a
    // left-outer indicator join (__di) instead of the old LeftSemi —
    // either form is a join; what must never appear is a driver-side
    // IN-list (no join at all). r13 (r12 ADVICE): a bare `__di`
    // substring check would pass even if the flagged set degenerated
    // to a collected literal filter — assert on the optimized plan's
    // Join NODES instead (the logical tree is traversable; the AQE
    // physical root is a leaf), requiring a join that actually
    // supplies __di (or a LeftSemi doing the same work).
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.exists(j =>
        j.joinType.sql == "LEFT SEMI" ||
        j.left.output.exists(_.name == "__di") ||
        j.right.output.exists(_.name == "__di")),
      s"the flagged-order set must arrive via a join that supplies __di " +
        s"(or a semi-join), never a driver-side IN-list:\n$plan")
    // The fusion's point: exactly ONE latest-per-group window pass
    // (the pre-r12 branch union planned two sorts+windows over the
    // shared exchange).
    assert("windowspecdefinition".r.findAllIn(plan).length == 1,
      s"expected exactly one latest-items window in the fused plan:\n$plan")
  }

  test("jaccard token index never hints the vocabulary side broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val docs = graft.tables.TestTables.documents(spark, dir)
    // Inspect tokenIndex itself — jaccardPairs materializes it, which
    // would hide its plan behind a LogicalRDD.
    val df = graft.datapipe.Dedup.tokenIndex(docs, "doc_id", "text", 1000)
    // The kept-vocabulary set scales with the corpus; a broadcast HINT
    // of it would OOM at 100 TB. (AQE converting a measured-small side
    // at runtime is fine — we assert on the ANALYZED plan's hints;
    // the optimizer folds ResolvedHint into the Join and drops the node.)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"no broadcast hints expected in:\n${df.queryExecution.analyzed}")
  }

  test("extracts: static broadcast hints only on bounded lookups, never data-scaling tables") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    // nation (25 rows) and region (5) are bounded by the data model;
    // part/supplier/customer/orders/lineitem all grow with SF, so a
    // static hint on any of them OOMs the build side at 100×. Their
    // broadcastability must come from measured size (planner stats/AQE).
    val scalingCols = Seq("p_partkey", "s_suppkey", "c_custkey", "o_orderkey", "l_orderkey")
    def assertBoundedHintsOnly(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.foreach { h =>
        val sub = h.child.toString
        scalingCols.foreach(c =>
          assert(!sub.contains(c), s"static broadcast hint covers a data-scaling table:\n$sub"))
      }
    assertBoundedHintsOnly(graft.relational.EligibilityExtract.build(spark, dir))
    assertBoundedHintsOnly(graft.relational.ResubmissionExtract.full(spark, dir))
  }

  test("relational/registry sources: static broadcast() only on bounded targets") {
    // Complement of the plan-level test above: broadcastIfSmall hints
    // based on a measured count, so at test SF its hint legitimately
    // shows up on supplier/part — the analyzed plan can't tell a gated
    // hint from a static one. Lint the source instead: in the relational
    // surface, a literal broadcast(x) may only wrap provably bounded
    // sets (1-row watermark `hi`, 25-row nation, 5-row region, literal
    // id lists); anything data-scaling must route through
    // Joins.broadcastIfSmall.
    import scala.jdk.CollectionConverters._
    // clinicUnits is a 5-element literal Seq (business-unit tags);
    // `n`, `total1`, `sketch`, and `merged` are 1-row aggregates
    // (counts / totals / a single 32 KB count-min grid).
    val allowed = Set("hi", "n", "total1", "r", "nation", "region", "ids", "clinicUnits",
      "sketch", "merged")
    val roots = Seq("src/main/scala/graft/relational", "src/main/scala/graft/registry",
      "src/main/scala/graft/SparkEntry.scala", "src/main/scala/graft/pipeline")
    val bc = """broadcast\((\w+)""".r
    roots.flatMap { root =>
      val p = java.nio.file.Paths.get(root)
      val files =
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.iterator().asScala.toList.filter(_.toString.endsWith(".scala")) finally s.close()
        } else List(p)
      files.flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        bc.findAllMatchIn(src).map(m => (f.toString, m.group(1))).toList
      }
    }.foreach { case (file, target) =>
      assert(allowed.contains(target),
        s"$file statically broadcasts `$target` — use Joins.broadcastIfSmall for data-scaling sets")
    }
  }

  test("predictions: gate windows share one scan; no duplicate annotated subtree") {
    // The window-stage invariants live in the UNMATERIALIZED annotated
    // frame (predictions materializes it, so its own plan reads blocks).
    val ann = graft.pipeline.Pipelines.annotatedClaims(spark, dir)
    val aplan = ann.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(aplan).length
    assert(scans == 1, s"claims must be scanned exactly once in the window stage, found $scans:\n$aplan")
    val windows = "Window".r.findAllIn(aplan).length
    assert(windows == 3, s"three gate windows over the single scan, found $windows")
    // r9 memory fix, locked: the visit-level gate is declared over the
    // dedup window's exact ordering (explicit unbounded frame), so the
    // WINDOW STAGE plans exactly TWO full-partition sorts — the shared
    // (visit, svc, shipdate, linenumber, uid) sort under both gate
    // windows and the (visit, uid) sort under the dup window. A third
    // window-stage sort is the regression that re-inflated per-task
    // memory at the 100× replica (needed a 4× heap before r9).
    // Count BOTH treeString child prefixes: a Sort that is the FIRST
    // child of a binary node renders as `:- Sort`, and counting only
    // `+- Sort` silently missed an SMJ's left-side sort once.
    val asorts = "[+:]- Sort ".r.findAllIn(aplan).length
    assert(asorts == 2, s"expected exactly 2 shared window-stage sorts, found $asorts:\n$aplan")

    // r10: predictions MATERIALIZES the annotated frame (it is consumed
    // by the fan-out derivation, the final join-back, and the verify
    // surface's range-sampling pass — bare lineage re-ran scan+windows
    // once per consumer). The final plan must therefore show NO parquet
    // scan and NO window: their reappearance means the materialization
    // was dropped and the window stage recomputes per consumer again.
    val df = graft.pipeline.Pipelines.predictions(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 0,
      s"final plan must read the materialized annotated blocks, not re-scan parquet:\n$plan")
    assert("Window".r.findAllIn(plan).length == 0,
      s"gate windows must not recompute in the final plan:\n$plan")
    // Join-stage sorts: ONE uid sort per side of the single
    // rejections join-back — r12 removed the fan-out's internal
    // per-claim join (the pipeline consumes predictSets directly, so
    // the old third sort — the llmInput slice's SMJ side — is gone).
    // Anything above 2 means a join grew back (or a window stopped
    // sharing and leaked here).
    val sorts = "[+:]- Sort ".r.findAllIn(plan).length
    assert(sorts == 2, s"expected exactly 2 join-stage Sort operators, found $sorts:\n$plan")
  }

  test("incremental watermark cut pushes to the parquet scan via the raw predicate") {
    import org.apache.spark.sql.functions._
    val state = java.nio.file.Files.createTempDirectory("plan_inc").toString
    val inc = new graft.streaming.Incremental(spark, state, "ts",
      rawPredicate = Some(graft.tables.TestTables.eventsWatermarkPredicate(spark, dir)))
    val ev = graft.tables.TestTables.events(spark, dir)
    inc.commit(ev.filter(col("event_id") % 2 === 0)) // plant a watermark
    val plan = inc.newRows(ev).queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(ts,"),
      s"raw-ns watermark predicate must reach the scan's PushedFilters:\n$plan")
  }

  test("broadcastIfSmall hints on measured evidence only") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import spark.implicits._
    def hints(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    val small = (1L to 10L).toDF("k")
    val big = spark.range(0, 1000).toDF("k")
    assert(hints(graft.ops.Joins.broadcastIfSmall(small).join(big, Seq("k"))).nonEmpty,
      "provably-small side gets the static hint")
    assert(hints(graft.ops.Joins.broadcastIfSmall(big, maxRows = 100).join(small, Seq("k"))).isEmpty,
      "over-threshold side stays unhinted — planner/AQE decides")
  }

  test("decontamination: benchmark side broadcasts on evidence; one corpus exchange") {
    import org.apache.spark.sql.functions._
    val docs = graft.tables.TestTables.documents(spark, dir)
    val df = graft.datapipe.Decontam.overlapReport(
      docs.filter(col("doc_id") % 25 =!= 7), "doc_id", "text",
      docs.filter(col("doc_id") % 25 === 7), "text", n = 3, minOverlap = 0.15)
    val plan = df.queryExecution.executedPlan.toString
    // Bench shingle set measured small at test SF → broadcast join, so
    // the corpus never shuffles on the shingle string; the only
    // hashpartitioning exchange left is the per-doc aggregation (the
    // benchmark's internal distinct may add bounded-side exchanges).
    assert(plan.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle on shingle:\n$plan")
  }

  test("top-k-per-group rank filters run through native WindowGroupLimit pushdown") {
    // latest-per-group (rn = 1) and TOP-N shapes lean on Spark 4's
    // InferWindowGroupLimit: per-partition group limits drop rows
    // before the full window sort — the reason we compose row_number
    // instead of hand-building a partial top-k operator.
    import org.apache.spark.sql.functions._
    val li = graft.tables.TestTables.lineitem(spark, dir)
    val plan = graft.ops.ColumnOps.latestPerGroup(li, Seq(col("l_orderkey")),
        Seq(col("l_shipdate"), col("l_linenumber")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"row_number filter must infer a group limit:\n$plan")
  }

  test("boilerplate strip: one corpus scan, broadcast flag join, partial+final reassembly agg") {
    val docs = graft.tables.TestTables.documents(spark, dir)
    val plan = graft.datapipe.Boilerplate.strip(docs, "doc_id", "text", 0.25)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"flag-and-aggregate shape reads the corpus once, found $scans scans:\n$plan")
    // The (bounded) boilerplate set joins broadcast; the corpus must
    // never shuffle on the line hash.
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled on line hash:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"only the doc-id reassembly exchange expected, found $exchanges:\n$plan")
  }

  test("topk_count aggregation: one exchange, capacity-sized summaries shuffle (partial stage)") {
    import org.apache.spark.sql.functions._
    val docs = graft.tables.TestTables.documents(spark, dir)
    val plan = docs
      .select(col("lang"), explode(graft.datapipe.TextAnalysis.words(col("text"))).as("term"))
      .groupBy(col("lang")).agg(graft.functions.TopKCount.of(col("term"), 8, 64).as("tk"))
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"partial + final sketch stages expected:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"raw terms must never shuffle — only merged sketches, found $exchanges:\n$plan")
  }

  test("phrase search: phrase terms broadcast; postings never sort-merge on term") {
    import org.apache.spark.sql.functions._
    val docs = graft.tables.TestTables.documents(spark, dir)
    val ph = docs.filter(col("doc_id") % 100 === 17)
      .select(col("doc_id").as("p_id"),
        array_join(slice(graft.datapipe.TextAnalysis.words(col("text")), 1, 3), " ").as("phrase"))
    val plan = graft.datapipe.Retrieval.phraseSearch(docs, "doc_id", "text", ph, "p_id", "phrase")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"phrase-term side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus postings shuffled on term:\n$plan")
  }

  test("html extraction is a single codegen'd projection: no exchange, no join") {
    import org.apache.spark.sql.functions._
    val docs = graft.tables.TestTables.documents(spark, dir)
    val plan = docs.select(col("doc_id"),
        graft.datapipe.Html.extractText(col("text")).as("t"),
        graft.datapipe.Urls.host(col("text")).as("h"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"pure per-row pipeline must not shuffle:\n$plan")
    // "*(1)" is the WholeStageCodegen stage marker in the plan string.
    assert(plan.contains("*(1) Project"), s"projection fell out of codegen:\n$plan")
  }

  test("bench selection excludes q_demo_* by construction") {
    // The demo twins are registered scale-killers (all-pairs SemDedup
    // DNF'd the 100× replica): the guard lives in Bench.select, not in
    // list omission, so neither a headline edit nor SPARK_GRAFT_ONLY
    // can turn one into a headline number.
    assert(graft.Bench.headline.forall(!_.startsWith("q_demo_")))
    assert(graft.Bench.select(Seq("q_demo_sem_dedup_uncapped", "q_dedup_exact"), None)
      == Seq("q_dedup_exact"))
    assert(graft.Bench.select(Seq("q_demo_sem_dedup_uncapped"),
      Some(Set("q_demo_sem_dedup_uncapped"))).isEmpty,
      "SPARK_GRAFT_ONLY must not be able to smuggle a demo query in")
    // The always-5-passes family must name real headline queries —
    // a rename would silently drop a member back to 3 passes.
    assert(graft.Bench.fanoutFamily.subsetOf(graft.Bench.headline.toSet))
  }

  test("headline plan budgets: exchange and scan counts stay at their pinned values") {
    // Per-query ceilings for the most expensive headline queries,
    // pinned to the plans as-built (round 7). A future change that
    // introduces an extra shuffle or an extra base-table scan into one
    // of these fails HERE, in `sbt test`, instead of surfacing as a
    // bench regression a round later. Counts are taken on the planned
    // (pre-AQE) physical plan, so they are deterministic — but
    // BUILDING some entries does execute work (pageRank eagerly
    // materializes its node side tables, the bucketed twin writes a
    // bucketed edge table, ts_ewma pre-aggregates daily counts), so
    // this test's runtime scales with the fixture dir.
    // If a deliberate plan improvement LOWERS a count, re-pin the
    // budget downward — the assertion is two-sided so the pins can't
    // silently go stale.
    val budgets: Map[String, (Int, Int)] = Map( // name -> (exchanges, parquet scans)
      // r10: the registered query stages its corpus-sized result to
      // disk before the determinism ORDER BY (a range sort over bare
      // lineage runs the child twice — sampling job + shuffle-write
      // job), so its own plan is just the sort over blocks: 0 hash
      // exchanges, 0 scans. The REAL join/window invariants are
      // pinned on Pipelines.predictions / annotatedClaims in the
      // dedicated predictions test above (2 uid exchanges, 3 join
      // sorts, 1 scan / 3 windows / 2 shared sorts).
      "q_pipeline_predictions" -> (0, 0),
      // LlmFanout.predict's join-back over one lineitem scan: both
      // result sets broadcast at test SF; the one exchange is the
      // per-uid dedup of the LLM texts (model-named uids may repeat
      // across visits and must not fan out claim rows).
      "q_c4_llm_predictions" -> (1, 1),
      // r12 OPT: branches fused over one latest-window pass + one star
      // join (ResubmissionExtract.full) — 7/13 down to 4/8.
      "q_resubmission_full" -> (4, 8),
      "q_pipeline_resubmission" -> (0, 0), // r11: staged like predictions
      // Re-pinned 6 -> 3 in r8: materializing the side-effecting iqama
      // branch (exactly-once for its external calls) also replaces its
      // derived-lineage exchanges with a materialized-table read.
      "q_pipeline_eligibility" -> (3, 0),
      "q_eligibility_extract" -> (0, 5),   // star join: broadcasts only
      // r12 OPT: intersectAll/exceptAll rewritten as one conditional
      // count aggregation + array_repeat regeneration — 2/4 down to 1/1.
      "q_set_ops_all" -> (1, 1),
      // Round 8: node-sized side tables (teleport, degree, r0)
      // materialize once instead of re-deriving inside every
      // iteration — 30 exchanges/62 scans down to 20/20; the
      // remaining 2 exchanges x 10 iterations are the message pass
      // itself (scores->edge key, contributions->dst).
      "q_graph_pagerank" -> (20, 20),
      // The bucketed twin reads edges ONCE per iteration (10 scans,
      // vs 20 doc-table scans for the in-query-derived plain edges)
      // and plans ZERO edge-side exchanges — its 10 extra exchanges
      // are all on the node-sized score table, forced by the merge
      // hint where the plain plan broadcasts the tiny test edges (a
      // small-data artifact; a 100 TB edge table cannot broadcast).
      // The bucketed-beats-plain exchange count under no-broadcast is
      // locked in GraphRankSpec.
      "q_graph_pagerank_bucketed" -> (30, 10),
      // r12 OPT: per-doc length rides with the postings (max(dl) in
      // the tf aggregate) instead of a separate corpus scan + join —
      // one fewer corpus read/tokenization per retrieval call.
      "q_bm25_topk" -> (4, 4),
      "q_hybrid_rrf" -> (5, 6),
      "q_asof_native" -> (3, 2),
      "q_dedup_exact" -> (1, 1),
      "q_corpus_top_terms" -> (1, 1),
      // Sketch family (round 8): the whole point of a mergeable sketch
      // is that only SKETCHES cross the wire. The two-level rollup is
      // exactly two exchanges (daily sketch build + rollup merge);
      // everything else is one. A higher count means raw rows shuffled.
      "q_bitmap_rollup" -> (2, 1),
      "q_countmin_rollup" -> (2, 2), // 2nd scan = the probe-key side
      "q_ts_ewma" -> (1, 0), // daily counts materialized once; 1 = the window sort exchange
      // Late round-8 additions. sssp: 4 relaxation rounds reference
      // dist ONCE each (zero-weight self-loops fold "keep the old
      // distance" into the relax join — a dist∪relax union would
      // clone the dist subtree 2^k; the first cut of this query
      // planned 31 exchanges/16 scans, this pins the fix at 5/1).
      "q_graph_sssp" -> (5, 1),
      // diff: one groupBy exchange per side, the full outer join
      // reuses both; 3 scans = before + the two planted after branches.
      "q_table_diff" -> (2, 3),
      // dhash dedup: sketches materialize once; the one exchange is
      // the chunk-bucket candidate join key.
      "q_mm_dhash_dedup" -> (1, 2),
      // skyline: frontier collapse + prefix max execute inside the
      // running-max materialization; the visible plan is the one
      // broadcast join back onto the single points scan.
      "q_skyline" -> (0, 1),
      // r12 DSIR: the two bucket-count aggregations (each map-side
      // collapsed to ≤B rows per task) plus the per-doc score
      // aggregation; 3 scans = target slice + raw counts + scoring
      // pass. The B-row score table reaches the scoring join as a
      // BROADCAST (locked in DsirSpec) — a 4th hash exchange here
      // would mean the corpus started shuffling on bucket id.
      "q_dsir_score" -> (3, 3),
      // r12 validated PII: one codegen'd per-row map over one corpus
      // scan — zero hash exchanges (the trailing ORDER BY is a range
      // exchange, deliberately not counted). Any hash exchange
      // appearing here means the scrubbing stopped being a pure map.
      "q_text_pii_redact" -> (0, 1),
      // r12 unigram LM: ALL corpus-sized work (the one word-dict
      // explode+aggregate and each EM round) happens inside eager
      // vocab-bounded materializations, so the FINAL segmentation
      // frame is dict × one-row broadcast cost-map with no parquet
      // scan and no hash exchange at all — the plan a 100 TB corpus
      // needs, where only the dict shuffle ever sees corpus rows.
      "q_unigram_segment" -> (0, 0),
      // tokens face: one corpus scan exploding words, the per-doc
      // aggregation exchange; the dict-sized segmentation side rides
      // as a broadcast.
      "q_unigram_tokens" -> (1, 1))
    def counts(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val s = df.queryExecution.executedPlan.toString
      ("Exchange hashpartitioning".r.findAllIn(s).length,
        "Scan parquet".r.findAllIn(s).length)
    }
    for ((name, (maxEx, maxScan)) <- budgets.toSeq.sortBy(_._1)) {
      val (ex, scan) = counts(graft.SparkEntry.queries(name)(spark, dir))
      assert(ex == maxEx && scan == maxScan,
        s"$name plan shape moved: exchanges=$ex (pinned $maxEx), scans=$scan (pinned $maxScan)")
    }
    // Canary: the counter must DETECT a regression — the same query
    // with one gratuitous repartition wedged in must break its budget
    // (if this ever passes, the counting harness has gone vacuous).
    import org.apache.spark.sql.functions.col
    val canary = graft.SparkEntry.queries("q_dedup_exact")(spark, dir)
      .repartition(50, col("fp"))
    assert(counts(canary)._1 > budgets("q_dedup_exact")._1,
      "intentional extra shuffle was not counted — budget harness is vacuous")
  }

  test("staged verify sorts: registered fan-out queries sort materialized blocks, not lineage") {
    // The stage-before-sort guard (Materialize.stageData under the
    // determinism ORDER BY): each registered plan must be exactly the
    // range sort over an RDD scan of the staged blocks. A parquet scan
    // or hash exchange above the blocks — or a missing range exchange —
    // means the staging was dropped and the range partitioner's
    // sampling job re-runs the fan-out join-back. This pins the guard
    // the (0, 0) budgets above satisfy only vacuously.
    // q_c4_llm_predictions is deliberately NOT here: its measured A/B
    // (bench_ab_stage_sort_r11.json) showed the staging write costs
    // more than the recompute it saves — see the note at its registry
    // entry (QueriesEnrich.scala).
    for (name <- Seq("q_pipeline_predictions", "q_pipeline_resubmission")) {
      val plan = graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      assert("Exchange rangepartitioning".r.findAllIn(plan).length == 1,
        s"$name: expected exactly one range exchange (the verify sort):\n$plan")
      assert(plan.contains("Scan ExistingRDD"),
        s"$name: the sort's child must be the staged RDD blocks:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 0,
        s"$name: no hash exchange may survive above the staged blocks:\n$plan")
      assert("Scan parquet".r.findAllIn(plan).length == 0,
        s"$name: no parquet scan may survive above the staged blocks:\n$plan")
    }
  }

  test("salted aggregation introduces no extra full-table exchange beyond the two phases") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val li = graft.tables.TestTables.lineitem(spark, dir)
    val plan = graft.ops.Skew.saltedCountSum(li, Seq("l_orderkey"), "l_quantity", $"l_linenumber", 8)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"two-phase salted agg should shuffle at most twice:\n$plan")
  }
}
