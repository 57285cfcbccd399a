package graft

import graft.util.JsonString.quote

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Uses the noop sink so every column is fully
  * materialized (a bare count() would let Catalyst prune the
  * projection and under-report the work).
  */
object Bench {

  /** Representative slice: the three pipelines, the two big extractions,
    * and one query per operator family (window, string-agg, dedup/LSH,
    * text, similarity, streaming-batch twin).
    */
  val headline: Seq[String] = Seq(
    "q_eligibility_extract",
    "q_resubmission_full",
    "q_pipeline_eligibility",
    "q_pipeline_predictions",
    "q_pipeline_resubmission",
    "q_a11_latest_per_group",
    "q_a12_string_agg",
    "q_c4_llm_predictions",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_pipeline_corpus",
    "q_text_stats",
    "q_sim_bruteforce",
    "q_stream_windowed_agg",
    "q_stream_sessions",
    "q_asof_join",
    "q_range_incident_join",
    "q_pack_sequences",
    "q_sample_stratified",
    // Data-selection family representative (r12): hashed-ngram DSIR
    // scoring of the whole corpus against the en-target model.
    "q_dsir_score",
    // Validated-PII representative (r12): candidate regex + Luhn/octet
    // validators + fold-replace — the whole family is one codegen'd
    // per-row map, so this is a pure scan-throughput row.
    "q_text_pii_redact",
    "q_text_keywords",
    "q_decontaminate",
    "q_pipeline_pretrain",
    "q_text_boilerplate",
    "q_corpus_top_terms",
    "q_bm25_topk",
    "q_hybrid_rrf",
    "q_mm_avi_roundtrip",
    "q_text_dup_spans",
    // Headline SemDeDup is the star-capped form (the scale-safe
    // default). Its uncapped twin is quarantined as
    // q_demo_sem_dedup_uncapped and is deliberately NOT here: its
    // quadratic within-cell term DNF'd a 20-minute bound at the 100×
    // replica (bench_100x_uncapped_r08.json) — it exists only as the
    // registered exactness demonstration for the cap, never as a
    // headline. Do not re-add any q_demo_-prefixed name to this list.
    "q_sem_dedup",
    "q_text_html_extract",
    "q_graph_pagerank",
    "q_cohort_retention",
    "q_bloom_pruned_join",
    "q_fuzzy_join",
    "q_d2_manifest_upsert",
    "q_graph_triangles",
    "q_ts_gapfill",
    "q_text_subword",
    "q_bpe_learn",
    "q_gopher_rules",
    "q_quality_classifier",
    "q_journey_ngrams",
    "q_negative_sample",
    "q_asof_native",
    "q_set_ops_all",
    "q_stream_session_window",
    // Round-7 additions: the compressed codec, the shingled-minhash
    // md5 twin (the oracled sibling of the benched xxhash64 path),
    // the two sketch families, and the integer EWMA feature.
    "q_mm_rle_roundtrip",
    "q_dedup_minhash_shingled_md5",
    "q_bitmap_overlap",
    "q_countmin_freq",
    "q_ts_ewma",
    // Round-8 additions: in-engine quality-classifier training (six
    // full gradient passes — benches the iterate-over-corpus shape)
    // and the bucketed-edge PageRank twin (pays the bucketed write,
    // then every iteration's edge join is exchange-free on that side).
    "q_classifier_train",
    "q_graph_pagerank_bucketed",
    // Late round-8 additions: the train→score→evaluate loop (exact
    // rational AUC), multi-source weighted shortest paths (the second
    // message-passing family), perceptual-hash image dedup over the
    // real BMP codec, and frame-level audio features.
    "q_eval_auc_trained",
    "q_graph_sssp",
    "q_mm_dhash_dedup",
    "q_mm_audio_frames",
    // Migration diff: two key-granularity shuffles whose partitioning
    // the full outer join reuses — the reconciliation shape.
    "q_table_diff",
    // Aho–Corasick blocklist scan: one codegen'd pass per document
    // regardless of dictionary size (vs k LIKE scans).
    "q_text_dict_match")

  /** Queries whose timed section includes the mock LLM / service
    * fan-out (EnrichOperator mapPartitions + localCheckpoint): their
    * run-to-run variance on a shared box exceeds the sub-2 s deflake
    * tier's, and rounds 8→9 showed them as the only phantom
    * round-over-round movers. They always get the full 5 passes.
    */
  val fanoutFamily: Set[String] = Set(
    "q_resubmission_full", "q_pipeline_eligibility", "q_pipeline_predictions",
    "q_pipeline_resubmission", "q_c4_llm_predictions")

  /** Bench selection is guarded BY CONSTRUCTION against `q_demo_*`
    * names: those are registered exactness demonstrations whose plans
    * are documented scale-killers (all-pairs SemDedup DNF'd the 100×
    * replica) — a future edit that re-adds one to `headline` (or an
    * SPARK_GRAFT_ONLY that names one) must not silently turn it into
    * a headline number.
    */
  private[graft] def select(names: Seq[String], only: Option[Set[String]]): Seq[String] =
    names.filter(n => only.forall(_.contains(n))).filterNot(_.startsWith("q_demo_"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Dev-only: comma-separated subset of headline to run (default all).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val selected = select(headline, only)
    val cpus = GraftSession.cpus.toString
    val spark = GraftSession.create()
    // Dev knob for scale experiments: shuffle partitions default to
    // the core count (right for the sf0.1 headline), but at replica
    // scale per-TASK volume grows with the data and the window/sort
    // stages start spilling — on a real cluster shuffle.partitions
    // follows data size, so SPARK_GRAFT_SHUFFLE lets a 100× run use a
    // data-sized partition count without touching the headline config.
    sys.env.get("SPARK_GRAFT_SHUFFLE").foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    // Warm-up at the smallest SF: JIT + codegen caches, so the timed
    // section measures steady-state throughput, not JVM start-up.
    // No clearCache: enrichment stages materialize via eager
    // localCheckpoint whose blocks the ContextCleaner frees on GC.
    // Warm-up failures are recorded too — a query that can't run at
    // sf0.001 must not silently bench as 0 s.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt.max(1)
    // 1-minute /proc/loadavg, snapshotted BEFORE each timed pass: outlier
    // passes on a shared box (predictions 216 s at 100×) were attributed
    // to background load by narrative only — recording the load makes the
    // attribution checkable from the artifact itself.
    def loadAvg1(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(' ')(0).toDouble finally src.close()
      } catch { case _: Exception => -1.0 }
    // Per query: (median, sorted durations, first error, chronological
    // (loadavg1, seconds) pass pairs).
    val results: Seq[(String, Double, Seq[Double], Option[String], Seq[(Double, Double)])] = selected.map { name =>
      SparkEntry.queries.get(name) match {
        // A headline name missing from the registry (rename, typo) must
        // surface as an ERROR row — flatMap-dropping it printed a
        // smaller total with exit 0, indistinguishable from a speedup.
        case None => (name, 0.0, Seq(0.0), Some("headline query not in SparkEntry.queries"), Seq.empty)
        case Some(fn) =>
        def runOnce(dir: String): Option[String] =
          try { fn(spark, dir).write.format("noop").mode("overwrite").save(); None }
          catch {
            case e: Throwable =>
              Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          }
        runOnce("/root/testdata/sf0.001") // warm-up; error (if any) resurfaces below
        // Median of `passes` timed runs in one JVM: a single shared-box
        // load spike poisons one pass, not the reported number.
        def timeOnce(): (Double, Option[String], Double) = {
          val load = loadAvg1()
          // Snapshot what was persisted BEFORE the pass so the sweep
          // below can free only blocks this pass created. INVARIANT
          // guarded by the scoping: a localCheckpointed RDD has
          // truncated lineage, so once its blocks are dropped it is
          // permanently unusable — any future cross-pass/cross-query
          // memoized Materialize result would die with "checkpoint
          // block not found" under an indiscriminate sweep, not
          // recompute.
          val preExisting = spark.sparkContext.getPersistentRDDs.keySet
          val t0 = System.nanoTime()
          val err = runOnce(sfDir)
          val dt = (System.nanoTime() - t0) / 1e9
          // Free the finished pass's localCheckpoint blocks NOW instead
          // of waiting for the ContextCleaner's GC-driven sweep: at
          // replica scale the blocks of 3 same-JVM passes accumulate
          // faster than the cleaner frees them — measured 301-320 s
          // per pass vs 117 s in a fresh JVM for
          // q_pipeline_predictions at 100×/8 GB (the cleaner thread
          // itself OOM'd in a profiling run). Safe for PASS-SCOPED
          // RDDs: the pass's result was fully written and nothing
          // references them.
          // blocking = true: at replica scale the async sweep races
          // the next pass's first stages, which then start with the
          // previous pass's gigabytes still draining — measured as
          // pass-over-pass degradation (501 s outlier passes at
          // 100×/8 GB that a blocking sweep removes).
          spark.sparkContext.getPersistentRDDs
            .foreach { case (id, rdd) =>
              if (!preExisting.contains(id)) rdd.unpersist(blocking = true)
            }
          (dt, err, load)
        }
        val base = (1 to passes).map(_ => timeOnce())
        // Deflake the sub-2 s tail: on a shared box a single background
        // spike moves a 0.9 s query by 1.5×, and with 3 passes the
        // median still lands on the spike often enough that
        // round-over-round comparisons trip on phantom regressions
        // (q_quality_classifier 0.95→1.56 s on identical code). Extra
        // passes are cheap exactly where they are needed — queries
        // whose base median is already under 2 s, plus the mock
        // fan-out family, whose 3-4 s medians were the only remaining
        // round-over-round movers at 3 passes (r8→r9: ±0.7 s swings
        // on identical code).
        val baseMed = base.map(_._1).sorted.apply(base.length / 2)
        val extra =
          if ((baseMed < 2.0 || fanoutFamily(name)) && base.length < 5 && base.forall(_._2.isEmpty))
            (base.length until 5).map(_ => timeOnce())
          else Seq.empty
        val timed = base ++ extra
        val firstErr = timed.flatMap(_._2).headOption
        val sorted = timed.map(_._1).sorted
        val median = sorted(sorted.length / 2)
        (name, median, sorted, firstErr, timed.map(t => (t._3, t._1)))
      }
    }
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // Per-query [min, median, max] of the passes: a wide min-max spread
    // is the self-diagnosing signature of shared-box load, so a slow
    // median can be dismissed (or confirmed) on sight instead of
    // burning a judging cycle on phantom regressions.
    val spread = results.map { case (k, _, s, _, _) =>
      "\"" + k + "\":[" + r3(s.head) + "," + r3(s(s.length / 2)) + "," + r3(s.last) + "]"
    }.mkString("{", ",", "}")
    // Effective pass count per query: the deflake tiers run MORE than
    // the configured base (sub-2 s and fan-out-family queries get 5),
    // so `"passes"` alone cannot be read off the artifact as the
    // per-query sample size.
    val npasses = results.map { case (k, _, s, _, _) =>
      "\"" + k + "\":" + s.length
    }.mkString("{", ",", "}")
    // Chronological per-pass [loadavg1, seconds] pairs: the direct
    // evidence when one pass is an outlier — high load BEFORE the slow
    // pass confirms the shared-box attribution, flat load refutes it.
    val load = results.map { case (k, _, _, _, lp) =>
      "\"" + k + "\":[" + lp.map { case (l, d) => "[" + r3(l) + "," + r3(d) + "]" }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val errs = results.map { case (k, _, _, e, _) =>
      "\"" + k + "\":" + e.map(quote).getOrElse("null")
    }.mkString("{", ",", "}")
    // Errors for STDOUT: only the failing queries (normally "{}") — the
    // compact line must stay small but a crash must still name itself.
    val stdoutErrs = results.collect { case (k, _, _, Some(e), _) =>
      "\"" + k + "\":" + quote(e)
    }.mkString("{", ",", "}")
    val total = r3(results.map(_._2).sum)
    // `cpus` (the local core count GraftSession used) and the
    // context's resolved defaultParallelism make the core-scaling
    // contract legible: at sf0.1 AQE right-sizes post-shuffle stages to
    // DATA size, so c8/c32 wall-clock ratios sit near 1 and the
    // totals alone cannot tell "honored but floor-bound" from
    // "ignored". Key order on both lines is the round-over-round parse
    // contract: metric, value, unit, queries, (spread,) errors, passes,
    // (npasses, load | detail), cpus, parallelism, sf. Append new keys
    // at the end; never reorder or remove one.
    val parallelism = spark.sparkContext.defaultParallelism
    // Persist the FULL JSON (spread/errors/npasses/load) to a file; the
    // default is a timestamped path under /tmp so an env-less run can
    // never clobber the committed round artifact (repo-root
    // bench_out.json is written only when SPARK_GRAFT_BENCH_OUT
    // explicitly points there).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"/tmp/graft_bench_${System.currentTimeMillis()}.json")
    // Paths are caller-controlled strings on a JSON line — escape them
    // like every other dynamic field (a quote or backslash in
    // SPARK_GRAFT_BENCH_OUT would otherwise make the line unparseable,
    // the exact artifact-loss failure the compact line exists to fix).
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"errors":$errs,"passes":$passes,"npasses":$npasses,"load":$load,"cpus":${quote(cpus)},"parallelism":$parallelism,"sf":${quote(sfDir)}}"""
    // STDOUT gets a COMPACT line: the driver's BENCH_r{N} capture
    // tail-truncates long stdout, and by round 11 the full line (59
    // queries × spreads + errors + npasses) had outgrown it — the
    // driver artifact parsed as null and the round's headline number
    // survived only in the committed file. Total + per-query medians
    // (3 decimals) + failing-query errors fit comfortably; everything
    // else lives in the file artifact, referenced by path.
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$stdoutErrs,"passes":$passes,"detail":${quote(outPath)},"cpus":${quote(cpus)},"parallelism":$parallelism,"sf":${quote(sfDir)}}"""
    println(line)
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (fullLine + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] wrote $outPath")
    } catch {
      case e: Exception =>
        // The spread/npasses/load evidence exists NOWHERE but this
        // file under the round-12 output contract — on a failed write,
        // fall back to emitting the full payload on stderr so the data
        // survives the run instead of leaving a dangling detail path.
        System.err.println(s"[bench] could not write $outPath: $e")
        System.err.println(fullLine)
    }
    spark.stop()
    // A crashed query must fail the bench loudly, not bench as ~0 s.
    if (results.exists(_._4.nonEmpty)) sys.exit(1)
  }
}
