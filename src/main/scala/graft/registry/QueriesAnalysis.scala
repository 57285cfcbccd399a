package graft.registry

import graft.pipeline.Pipelines
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry: the KPI dashboard rollup (reference analysis.py:16-58) and
  * the weekly EDA consistency checks the reference runs against the
  * predictions history (Notebooks/predicitions_analysis.ipynb) —
  * prediction conflicts per (visit, service), missing-prediction rate,
  * duplicate-insertion detection. All four are plain aggregations over
  * the predictions pipeline output, so they inherit its closed-form
  * DuckDB oracle (QueriesPipeline.predictionsSql) and hash-check fully.
  *
  * Scale shape: one groupBy each over the predictions output — a single
  * shuffle on the grouping key; the KPI rollup's output is one row per
  * day and the EDA outputs are the (small) violation sets. Nothing is
  * collected to the driver.
  */
object QueriesAnalysis {

  /** Deterministic per-service processing-time analog (seconds·10) for
    * the run-log Time axis — the reference logs ETL wall-clock per run,
    * which has no closed form, so the oracle-checkable stand-in derives
    * from the claim id. Integer-summed, divided once: bit-identical on
    * any engine (no double accumulation order dependence).
    */
  private val timeTenths = col("uid") % 300 + 5

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // KPI daily rollup (analysis.py:16-58): Services/Visits/Rejected/
    // Approved/Time per day + avg time per service and per visit.
    "q_kpi_daily" -> ((s, dir) =>
      Pipelines.predictions(s, dir, keepDay = true)
        .groupBy(col("day"))
        .agg(
          count(lit(1)).as("services"),
          countDistinct(col("visit_id")).as("visits"),
          sum(when(col("medical_prediction") === "Rejected", 1L).otherwise(0L)).as("rejected"),
          (sum(timeTenths).cast("double") / lit(10.0).cast("double")).as("time_sec"))
        .withColumn("approved", col("services") - col("rejected"))
        .withColumn("avg_time_per_service", col("time_sec") / col("services"))
        .withColumn("avg_time_per_visit", col("time_sec") / col("visits"))
        .orderBy(col("day"))),

    // EDA 1 (notebook cell 12): conflicting predictions for the same
    // (visit, service) — the kept row's LLM verdict vs the duplicate
    // rows' auto-reject makes these non-empty by construction.
    "q_eda_conflicts" -> ((s, dir) =>
      Pipelines.predictions(s, dir)
        .groupBy(col("visit_id"), col("svc"))
        .agg(
          countDistinct(col("medical_prediction")).as("n_predictions"),
          array_join(array_sort(collect_set(col("medical_prediction"))), ",").as("predictions"),
          count(lit(1)).as("n_rows"))
        .filter(col("n_predictions") > 1)
        .orderBy(col("visit_id"), col("svc"))),

    // EDA 2 (notebook cells 18-19): rate of (visit, service) pairs with
    // no usable prediction — here the LLM-failure terminal marker.
    "q_eda_missing_rate" -> ((s, dir) => {
      val pairKey = concat(col("visit_id").cast("string"), lit("|"), col("svc").cast("string"))
      Pipelines.predictions(s, dir)
        .agg(
          countDistinct(when(col("medical_prediction") === graft.enrich.LlmFanout.terminalMarker, pairKey))
            .as("n_missing_pairs"),
          countDistinct(pairKey).as("total_pairs"))
        .withColumn("missing_rate", col("n_missing_pairs").cast("double") / col("total_pairs"))
    }),

    // EDA 3 (notebook cell 20): duplicate-insertion detection — the
    // same (visit, service) inserted more than once; first/last id and
    // span stand in for the insertion-timestamp window.
    "q_eda_dup_insertions" -> ((s, dir) =>
      Pipelines.predictions(s, dir)
        .groupBy(col("visit_id"), col("svc"))
        .agg(
          count(lit(1)).as("n_times"),
          min(col("uid")).as("first_uid"),
          max(col("uid")).as("last_uid"))
        .filter(col("n_times") > 1)
        .select(col("visit_id"), col("svc"), col("n_times"), col("first_uid"), col("last_uid"),
          (col("last_uid") - col("first_uid")).as("uid_span"))
        .orderBy(col("visit_id"), col("svc"))),

    // Cohort retention over the event log: distinct (user, active-day)
    // first, so nothing downstream is event-volume-sized and the
    // matrix count IS the distinct-user count with no countDistinct.
    "q_cohort_retention" -> ((s, dir) =>
      graft.ops.Cohorts.retention(graft.tables.TestTables.events(s, dir), "user_id", "ts", maxDays = 14)
        .select(col("cohort_day"), col("k").cast("long").as("k"), col("active_users"))
        .orderBy(col("cohort_day"), col("k"))),

    // Column profiling: the whole table profiles through ONE unpivot +
    // one col_name-keyed aggregation — n columns never become n scans.
    // String/integer columns only (float→string formatting is
    // engine-specific; see Profiler scaladoc).
    "q_profile_columns" -> ((s, dir) =>
      graft.ops.Profiler.profile(graft.tables.TestTables.documents(s, dir),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("col_name"))),

    // OLAP rollup: hierarchical grouping sets (source, lang) ->
    // (source) -> () in ONE pass — Spark's native rollup, which plans
    // an Expand + single aggregation rather than a union of three
    // scans; DuckDB's GROUP BY ROLLUP is the independent oracle.
    "q_olap_rollup" -> ((s, dir) =>
      graft.tables.TestTables.documents(s, dir)
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)),

    // OLAP cube: all four grouping sets of (source, lang) in one
    // Expand+aggregate pass, with explicit grouping() markers so the
    // subtotal rows are distinguishable from genuine NULL groups.
    "q_olap_cube" -> ((s, dir) =>
      graft.tables.TestTables.documents(s, dir)
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          grouping(col("source")).cast("int").as("g_source"),
          grouping(col("lang")).cast("int").as("g_lang"))
        .orderBy(col("g_source"), col("g_lang"),
          col("source").asc_nulls_first, col("lang").asc_nulls_first)),

    // Pivot: day x event_type count matrix with an explicit column
    // list (unlisted types can't silently widen the schema). The
    // oracle builds the same matrix with FILTERed counts.
    "q_olap_pivot" -> ((s, dir) =>
      graft.tables.TestTables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "view", "signup", "purchase", "error"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy(col("day"))),

    // Calendar gap-fill + LOCF: per-customer daily spend densified
    // over each customer's OWN [first, last] active window (no global
    // calendar cross join) and carried forward through gap days with
    // one ordered window. The oracle rebuilds the spine with
    // generate_series and replays last_value IGNORE NULLS.
    "q_ts_gapfill" -> ((s, dir) => {
      val daily = graft.tables.TestTables.orders(s, dir)
        .filter(col("o_custkey") <= 50)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
        .groupBy(col("o_custkey"), col("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"),
          count(lit(1)).as("n_orders"))
      graft.ops.TimeSeries.locf(daily, "o_custkey", "day", Seq("spend", "n_orders"))
        .orderBy(col("o_custkey"), col("day"))
    }),

    // Event transition matrix: (event_type -> next event_type) counts
    // per user-ordered stream — the Markov structure behind journey
    // analysis. Deterministic ordering via (ts_us, event_id).
    "q_event_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      graft.tables.TestTables.events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("next_type"))
    }),

    // Robust anomaly detection: per-event-type median/MAD over the
    // cent-quantized value, counting |v - med| > 3·MAD outliers. The
    // corpus collapses to a (type, value, count) histogram in one
    // shuffle; medians interpolate on exact binary fractions of longs,
    // so DuckDB's quantile_cont reproduces them bit-for-bit.
    // Revenue-concentration Gini as an exact rational: ranks via the
    // scalable GlobalIndex (no global window), then
    // num = 2·Σ((rank+1)·x) − (n+1)·Σx over den = n·Σx — all longs,
    // the inequality metric behind "how concentrated is this corpus/
    // revenue" without one IEEE op in the verdict.
    "q_gini" -> ((s, dir) => {
      import graft.tables.TestTables
      import graft.ops.GlobalIndex
      val g = TestTables.lineitem(s, dir)
        .select(col("l_partkey"), floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev"))
      val ranked = GlobalIndex.withGlobalIndex(g, Seq(col("rev"), col("l_partkey")), "rank")
      ranked.agg(
          sum((col("rank") + 1L) * col("rev")).as("rank_weighted"),
          sum(col("rev")).as("total"), count(lit(1)).as("n"))
        .select(
          (lit(2L) * col("rank_weighted") - (col("n") + 1L) * col("total")).as("gini_num"),
          (col("n") * col("total")).as("gini_den"),
          col("n"), col("total"))
    }),

    // Weighted mean as an exact rational: quantity-weighted average
    // unit price per return flag, shipped as (num, den) integer pieces
    // — the aggregation a finance rollup must not let IEEE order touch.
    "q_weighted_mean" -> ((s, dir) => {
      import graft.tables.TestTables
      TestTables.lineitem(s, dir)
        .select(col("l_returnflag"),
          floor(col("l_quantity")).cast("long").as("qty"),
          floor(col("l_extendedprice") * 100).cast("long").as("price_cents"))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("qty") * col("price_cents")).as("wsum_num"),
          sum(col("qty")).as("wsum_den"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Referential-integrity audit: orphan counts for the fact→dim
    // edges of the star (lineitem→orders/part/supplier, orders→
    // customer, events→customer), one left join per edge, unioned into
    // the audit report a warehouse runs after every load. A NULL
    // foreign key is NOT an orphan (it matches nothing by SQL
    // semantics, and "missing" is a different defect class than
    // "dangling") — it is counted separately as n_null_fks, so the
    // engine and any anti-join/NOT IN reformulation cannot diverge on
    // nullable fk columns.
    "q_ri_audit" -> ((s, dir) => {
      import graft.tables.TestTables
      def edge(name: String, fact: DataFrame, fk: String, dim: DataFrame, pk: String) = {
        val miss = col("k").isNotNull && col("__hit").isNull
        fact.select(col(fk).as("k"))
          .join(dim.select(col(pk).as("k"), lit(1).as("__hit")), Seq("k"), "left")
          .agg(count(when(miss, 1)).as("n_orphans"),
            countDistinct(when(miss, col("k"))).as("n_orphan_keys"),
            count(when(col("k").isNull, 1)).as("n_null_fks"))
          .select(lit(name).as("edge"), col("n_orphans"),
            col("n_orphan_keys"), col("n_null_fks"))
      }
      val li = TestTables.lineitem(s, dir); val o = TestTables.orders(s, dir)
      Seq(
        edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem->part", li, "l_partkey", TestTables.part(s, dir), "p_partkey"),
        edge("lineitem->supplier", li, "l_suppkey", TestTables.supplier(s, dir), "s_suppkey"),
        edge("orders->customer", o, "o_custkey", TestTables.customer(s, dir), "c_custkey"),
        edge("events->customer", TestTables.events(s, dir), "user_id",
          TestTables.customer(s, dir), "c_custkey"))
        .reduce(_ unionByName _)
        .orderBy(col("edge"))
    }),

    // Distinct-bucket bitmap sketch: per-segment distinct-user
    // cardinality in fixed m/8-byte state (linear-counting bitmap,
    // bitmap_agg TypedImperativeAggregate) — only 8 KB sketches
    // shuffle, never the distinct user set. Portable md5 buckets, so
    // the oracle recomputes every bitmap cardinality exactly.
    "q_bitmap_distinct" -> ((s, dir) => {
      import graft.functions.BitmapDistinct
      import graft.tables.TestTables
      TestTables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("event_type"), BitmapDistinct.bucketOf(col("user_id"), 65536).as("bkt"))
        .groupBy(col("event_type"))
        .agg(BitmapDistinct.cardinality(BitmapDistinct.agg(col("bkt"), 65536))
          .as("n_user_buckets"))
        .orderBy(col("event_type"))
    }),

    // Two-level sketch rollup: per-(event_type, day) bitmaps OR-merged
    // per event_type — the persisted-sketch-table workflow (daily
    // sketches roll up to any coarser period without re-scanning raw
    // events). Cardinality must equal the flat q_bitmap_distinct
    // number: merge associativity, end-to-end oracle-checked.
    "q_bitmap_rollup" -> ((s, dir) => {
      import graft.functions.BitmapDistinct
      import graft.tables.TestTables
      val daily = TestTables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("event_type"), col("ts").cast("date").as("day"),
          BitmapDistinct.bucketOf(col("user_id"), 65536).as("bkt"))
        .groupBy(col("event_type"), col("day"))
        .agg(BitmapDistinct.agg(col("bkt"), 65536).as("bm"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          BitmapDistinct.cardinality(BitmapDistinct.orAgg(col("bm")))
            .as("n_user_buckets"))
        .orderBy(col("event_type"))
    }),

    // Segment-overlap matrix over the SAME sketches: every event-type
    // pair's exact intersection/union bucket cardinality via bitwise
    // AND/OR of the per-segment bitmaps — the audience-overlap
    // question answered from the sketch table alone, no re-scan and
    // no per-pair shuffle of raw user ids.
    "q_bitmap_overlap" -> ((s, dir) => {
      import graft.functions.BitmapDistinct
      import graft.tables.TestTables
      val bm = TestTables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("event_type"), BitmapDistinct.bucketOf(col("user_id"), 65536).as("bkt"))
        .groupBy(col("event_type"))
        .agg(BitmapDistinct.agg(col("bkt"), 65536).as("bm"))
      val a = bm.select(col("event_type").as("type_a"), col("bm").as("bm_a"))
      val b = bm.select(col("event_type").as("type_b"), col("bm").as("bm_b"))
      a.join(b, col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          BitmapDistinct.andCardinality(col("bm_a"), col("bm_b")).as("n_common"),
          BitmapDistinct.orCardinality(col("bm_a"), col("bm_b")).as("n_union"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // Exact-integer EWMA trend feature: per-event-type daily counts,
    // gap-filled dense with zeros, then the half-life-one-step
    // exponentially-weighted sum truncated at 12 terms — every term a
    // lag·scale >> j, so the feature is bit-identical across engines
    // and partitionings. One window (all 12 lags share it).
    "q_ts_ewma" -> ((s, dir) => {
      import graft.ops.TimeSeries
      import graft.tables.TestTables
      // The daily-count table feeds BOTH the spine derivation and the
      // join; materialize it once so the raw events scan+aggregate runs
      // once, not twice — at corpus scale the duplicated full scan is
      // the whole cost of the query.
      val d = graft.util.Materialize.once(TestTables.events(s, dir)
        .select(col("event_type"), col("ts").cast("date").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n")))
      val dense = TimeSeries.dateSpine(d, "event_type", "day")
        .join(d, Seq("event_type", "day"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      TimeSeries.ewmaScaled(dense, "event_type", "day", "n", k = 12)
        .select(col("event_type"), col("day"), col("n"), col("ewma_scaled"))
        .orderBy(col("event_type"), col("day"))
    }),

    // Count-min point-frequency estimates: one 4×1024 counter grid
    // over ALL events (only the 32 KB grid ever shuffles), probed
    // post-hoc for each user with user_id % 3 = 1 — the lookup a
    // top-k summary can't answer. Estimates are min-over-rows,
    // exactly replayed by the oracle's per-row bucket counts.
    "q_countmin_freq" -> ((s, dir) => {
      import graft.functions.CountMin
      import graft.tables.TestTables
      val ev = TestTables.events(s, dir).filter(col("user_id").isNotNull)
      val sketch = ev.agg(CountMin.agg(col("user_id").cast("string"), 1024, 4).as("sk"))
      val probes = ev.filter(col("user_id") % 3 === 1)
        .select(col("user_id")).distinct()
      probes.crossJoin(broadcast(sketch))
        .select(col("user_id"),
          CountMin.estimate(col("sk"), col("user_id").cast("string")).as("est_count"))
        .orderBy(col("user_id"))
    }),

    // Two-level count-min rollup: per-day grids element-wise summed to
    // one grid per corpus (CM is linear, so the rolled-up estimates
    // exactly equal the flat single-pass grid's) — the persisted
    // sketch-table workflow for frequencies, mirroring q_bitmap_rollup
    // for cardinalities. Oracle: the same flat bucket-count replay as
    // q_countmin_freq, which the rollup must reproduce exactly.
    "q_countmin_rollup" -> ((s, dir) => {
      import graft.functions.CountMin
      import graft.tables.TestTables
      val ev = TestTables.events(s, dir).filter(col("user_id").isNotNull)
      val daily = ev
        .select(col("ts").cast("date").as("day"), col("user_id"))
        .groupBy(col("day"))
        .agg(CountMin.agg(col("user_id").cast("string"), 1024, 4).as("sk"))
      val merged = daily.agg(CountMin.mergeAgg(col("sk")).as("sk"))
      val probes = ev.filter(col("user_id") % 3 === 1)
        .select(col("user_id")).distinct()
      probes.crossJoin(broadcast(merged))
        .select(col("user_id"),
          CountMin.estimate(col("sk"), col("user_id").cast("string")).as("est_count"))
        .orderBy(col("user_id"))
    }),

    // Volume-spike alerting: a day fires when its event count exceeds
    // 1.5× the mean of the 6 prior days — cross-multiplied to the
    // exact integer test 4·n > prior_sum, only full windows eligible.
    // Day-keyed self-join on a calendar-bounded series.
    "q_spike_detect" -> ((s, dir) => {
      import graft.tables.TestTables
      val d = TestTables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      val prior = d.select(col("day").as("pday"), col("n").as("pn"))
      d.join(prior,
          datediff(col("day"), col("pday")) >= 1 && datediff(col("day"), col("pday")) <= 6)
        .groupBy(col("day"), col("n"))
        .agg(count(lit(1)).as("n_prior_days"), sum(col("pn")).as("prior_sum"))
        .filter(col("n_prior_days") === 6)
        .withColumn("spike", col("n") * 4L > col("prior_sum"))
        .orderBy(col("day"))
    }),

    // Contingency table (lang × source) with exact expected-count
    // rationals — the chi-square independence test's inputs without
    // the IEEE division: observed count plus e = row·col/n carried as
    // (e_num, e_den) integers. One aggregation + two bounded margins.
    "q_contingency" -> ((s, dir) => {
      import graft.tables.TestTables
      val d = TestTables.documents(s, dir).select(col("lang"), col("source"))
      val o = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("observed"))
      val rows = d.groupBy(col("lang")).agg(count(lit(1)).as("row_total"))
      val cols = d.groupBy(col("source")).agg(count(lit(1)).as("col_total"))
      val n = d.agg(count(lit(1)).as("__n"))
      o.join(rows, Seq("lang")).join(cols, Seq("source")).crossJoin(broadcast(n))
        .select(col("lang"), col("source"), col("observed"),
          col("row_total"), col("col_total"),
          (col("row_total") * col("col_total")).as("e_num"), col("__n").as("e_den"))
        .orderBy(col("lang"), col("source"))
    }),

    // Market-basket pair mining: parts co-purchased in one order,
    // support-pruned, ranked by the exact integer lift rational
    // (support·n_orders vs cnt_a·cnt_b — no IEEE division decides the
    // ranking; cross-multiplied ORDER BY). Pair fan-out is bounded by
    // basket size squared, never corpus-sized.
    "q_basket_pairs" -> ((s, dir) => {
      import graft.tables.TestTables
      val items = TestTables.lineitem(s, dir)
        .select(col("l_orderkey").as("ord"), col("l_partkey").as("part")).distinct()
      val n = TestTables.orders(s, dir).agg(count(lit(1)).as("__n"))
      val cnt = items.groupBy(col("part")).agg(count(lit(1)).as("cnt"))
      val pairs = items.as("a").join(items.as("b"),
          col("a.ord") === col("b.ord") && col("a.part") < col("b.part"))
        .groupBy(col("a.part").as("part_a"), col("b.part").as("part_b"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 3)
      pairs
        .join(cnt.select(col("part").as("part_a"), col("cnt").as("cnt_a")), Seq("part_a"))
        .join(cnt.select(col("part").as("part_b"), col("cnt").as("cnt_b")), Seq("part_b"))
        .crossJoin(broadcast(n))
        .select(col("part_a"), col("part_b"), col("support"), col("cnt_a"), col("cnt_b"),
          (col("support") * col("__n")).as("lift_num"),
          (col("cnt_a") * col("cnt_b")).as("lift_den"))
        .orderBy(col("part_a"), col("part_b"))
    }),

    // ABC/Pareto classification: parts ranked by revenue, cumulative
    // share cut at 80/95 basis-point thresholds — integer cross-
    // multiplication (cum*10000 vs total*8000) so class boundaries are
    // exact; rank ties broken by key. The cumulative sum runs through
    // GlobalIndex.withRunningTotal (range-partitioned prefix scan), NOT
    // a global `sum OVER (ORDER BY)` window — the part dimension
    // scales with the data, and a global window funnels it through
    // one task.
    "q_abc_pareto" -> ((s, dir) => {
      import graft.tables.TestTables
      val g = TestTables.lineitem(s, dir)
        .select(col("l_partkey"), floor(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev"))
      val total1 = g.agg(sum(col("rev")).as("__total"))
      graft.ops.GlobalIndex.withRunningTotal(g,
          Seq(col("rev").desc, col("l_partkey")), "rev", outCol = "cum")
        .crossJoin(broadcast(total1))
        .withColumn("abc_class",
          when(col("cum") * 10000L <= col("__total") * 8000L, "A")
            .when(col("cum") * 10000L <= col("__total") * 9500L, "B")
            .otherwise("C"))
        .select(col("l_partkey"), col("rev"), col("cum"), col("abc_class"))
        .orderBy(col("l_partkey"))
    }),

    // Fulfillment latency: days from order date to each line's ship
    // date, aggregated per order priority — the order-to-ship SLA view.
    "q_ship_latency" -> ((s, dir) => {
      import graft.tables.TestTables
      val o = TestTables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = TestTables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lat_days"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("lat_days")).as("total_days"),
          min(col("lat_days")).as("min_days"), max(col("lat_days")).as("max_days"))
        .orderBy(col("o_orderpriority"))
    }),

    // New-vs-returning daily split: each event classed by whether its
    // user's FIRST-ever event falls on the same day — the growth
    // dashboard's acquisition/retention cut, one user-keyed min window.
    "q_new_vs_returning" -> ((s, dir) => {
      import graft.tables.TestTables
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
      TestTables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"), col("ts_us"))
        .withColumn("__first", min(col("ts_us")).over(w))
        .groupBy(col("day"))
        .agg(countDistinct(when(to_date(timestamp_micros(col("__first"))) === col("day"),
            col("user_id"))).as("new_users"),
          countDistinct(when(to_date(timestamp_micros(col("__first"))) =!= col("day"),
            col("user_id"))).as("returning_users"))
        .orderBy(col("day"))
    }),

    // Trailing 7-day revenue per ship day via a RANGE frame over epoch
    // days — gap-correct (missing days genuinely shrink the window,
    // which a ROWS frame would get wrong). Integer cents.
    "q_trailing_7d" -> ((s, dir) => {
      import graft.tables.TestTables
      import org.apache.spark.sql.expressions.Window
      val daily = TestTables.lineitem(s, dir)
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
        .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")).cast("long"))
      // Unpartitioned window is safe here: the series is one row per
      // CALENDAR DAY — bounded cardinality at any data scale.
      val w = Window.orderBy(col("epoch_day")).rangeBetween(-6, 0)
      daily
        .withColumn("trail7_cents", sum(col("cents")).over(w))
        .withColumn("trail7_days", count(lit(1)).over(w))
        .select(col("day"), col("cents"), col("trail7_cents"), col("trail7_days"))
        .orderBy(col("day"))
    }),

    // Week-over-week deltas of the daily event count: lag window over
    // the dense daily series — the trend line of every ops dashboard.
    "q_wow_delta" -> ((s, dir) => {
      import graft.tables.TestTables
      import org.apache.spark.sql.expressions.Window
      val daily = TestTables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      // Bounded like q_trailing_7d: one row per calendar day.
      val w = Window.orderBy(col("day"))
      daily.withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("delta", col("n") - col("prev_n"))
        .orderBy(col("day"))
    }),

    // Contribution analysis (percent-of-total): revenue share per
    // return flag in exact basis points — group sums over integer
    // cents, share by integer division against a broadcast total.
    "q_share_of_total" -> ((s, dir) => {
      import graft.tables.TestTables
      val cents = TestTables.lineitem(s, dir)
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val g = cents.groupBy(col("l_returnflag")).agg(sum(col("cents")).as("flag_cents"))
      val total1 = cents.agg(sum(col("cents")).as("__total"))
      g.crossJoin(broadcast(total1))
        .select(col("l_returnflag"), col("flag_cents"),
          expr("(flag_cents * 10000) div __total").as("share_bp"))
        .orderBy(col("l_returnflag"))
    }),

    // RFM segmentation: per-user recency/frequency/monetary tiers over
    // purchase events, all integer (cents, fixed cuts) — the classic
    // customer-analytics rollup as one aggregation + CASE ladder.
    "q_rfm_segments" -> ((s, dir) => {
      import graft.tables.TestTables
      val cut = 1705406400000000L // 2024-01-16T12:00:00Z reference point
      val base = TestTables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(max(col("ts_us")).as("last_us"), count(lit(1)).as("freq"),
          sum(floor(col("value") * 100).cast("long")).as("cents"))
      base.select(col("user_id"), col("last_us"), col("freq"), col("cents"),
          when(col("last_us") >= cut, 3).when(col("last_us") >= cut - 86400000000L, 2)
            .otherwise(1).as("r_tier"),
          when(col("freq") >= 20, 3).when(col("freq") >= 10, 2).otherwise(1).as("f_tier"),
          when(col("cents") >= 100000L, 3).when(col("cents") >= 50000L, 2)
            .otherwise(1).as("m_tier"))
        .withColumn("segment",
          concat(col("r_tier"), lit("-"), col("f_tier"), lit("-"), col("m_tier")))
        .orderBy(col("user_id"))
    }),

    // Dwell time per state: how long users sit in each event type
    // before their next event (the time-in-state companion to the
    // transition matrix) — one user-keyed window, integer microseconds.
    "q_dwell_time" -> ((s, dir) => {
      import graft.tables.TestTables
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      TestTables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("dwell_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .filter(col("dwell_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("dwell_us")).as("total_dwell_us"),
          max(col("dwell_us")).as("max_dwell_us"))
        .orderBy(col("event_type"))
    }),

    // Fixed-width histogram of a measure (EDA companion to the column
    // profiler): integer-quantized cents → 5-unit bins by double-floor
    // (both engines make the identical IEEE choice), per-bin count and
    // exact bounds.
    "q_histogram" -> ((s, dir) => {
      import graft.tables.TestTables
      TestTables.events(s, dir)
        .select(floor(col("value") * 100).cast("long").as("cents"))
        .select(floor(col("cents") / 500.0).cast("long").as("bin"), col("cents"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("cents")).as("lo"), max(col("cents")).as("hi"))
        .orderBy(col("bin"))
    }),

    // Leave-one-out target encoding (leakage-safe category rate with
    // Laplace 1/2 prior), codes as exact integer rationals.
    "q_target_encode" -> ((s, dir) => {
      import graft.ops.Encodings
      import graft.tables.TestTables
      val df = TestTables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal") > 5000.0).cast("long").as("target"))
      Encodings.targetEncodeLoo(df, "c_mktsegment", "target", priorNum = 1, priorDen = 2)
        .select(col("c_custkey"), col("c_mktsegment"), col("target"),
          col("code_num"), col("code_den"))
        .orderBy(col("c_custkey"))
    }),

    // Top user journeys: 30-minute-gap sessions → ordered event-type
    // paths → sliding path trigrams (the codegen'd WordShingles kernel
    // reused on event types) → global top-20 with full tie-break.
    // Sessions shorter than 3 events collapse to their whole journey,
    // the shingle kernel's documented semantics, mirrored in SQL.
    "q_journey_ngrams" -> ((s, dir) => {
      import graft.tables.TestTables
      import org.apache.spark.sql.expressions.Window
      val gapUs = 1800000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val sess = TestTables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("__new", coalesce(
          (col("ts_us") - lag(col("ts_us"), 1).over(w)) > gapUs, lit(true)).cast("int"))
        .withColumn("__sess", sum(col("__new")).over(w))
      val paths = sess
        .groupBy(col("user_id"), col("__sess"))
        .agg(array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("event_type"))))
          .as("__ord"))
        .select(transform(col("__ord"), e => e.getField("event_type")).as("__types"))
      paths
        .select(explode(graft.functions.WordShingles.of(col("__types"), 3)).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(20)
    }),

    // Dictionary (label) encoding: lexicographic dense codes via the
    // scalable GlobalIndex over the DISTINCT set, joined back — never
    // a dense_rank window over the full table.
    "q_dict_encode" -> ((s, dir) => {
      import graft.ops.Encodings
      import graft.tables.TestTables
      val (encoded, _) = Encodings.dictionaryEncode(
        TestTables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
        "c_mktsegment", "seg_code")
      encoded.select(col("c_custkey"), col("c_mktsegment"), col("seg_code"))
        .orderBy(col("c_custkey"))
    }),

    // Global sequence numbers without the single-partition window:
    // range-partition + zipWithIndex. Oracle is the thing itself —
    // row_number() over the same total order.
    "q_global_index" -> ((s, dir) => {
      import graft.ops.GlobalIndex
      import graft.tables.TestTables
      GlobalIndex.withGlobalIndex(
          TestTables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_orderkey")))
        .orderBy(col("o_orderkey"))
    }),

    // Distribution drift between two snapshots (event-type mix before
    // vs after the mid-corpus cut, with click traffic from a third of
    // users dropped in the "after" half to plant a real shift): exact
    // integer TVD numerators, cross-multiplied 1% alarms.
    "q_drift_tvd" -> ((s, dir) => {
      import graft.ops.Drift
      import graft.tables.TestTables
      val cutUs = 1705406400000000L // 2024-01-16T12:00:00Z
      val e = TestTables.events(s, dir).select(col("event_type"), col("user_id"), col("ts_us"))
      val before = e.filter(col("ts_us") < cutUs)
      val after = e.filter(col("ts_us") >= cutUs)
        .filter(!(col("event_type") === "click" && col("user_id") % 3 === 0))
      Drift.tvd(before, after, "event_type", threshNum = 1, threshDen = 100)
        .orderBy(col("event_type"))
    }),

    "q_anomaly_mad" -> ((s, dir) =>
      graft.ops.Anomaly.madOutlierStats(
          graft.tables.TestTables.events(s, dir),
          group = col("event_type"),
          vq = floor(col("value") * 100).cast("long"),
          k = 3)
        .orderBy(col("group_key"))),

    // Per-group exact quantiles: one aggregation, all three cut
    // points. Spark's exact `percentile` buffers value->count maps —
    // scale-safe exactly when the measure's cardinality is bounded
    // (l_quantity has 50 values at any corpus size); the unbounded
    // path is the GK sketch (Sampling.percentileGateApprox, rank-error
    // bounded in SamplingSpec; the REGISTERED q_sample_percentile_gate
    // runs the exact form so the oracle can replay it). Interpolation
    // hits exact binary fractions here, so DuckDB's quantile_cont
    // reproduces every double bit-for-bit.
    "q_group_quantiles" -> ((s, dir) => {
      val ps = array(lit(0.25), lit(0.5), lit(0.75))
      graft.tables.TestTables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("qs"))
        .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("pos", "q")))
        .select(col("l_returnflag"),
          element_at(ps, col("pos") + 1).as("p"), col("q"))
        .orderBy(col("l_returnflag"), col("p"))
    }),

    // Ranking-window family over one exchange: ntile quartiles,
    // percent_rank, cume_dist, lag/lead — all five share a single
    // (partition, order) spec, so Catalyst plans ONE sort+window, not
    // five. Ordering carries enough tiebreak columns that peers are
    // full-row-identical (swap-safe for ntile).
    "q_window_funcs" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey"))
        .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      graft.tables.TestTables.lineitem(s, dir)
        .filter(col("l_suppkey") <= 20)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_quantity"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"),
          lag(col("l_quantity"), 1).over(w).as("prev_qty"),
          lead(col("l_quantity"), 1).over(w).as("next_qty"))
        .orderBy(col("l_suppkey"), col("l_quantity"), col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"))
    }),

    // Migration-audit fingerprints: orderless per-column checksums
    // (md5-based XOR fold + modular sum) over orders. The oracle
    // recomputes the same md5 arithmetic token for token — the whole
    // point of the operator is that ANY engine can reproduce it.
    "q_audit_fingerprint" -> ((s, dir) =>
      graft.ops.Audit.columnFingerprints(graft.tables.TestTables.orders(s, dir),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("column_name"))),

    // Unpivot (melt): the day x event-type count matrix from
    // q_olap_pivot folded back to long form — including the explicit
    // zero cells the matrix materializes. The oracle rebuilds the
    // dense grid with a day x type scaffold left-joined to the counts.
    "q_olap_unpivot" -> ((s, dir) => {
      val types = Seq("click", "view", "signup", "purchase", "error")
      graft.tables.TestTables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0)
        .unpivot(Array(col("day")), types.map(col).toArray, "event_type", "n")
        .orderBy(col("day"), col("event_type"))
    }),

    // Ordered conversion funnel signup -> view -> purchase: stage i
    // counts users whose earliest qualifying stage-i event is strictly
    // AFTER their stage-(i-1) completion — order-sensitive, which the
    // oracle's chained strictly-greater joins mirror.
    "q_funnel_conversion" -> ((s, dir) =>
      graft.ops.Cohorts.funnel(graft.tables.TestTables.events(s, dir), "user_id", "event_type", "ts_us",
          Seq("signup", "view", "purchase"))
        .orderBy(col("stage_idx"))),

    // CUSUM drift monitor over the daily event volume: cumulative
    // excess over k=335/day, alarm above h=60 — the small persistent
    // uplift q_spike_detect's per-day trailing test cannot see. A
    // planted +15/day shift from Jan 23 on (≈4.5% — inside the daily
    // noise band, max single day stays unremarkable) must walk the
    // statistic over the threshold within the week, and ONLY there.
    // The distributed form is the reflection identity (prefix sum −
    // prefix min, both range-partitioned scans); the oracle replays it
    // with plain windows, so a drift in either scan or the reflection
    // fails the hash.
    "q_ts_cusum" -> ((s, dir) => {
      val daily = graft.tables.TestTables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("__raw"))
        .select(col("day"),
          (col("__raw") + when(col("day") >= lit("2024-01-23").cast("date"), 15L)
            .otherwise(0L)).as("n"))
      graft.ops.Anomaly.cusum(daily, "day", "n", k = 335L, h = 60L)
        .orderBy(col("day"))
    }),

    // Per-segment CUSUM: the same reflection identity per event type
    // (partitioned windows distribute; both scans share one window
    // spec). Per-type daily volumes sit near 67/day — k=68, h=25:
    // purchase/error stay quiet, the planted-free natural drift of the
    // busier types shows as small excursions. Window-replay oracle.
    "q_ts_cusum_by_type" -> ((s, dir) => {
      val daily = graft.tables.TestTables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.Anomaly.cusumByGroup(daily, "event_type", "day", "n", k = 68L, h = 25L)
        .orderBy(col("event_type"), col("day"))
    }),

    // The LEAKAGE-SAFE form of the trained eval: train on the %3≠0
    // split, evaluate on the held-out %3=0 split the model never saw —
    // the train/validation discipline behind the reference's
    // prediction validation. The planted markers generalize (same
    // hash buckets), so holdout AUC still lands exactly 1; the oracle
    // chains the training replay into holdout scoring into the eval
    // tail as one statement.
    "q_eval_auc_holdout" -> ((s, dir) => {
      val marked = graft.tables.TestTables.documents(s, dir).select(
        col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 2 === 0, lit(" qualgood qualgood qualgood"))
            .otherwise(lit(" qualbad qualbad qualbad"))).as("text"),
        (col("doc_id") % 2 === 0).cast("long").as("y"))
      val w = graft.datapipe.Classifier.train(
        marked.filter(col("doc_id") % 3 =!= 0), "text", col("y"),
        dim = 64, salt = "clstr", iters = 6)
      val holdout = marked.filter(col("doc_id") % 3 === 0)
      val scored = holdout.select(
        graft.datapipe.Classifier.hashedLinearScore(
          graft.datapipe.TextAnalysis.words(coalesce(col("text"), lit(""))),
          w, salt = "clstr").as("score"),
        col("y"))
      graft.ops.Eval.binaryEval(scored, "score", "y", threshold = 0L)
    }),

    // Sweep-line concurrency profile: every 20th user's events spawn
    // half-open activity intervals of 1 + id % 7 minutes; the output
    // is the full step function (boundary instant, active count) —
    // the "concurrent visits" capacity question. The engine never
    // funnels: boundary collapse + the range-partitioned prefix scan;
    // the oracle replays it with a plain window.
    "q_interval_concurrency" -> ((s, dir) => {
      val iv = graft.tables.TestTables.events(s, dir)
        .filter(col("user_id") % 20 === 0)
        .select(col("ts_us").as("start_us"),
          (col("ts_us") + (lit(1L) + col("event_id") % 7) * 60000000L).as("end_us"))
      graft.ops.Intervals.concurrency(iv, "start_us", "end_us")
        .orderBy(col("t"))
    }),

    // 2-D Pareto skyline over lineitem: the undominated
    // (quantity, price) rows — maximize both, exact ties all kept.
    // Never the quadratic pairwise test: collapse to per-quantity max
    // price, exclusive running max descending (the scalable prefix
    // scan, not a global window), join the frontier back. The oracle
    // replays the same collapse + prefix max + equality join.
    "q_skyline" -> ((s, dir) => {
      val pts = graft.tables.TestTables.lineitem(s, dir).select(
        floor(col("l_quantity")).cast("long").as("qty"),
        floor(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      graft.ops.Skyline.frontier2d(pts, "qty", "price_cents")
        .orderBy(col("qty"), col("price_cents"), col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"))
    }),

    // Per-group skyline: the quantity×price frontier per return flag —
    // partitioned windows distribute the dominance scan (the grouped
    // twin of q_skyline, like cusum's). Window-replay oracle.
    "q_skyline_by_group" -> ((s, dir) => {
      val pts = graft.tables.TestTables.lineitem(s, dir).select(
        col("l_returnflag"),
        floor(col("l_quantity")).cast("long").as("qty"),
        floor(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      graft.ops.Skyline.frontier2dByGroup(pts, "l_returnflag", "qty", "price_cents")
        .orderBy(col("l_returnflag"), col("qty"), col("price_cents"),
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    }),

    // Row-level migration diff (the companion of q_audit_fingerprint):
    // a planted after-snapshot of orders removes every 97th key,
    // rewrites every 13th-mod-5 status, and re-inserts every
    // 101st-mod-7 row under a shifted key; the diff must label exactly
    // those keys added/removed/changed and NOTHING else. The oracle
    // replays the length-prefixed md5 row hash and the full outer
    // join token for token.
    "q_table_diff" -> ((s, dir) => {
      val before = graft.tables.TestTables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"))
      val after = before
        .filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 13 === 5, lit("X")).otherwise(col("o_orderstatus")))
        .unionByName(before.filter(col("o_orderkey") % 101 === 7)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      graft.ops.TableDiff.diff(before, after, Seq("o_orderkey"),
          Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // Fingerprint-PRUNED migration diff (the rsync discipline): the
    // planted after-snapshot touches only partitions 3 (status
    // rewrites), 7 (removals), and 11 (shifted-key re-inserts) of the
    // 20 o_orderkey%20 partitions — per-partition fingerprints find
    // exactly those, and the row-level diff runs over them alone. The
    // oracle is the UNPRUNED diff replay: pruning must change nothing.
    "q_table_diff_pruned" -> ((s, dir) => {
      val base = graft.tables.TestTables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority"))
        .withColumn("part", col("o_orderkey") % 20)
      val after = base
        .filter(!(col("o_orderkey") % 20 === 7 && col("o_orderkey") % 5 === 0))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 20 === 3 && col("o_orderkey") % 3 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
        .unionByName(base
          .filter(col("o_orderkey") % 20 === 11 && col("o_orderkey") % 7 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      graft.ops.TableDiff.prunedDiff(base, after, "part", Seq("o_orderkey"),
          Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // Binary-classifier evaluation of the FIXED quality scorer against
    // the planted parity labels: confusion quadrant at threshold 0 plus
    // ROC AUC as the exact rational auc2_num/auc2_den (Mann–Whitney
    // with average-rank ties, doubled onto the integer grid). The
    // synthetic weights are uncorrelated with parity, so this verdict
    // IS the near-0.5 null baseline an eval harness must reproduce
    // exactly — the oracle replays score granularity, the inclusive
    // prefix count, and the doubled rank statistic token for token.
    "q_eval_auc" -> ((s, dir) => {
      val scored = graft.datapipe.Classifier.scoreDocs(
          graft.tables.TestTables.documents(s, dir), "doc_id", "text",
          graft.datapipe.Classifier.syntheticWeights(64), salt = "cls0", threshold = 0L)
        .withColumn("y", (col("doc_id") % 2 === 0).cast("long"))
      graft.ops.Eval.binaryEval(scored, "score", "y", threshold = 0L)
    }),

    // Reliability table for the same scorer/labels as q_eval_auc:
    // rank-decile bins over the TOTAL (score, y) order (label in the
    // order makes tie-spanning bins deterministic), exact per-bin
    // counts. The oracle replays row_number over the same order and
    // the same integer-division cut.
    "q_eval_calibration" -> ((s, dir) => {
      val scored = graft.datapipe.Classifier.scoreDocs(
          graft.tables.TestTables.documents(s, dir), "doc_id", "text",
          graft.datapipe.Classifier.syntheticWeights(64), salt = "cls0", threshold = 0L)
        .withColumn("y", (col("doc_id") % 2 === 0).cast("long"))
      graft.ops.Eval.calibrationBins(scored, "score", "y", bins = 10)
        .orderBy(col("bin"))
    }),

    // The full train→score→EVALUATE loop (the reference validates its
    // predictions model against labeled visits — test_for_samy.ipynb,
    // predictions.py:79-127): train the quality classifier on the
    // planted corpus, score that same labeled corpus with the learned
    // vector, and emit the confusion + exact-rational-AUC verdict. The
    // oracle chains the 6-iteration training replay into the scoring
    // replay into the eval tail — one hash-compared statement; the
    // planted classes separate, so AUC must land exactly 1.
    "q_eval_auc_trained" -> ((s, dir) => {
      val marked = graft.tables.TestTables.documents(s, dir).select(
        col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 2 === 0, lit(" qualgood qualgood qualgood"))
            .otherwise(lit(" qualbad qualbad qualbad"))).as("text"),
        (col("doc_id") % 2 === 0).cast("long").as("y"))
      // r13 OPT (guide §1.2/§2.4): score the resubstitution corpus from
      // the trainer's already-materialized (y, bks) feature blocks —
      // the old form re-scanned the parquet, re-tokenized and re-ran
      // the per-token md5 bucket hash a 7th time just to fold the
      // learned weights; the fold over `bks` is the identical sum.
      val (w, feat) = graft.datapipe.Classifier.trainWithFeatures(
        marked, "text", col("y"), dim = 64, salt = "clstr", iters = 6)
      val scored = feat.select(
        graft.datapipe.Classifier.scoreFromBuckets(col("bks"), w).as("score"),
        col("y"))
      graft.ops.Eval.binaryEval(scored, "score", "y", threshold = 0L)
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_cohort_retention" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
        |cohorts AS (SELECT u, min(day) AS cohort_day FROM days GROUP BY u)
        |SELECT c.cohort_day,
        |  date_diff('day', c.cohort_day, d.day) AS k,
        |  CAST(count(*) AS BIGINT) AS active_users
        |FROM days d JOIN cohorts c ON d.u = c.u
        |WHERE date_diff('day', c.cohort_day, d.day) <= 14
        |GROUP BY 1, 2 ORDER BY cohort_day, k""".stripMargin,

    "q_profile_columns" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count($c) AS BIGINT) AS n_nonnull,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  min(CAST($c AS VARCHAR)) AS min_v, max(CAST($c AS VARCHAR)) AS max_v
           |FROM documents""".stripMargin
      Seq("doc_id", "text", "lang", "source", "n_chars").map(one)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")
    },

    "q_ts_gapfill" ->
      """WITH d AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders WHERE o_custkey <= 50 GROUP BY 1, 2),
        |spine AS (
        |  SELECT o_custkey, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT o_custkey, min(day) AS lo, max(day) AS hi FROM d GROUP BY 1)),
        |j AS (
        |  SELECT s.o_custkey, s.day, d.spend, d.n_orders
        |  FROM spine s LEFT JOIN d ON d.o_custkey = s.o_custkey AND d.day = s.day)
        |SELECT o_custkey, day,
        |  last_value(spend IGNORE NULLS) OVER w AS spend,
        |  last_value(n_orders IGNORE NULLS) OVER w AS n_orders
        |FROM j
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, day""".stripMargin,

    "q_event_transitions" ->
      """WITH seq AS (
        |  SELECT event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, next_type""".stripMargin,

    "q_gini" ->
      """WITH g AS (
        |  SELECT l_partkey, CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT rev, row_number() OVER (ORDER BY rev, l_partkey) AS rk FROM g)
        |SELECT
        |  CAST(2 * sum(rk * rev) - (count(*) + 1) * sum(rev) AS BIGINT) AS gini_num,
        |  CAST(count(*) * sum(rev) AS BIGINT) AS gini_den,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(rev) AS BIGINT) AS total
        |FROM r""".stripMargin,

    "q_weighted_mean" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT) * CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS wsum_num,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS wsum_den,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_ri_audit" ->
      """WITH
        |e1 AS (SELECT 'lineitem->orders' AS edge,
        |  CAST(count(CASE WHEN f.l_orderkey IS NOT NULL AND d.o_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_orphans,
        |  CAST(count(DISTINCT CASE WHEN f.l_orderkey IS NOT NULL AND d.o_orderkey IS NULL THEN f.l_orderkey END) AS BIGINT) AS n_orphan_keys,
        |  CAST(count(CASE WHEN f.l_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_null_fks
        |  FROM lineitem f LEFT JOIN orders d ON f.l_orderkey = d.o_orderkey),
        |e2 AS (SELECT 'lineitem->part' AS edge,
        |  CAST(count(CASE WHEN f.l_partkey IS NOT NULL AND d.p_partkey IS NULL THEN 1 END) AS BIGINT),
        |  CAST(count(DISTINCT CASE WHEN f.l_partkey IS NOT NULL AND d.p_partkey IS NULL THEN f.l_partkey END) AS BIGINT),
        |  CAST(count(CASE WHEN f.l_partkey IS NULL THEN 1 END) AS BIGINT)
        |  FROM lineitem f LEFT JOIN part d ON f.l_partkey = d.p_partkey),
        |e3 AS (SELECT 'lineitem->supplier' AS edge,
        |  CAST(count(CASE WHEN f.l_suppkey IS NOT NULL AND d.s_suppkey IS NULL THEN 1 END) AS BIGINT),
        |  CAST(count(DISTINCT CASE WHEN f.l_suppkey IS NOT NULL AND d.s_suppkey IS NULL THEN f.l_suppkey END) AS BIGINT),
        |  CAST(count(CASE WHEN f.l_suppkey IS NULL THEN 1 END) AS BIGINT)
        |  FROM lineitem f LEFT JOIN supplier d ON f.l_suppkey = d.s_suppkey),
        |e4 AS (SELECT 'orders->customer' AS edge,
        |  CAST(count(CASE WHEN f.o_custkey IS NOT NULL AND d.c_custkey IS NULL THEN 1 END) AS BIGINT),
        |  CAST(count(DISTINCT CASE WHEN f.o_custkey IS NOT NULL AND d.c_custkey IS NULL THEN f.o_custkey END) AS BIGINT),
        |  CAST(count(CASE WHEN f.o_custkey IS NULL THEN 1 END) AS BIGINT)
        |  FROM orders f LEFT JOIN customer d ON f.o_custkey = d.c_custkey),
        |e5 AS (SELECT 'events->customer' AS edge,
        |  CAST(count(CASE WHEN f.user_id IS NOT NULL AND d.c_custkey IS NULL THEN 1 END) AS BIGINT),
        |  CAST(count(DISTINCT CASE WHEN f.user_id IS NOT NULL AND d.c_custkey IS NULL THEN f.user_id END) AS BIGINT),
        |  CAST(count(CASE WHEN f.user_id IS NULL THEN 1 END) AS BIGINT)
        |  FROM events f LEFT JOIN customer d ON f.user_id = d.c_custkey)
        |SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3
        |UNION ALL SELECT * FROM e4 UNION ALL SELECT * FROM e5 ORDER BY edge""".stripMargin,

    "q_ts_ewma" -> {
      val terms = (0 until 12).map(j =>
        s"coalesce((lag(n, $j) OVER w * 1000000) >> $j, 0)").mkString(" + ")
      s"""WITH d AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |spine AS (
         |  SELECT event_type, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM (SELECT event_type, min(day) AS lo, max(day) AS hi FROM d GROUP BY 1)),
         |dense AS (
         |  SELECT s.event_type, s.day, coalesce(d.n, 0) AS n
         |  FROM spine s LEFT JOIN d ON d.event_type = s.event_type AND d.day = s.day)
         |SELECT event_type, day, CAST(n AS BIGINT) AS n,
         |  CAST($terms AS BIGINT) AS ewma_scaled
         |FROM dense
         |WINDOW w AS (PARTITION BY event_type ORDER BY day)
         |ORDER BY event_type, day""".stripMargin
    },

    "q_countmin_rollup" -> {
      def bkt(i: Int, v: String) =
        s"CAST(('0x' || substr(md5('cm$i|' || $v), 1, 8)) AS BIGINT) % 1024"
      s"""WITH b AS (
         |  SELECT user_id,
         |    ${(0 until 4).map(i => s"${bkt(i, "CAST(user_id AS VARCHAR)")} AS b$i").mkString(",\n    ")}
         |  FROM events WHERE user_id IS NOT NULL),
         |${(0 until 4).map(i => s"r$i AS (SELECT b$i, count(*) AS n$i FROM b GROUP BY 1)").mkString(",\n")},
         |probes AS (SELECT DISTINCT user_id, b0, b1, b2, b3 FROM b WHERE user_id % 3 = 1)
         |SELECT p.user_id, CAST(least(r0.n0, r1.n1, r2.n2, r3.n3) AS BIGINT) AS est_count
         |FROM probes p
         |JOIN r0 USING (b0) JOIN r1 USING (b1) JOIN r2 USING (b2) JOIN r3 USING (b3)
         |ORDER BY p.user_id""".stripMargin
    },

    "q_countmin_freq" -> {
      def bkt(i: Int, v: String) =
        s"CAST(('0x' || substr(md5('cm$i|' || $v), 1, 8)) AS BIGINT) % 1024"
      s"""WITH b AS (
         |  SELECT user_id,
         |    ${(0 until 4).map(i => s"${bkt(i, "CAST(user_id AS VARCHAR)")} AS b$i").mkString(",\n    ")}
         |  FROM events WHERE user_id IS NOT NULL),
         |${(0 until 4).map(i => s"r$i AS (SELECT b$i, count(*) AS n$i FROM b GROUP BY 1)").mkString(",\n")},
         |probes AS (SELECT DISTINCT user_id, b0, b1, b2, b3 FROM b WHERE user_id % 3 = 1)
         |SELECT p.user_id, CAST(least(r0.n0, r1.n1, r2.n2, r3.n3) AS BIGINT) AS est_count
         |FROM probes p
         |JOIN r0 USING (b0) JOIN r1 USING (b1) JOIN r2 USING (b2) JOIN r3 USING (b3)
         |ORDER BY p.user_id""".stripMargin
    },

    "q_bitmap_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT CAST(('0x' || substr(md5('bm|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 65536) AS BIGINT) AS n_user_buckets
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_bitmap_rollup" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |  CAST(count(DISTINCT CAST(('0x' || substr(md5('bm|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 65536) AS BIGINT) AS n_user_buckets
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_bitmap_overlap" ->
      """WITH b AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substr(md5('bm|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 65536 AS bkt
        |  FROM events WHERE user_id IS NOT NULL),
        |card AS (SELECT event_type, count(*) AS n FROM b GROUP BY 1),
        |co AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b, count(*) AS n_common
        |  FROM b x JOIN b y ON x.bkt = y.bkt AND x.event_type < y.event_type
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.event_type AS type_a, c.event_type AS type_b
        |  FROM card a JOIN card c ON a.event_type < c.event_type)
        |SELECT p.type_a, p.type_b,
        |  CAST(coalesce(co.n_common, 0) AS BIGINT) AS n_common,
        |  CAST(ca.n + cb.n - coalesce(co.n_common, 0) AS BIGINT) AS n_union
        |FROM pairs p
        |LEFT JOIN co ON co.type_a = p.type_a AND co.type_b = p.type_b
        |JOIN card ca ON ca.event_type = p.type_a
        |JOIN card cb ON cb.event_type = p.type_b
        |ORDER BY p.type_a, p.type_b""".stripMargin,

    "q_spike_detect" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1)
        |SELECT a.day, a.n, CAST(count(*) AS BIGINT) AS n_prior_days,
        |  CAST(sum(b.n) AS BIGINT) AS prior_sum,
        |  (a.n * 4 > CAST(sum(b.n) AS BIGINT)) AS spike
        |FROM d a JOIN d b
        |  ON date_diff('day', b.day, a.day) BETWEEN 1 AND 6
        |GROUP BY a.day, a.n
        |HAVING count(*) = 6
        |ORDER BY a.day""".stripMargin,

    "q_contingency" ->
      """WITH o AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS observed
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, CAST(count(*) AS BIGINT) AS row_total FROM documents GROUP BY 1),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS col_total FROM documents GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        |SELECT o.lang, o.source, observed, row_total, col_total,
        |  row_total * col_total AS e_num, (SELECT n FROM nn) AS e_den
        |FROM o JOIN r ON o.lang = r.lang JOIN c ON o.source = c.source
        |ORDER BY o.lang, o.source""".stripMargin,

    "q_basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ord, l_partkey AS part FROM lineitem),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
        |cnt AS (SELECT part, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
        |p AS (
        |  SELECT a.part AS part_a, b.part AS part_b, CAST(count(*) AS BIGINT) AS support
        |  FROM items a JOIN items b ON a.ord = b.ord AND a.part < b.part
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT part_a, part_b, support, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        |  support * (SELECT n FROM nn) AS lift_num,
        |  ca.cnt * cb.cnt AS lift_den
        |FROM p JOIN cnt ca ON ca.part = part_a JOIN cnt cb ON cb.part = part_b
        |ORDER BY part_a, part_b""".stripMargin,

    "q_abc_pareto" ->
      """WITH g AS (
        |  SELECT l_partkey, CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(rev) AS BIGINT) AS total FROM g),
        |c AS (
        |  SELECT l_partkey, rev,
        |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM g)
        |SELECT l_partkey, rev, cum,
        |  CASE WHEN cum * 10000 <= (SELECT total FROM t) * 8000 THEN 'A'
        |       WHEN cum * 10000 <= (SELECT total FROM t) * 9500 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM c ORDER BY l_partkey""".stripMargin,

    "q_ship_latency" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS total_days,
        |  CAST(min(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS min_days,
        |  CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS max_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_new_vs_returning" ->
      """WITH e AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events),
        |f AS (SELECT *, min(ts_us) OVER (PARTITION BY user_id) AS first_us FROM e)
        |SELECT day,
        |  CAST(count(DISTINCT CASE WHEN CAST(make_timestamp(first_us) AS DATE) = day
        |    THEN user_id END) AS BIGINT) AS new_users,
        |  CAST(count(DISTINCT CASE WHEN CAST(make_timestamp(first_us) AS DATE) <> day
        |    THEN user_id END) AS BIGINT) AS returning_users
        |FROM f GROUP BY day ORDER BY day""".stripMargin,

    "q_trailing_7d" ->
      """WITH d AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |    CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |e AS (SELECT day, cents, date_diff('day', DATE '1970-01-01', day) AS epoch_day FROM d)
        |SELECT day, cents,
        |  CAST(sum(cents) OVER (ORDER BY epoch_day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail7_cents,
        |  CAST(count(*) OVER (ORDER BY epoch_day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail7_days
        |FROM e ORDER BY day""".stripMargin,

    "q_wow_delta" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1)
        |SELECT day, n, lag(n) OVER (ORDER BY day) AS prev_n,
        |  n - lag(n) OVER (ORDER BY day) AS delta
        |FROM d ORDER BY day""".stripMargin,

    "q_share_of_total" ->
      """WITH c AS (
        |  SELECT l_returnflag, CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |g AS (SELECT l_returnflag, CAST(sum(cents) AS BIGINT) AS flag_cents FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM c)
        |SELECT l_returnflag, flag_cents,
        |  (flag_cents * 10000) // (SELECT total FROM t) AS share_bp
        |FROM g ORDER BY l_returnflag""".stripMargin,

    "q_rfm_segments" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (
        |  SELECT user_id, max(ts_us) AS last_us, CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(cents) AS BIGINT) AS cents
        |  FROM p GROUP BY user_id),
        |t AS (
        |  SELECT *,
        |    CASE WHEN last_us >= 1705406400000000 THEN 3
        |         WHEN last_us >= 1705406400000000 - 86400000000 THEN 2 ELSE 1 END AS r_tier,
        |    CASE WHEN freq >= 20 THEN 3 WHEN freq >= 10 THEN 2 ELSE 1 END AS f_tier,
        |    CASE WHEN cents >= 100000 THEN 3 WHEN cents >= 50000 THEN 2 ELSE 1 END AS m_tier
        |  FROM a)
        |SELECT user_id, last_us, freq, cents,
        |  CAST(r_tier AS INT) AS r_tier, CAST(f_tier AS INT) AS f_tier, CAST(m_tier AS INT) AS m_tier,
        |  r_tier || '-' || f_tier || '-' || m_tier AS segment
        |FROM t ORDER BY user_id""".stripMargin,

    "q_dwell_time" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |d AS (
        |  SELECT event_type,
        |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us AS dwell_us
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(dwell_us) AS BIGINT) AS total_dwell_us,
        |  max(dwell_us) AS max_dwell_us
        |FROM d WHERE dwell_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_histogram" ->
      """WITH q AS (SELECT CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |b AS (SELECT CAST(floor(cents / 500.0) AS BIGINT) AS bin, cents FROM q)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n, min(cents) AS lo, max(cents) AS hi
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q_target_encode" ->
      """WITH t AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(c_acctbal > 5000.0 AS BIGINT) AS target
        |  FROM customer)
        |SELECT c_custkey, c_mktsegment, target,
        |  CAST(sum(target) OVER (PARTITION BY c_mktsegment) - target + 1 AS BIGINT) AS code_num,
        |  count(*) OVER (PARTITION BY c_mktsegment) - 1 + 2 AS code_den
        |FROM t ORDER BY c_custkey""".stripMargin,

    "q_journey_ngrams" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |marked AS (
        |  SELECT user_id, event_id, ts_us, event_type,
        |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |              > 1800000000 THEN 1
        |         WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL THEN 1
        |         ELSE 0 END AS new_sess
        |  FROM e),
        |sess AS (
        |  SELECT user_id, event_id, ts_us, event_type,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM marked),
        |journeys AS (
        |  SELECT list(event_type ORDER BY ts_us, event_id) AS types
        |  FROM sess GROUP BY user_id, sess_id),
        |paths AS (
        |  SELECT unnest(CASE WHEN len(types) < 3 THEN [array_to_string(types, ' ')]
        |    ELSE list_transform(range(1, len(types) - 1),
        |           j -> types[j] || ' ' || types[j + 1] || ' ' || types[j + 2]) END) AS path
        |  FROM journeys)
        |SELECT path, CAST(count(*) AS BIGINT) AS n FROM paths
        |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin,

    "q_dict_encode" ->
      """WITH vocab AS (
        |  SELECT c_mktsegment, row_number() OVER (ORDER BY c_mktsegment) - 1 AS seg_code
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer WHERE c_mktsegment IS NOT NULL))
        |SELECT c.c_custkey, c.c_mktsegment, v.seg_code
        |FROM customer c LEFT JOIN vocab v USING (c_mktsegment)
        |ORDER BY c.c_custkey""".stripMargin,

    "q_global_index" ->
      """SELECT o_orderkey, o_totalprice,
        |  row_number() OVER (ORDER BY o_orderkey) - 1 AS global_idx
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_drift_tvd" ->
      """WITH e AS (
        |  SELECT event_type, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |a AS (SELECT event_type FROM e WHERE ts_us < 1705406400000000),
        |b AS (SELECT event_type FROM e WHERE ts_us >= 1705406400000000
        |      AND NOT (event_type = 'click' AND user_id % 3 = 0)),
        |ca AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c_a FROM a GROUP BY 1),
        |cb AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c_b FROM b GROUP BY 1),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM a),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM b)
        |SELECT event_type,
        |  coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b, n_a, n_b,
        |  abs(coalesce(c_a, 0) * n_b - coalesce(c_b, 0) * n_a) AS tvd_num,
        |  (abs(coalesce(c_a, 0) * n_b - coalesce(c_b, 0) * n_a) * 100 > 2 * n_a * n_b) AS drifted
        |FROM ca FULL OUTER JOIN cb USING (event_type), na, nb
        |ORDER BY event_type""".stripMargin,

    "q_anomaly_mad" ->
      """WITH q AS (
        |  SELECT event_type AS group_key, CAST(floor(value * 100) AS BIGINT) AS vq
        |  FROM events),
        |m AS (SELECT group_key, quantile_cont(vq, 0.5) AS med FROM q GROUP BY 1),
        |d AS (
        |  SELECT q.group_key, vq, med, abs(vq - med) AS dev
        |  FROM q JOIN m ON q.group_key = m.group_key),
        |mm AS (SELECT group_key, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.group_key, CAST(count(*) AS BIGINT) AS n, min(med) AS med,
        |  min(mad) AS mad,
        |  CAST(sum(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN mm ON d.group_key = mm.group_key
        |GROUP BY d.group_key ORDER BY d.group_key""".stripMargin,

    "q_group_quantiles" ->
      """WITH g AS (
        |  SELECT l_returnflag, quantile_cont(l_quantity, [0.25, 0.5, 0.75]) AS qs
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, unnest([0.25, 0.5, 0.75]) AS p, unnest(qs) AS q
        |FROM g ORDER BY l_returnflag, p""".stripMargin,

    "q_window_funcs" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey, l_quantity,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist,
        |  lag(l_quantity, 1) OVER w AS prev_qty,
        |  lead(l_quantity, 1) OVER w AS next_qty
        |FROM lineitem WHERE l_suppkey <= 20
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_quantity, l_orderkey, l_linenumber, l_partkey)
        |ORDER BY l_suppkey, l_quantity, l_orderkey, l_linenumber, l_partkey""".stripMargin,

    "q_audit_fingerprint" -> {
      def one(c: String) =
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  bit_xor(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15))::BIGINT) AS xor_check,
           |  CAST(sum((('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15))::BIGINT) % 1000000) AS BIGINT) AS sum_check
           |FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority").map(one)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")
    },

    "q_olap_unpivot" ->
      """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
        |t(event_type) AS (VALUES ('click'), ('view'), ('signup'), ('purchase'), ('error')),
        |c AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM events GROUP BY 1, 2)
        |SELECT d.day, t.event_type, coalesce(c.n, CAST(0 AS BIGINT)) AS n
        |FROM days d CROSS JOIN t
        |LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
        |ORDER BY d.day, t.event_type""".stripMargin,

    "q_olap_rollup" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY ROLLUP(source, lang)
        |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin,

    "q_olap_cube" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(grouping(source) AS INT) AS g_source,
        |  CAST(grouping(lang) AS INT) AS g_lang
        |FROM documents GROUP BY CUBE(source, lang)
        |ORDER BY g_source, g_lang, source NULLS FIRST, lang NULLS FIRST""".stripMargin,

    "q_olap_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    "q_funnel_conversion" ->
      """WITH s1 AS (
        |  SELECT user_id AS u, min(epoch_us(CAST(ts AS TIMESTAMP))) AS t
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id AS u, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.u
        |  WHERE e.event_type = 'view' AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s1.t
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id AS u, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.u
        |  WHERE e.event_type = 'purchase' AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s2.t
        |  GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 1 AS stage_idx, 'signup' AS stage,
        |    CAST((SELECT count(*) FROM s1) AS BIGINT) AS users
        |  UNION ALL SELECT 2, 'view', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |  UNION ALL SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT))
        |ORDER BY stage_idx""".stripMargin,

    "q_kpi_daily" ->
      s"""WITH preds AS (
         |${QueriesPipeline.predictionsSql(withDay = true)}
         |),
         |daily AS (
         |  SELECT day,
         |    CAST(count(*) AS BIGINT) AS services,
         |    CAST(count(DISTINCT visit_id) AS BIGINT) AS visits,
         |    CAST(sum(CASE WHEN medical_prediction = 'Rejected' THEN 1 ELSE 0 END) AS BIGINT) AS rejected,
         |    CAST(sum(uid % 300 + 5) AS DOUBLE) / CAST(10.0 AS DOUBLE) AS time_sec
         |  FROM preds GROUP BY day)
         |SELECT day, services, visits, rejected, time_sec,
         |  services - rejected AS approved,
         |  time_sec / services AS avg_time_per_service,
         |  time_sec / visits AS avg_time_per_visit
         |FROM daily ORDER BY day""".stripMargin,

    "q_eda_conflicts" ->
      s"""WITH preds AS (
         |${QueriesPipeline.predictionsSql()}
         |)
         |SELECT visit_id, svc,
         |  CAST(count(DISTINCT medical_prediction) AS BIGINT) AS n_predictions,
         |  array_to_string(list_sort(list_distinct(list(medical_prediction))), ',') AS predictions,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM preds
         |GROUP BY visit_id, svc
         |HAVING count(DISTINCT medical_prediction) > 1
         |ORDER BY visit_id, svc""".stripMargin,

    "q_eda_missing_rate" ->
      s"""WITH preds AS (
         |${QueriesPipeline.predictionsSql()}
         |),
         |agg AS (
         |  SELECT
         |    CAST(count(DISTINCT CASE WHEN medical_prediction = 'Failed to reach LLM'
         |      THEN CAST(visit_id AS VARCHAR) || '|' || CAST(svc AS VARCHAR) END) AS BIGINT) AS n_missing_pairs,
         |    CAST(count(DISTINCT CAST(visit_id AS VARCHAR) || '|' || CAST(svc AS VARCHAR)) AS BIGINT) AS total_pairs
         |  FROM preds)
         |SELECT n_missing_pairs, total_pairs,
         |  CAST(n_missing_pairs AS DOUBLE) / total_pairs AS missing_rate
         |FROM agg""".stripMargin,

    "q_eda_dup_insertions" ->
      s"""WITH preds AS (
         |${QueriesPipeline.predictionsSql()}
         |)
         |SELECT visit_id, svc,
         |  CAST(count(*) AS BIGINT) AS n_times,
         |  min(uid) AS first_uid,
         |  max(uid) AS last_uid,
         |  max(uid) - min(uid) AS uid_span
         |FROM preds
         |GROUP BY visit_id, svc
         |HAVING count(*) > 1
         |ORDER BY visit_id, svc""".stripMargin,

    "q_ts_cusum" ->
      """WITH daily AS (
        |  SELECT day, CAST(raw + CASE WHEN day >= DATE '2024-01-23' THEN 15 ELSE 0 END AS BIGINT) AS n
        |  FROM (SELECT CAST(ts AS DATE) AS day, count(*) AS raw FROM events GROUP BY 1)),
        |s AS (
        |  SELECT day, n, CAST(sum(n - 335) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS S
        |  FROM daily),
        |m AS (
        |  SELECT day, n, S, min(S) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS minS
        |  FROM s)
        |SELECT day, n, CAST(S - least(minS, 0) AS BIGINT) AS cusum,
        |  S - least(minS, 0) > 60 AS alarm
        |FROM m ORDER BY day""".stripMargin,

    "q_ts_cusum_by_type" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, day, n,
        |    CAST(sum(n - 68) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS S
        |  FROM daily),
        |m AS (
        |  SELECT event_type, day, n, S,
        |    min(S) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS minS
        |  FROM s)
        |SELECT event_type, day, n, CAST(S - least(minS, 0) AS BIGINT) AS cusum,
        |  S - least(minS, 0) > 25 AS alarm
        |FROM m ORDER BY event_type, day""".stripMargin,

    "q_interval_concurrency" ->
      """WITH iv AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + (1 + event_id % 7) * 60000000 AS e_us
        |  FROM events WHERE user_id % 20 = 0),
        |deltas AS (
        |  SELECT t, CAST(sum(d) AS BIGINT) AS net FROM (
        |    SELECT s_us AS t, 1 AS d FROM iv
        |    UNION ALL
        |    SELECT e_us AS t, -1 AS d FROM iv)
        |  GROUP BY t)
        |SELECT t, CAST(sum(net) OVER (ORDER BY t
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_active
        |FROM deltas ORDER BY t""".stripMargin,

    "q_skyline" ->
      """WITH pts AS (
        |  SELECT CAST(floor(l_quantity) AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |    l_orderkey, l_linenumber, l_partkey
        |  FROM lineitem),
        |g AS (SELECT qty, CAST(max(price_cents) AS BIGINT) AS m FROM pts GROUP BY qty),
        |pm AS (
        |  SELECT qty, m,
        |    max(m) OVER (ORDER BY qty DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM g),
        |f AS (SELECT qty, m FROM pm WHERE pmax IS NULL OR pmax < m)
        |SELECT p.qty, p.price_cents, p.l_orderkey, p.l_linenumber, p.l_partkey
        |FROM pts p JOIN f ON p.qty = f.qty AND p.price_cents = f.m
        |ORDER BY p.qty, p.price_cents, p.l_orderkey, p.l_linenumber, p.l_partkey""".stripMargin,

    "q_skyline_by_group" ->
      """WITH pts AS (
        |  SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |    l_orderkey, l_linenumber, l_partkey
        |  FROM lineitem),
        |g AS (SELECT l_returnflag, qty, CAST(max(price_cents) AS BIGINT) AS m
        |  FROM pts GROUP BY 1, 2),
        |pm AS (
        |  SELECT l_returnflag, qty, m,
        |    max(m) OVER (PARTITION BY l_returnflag ORDER BY qty DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM g),
        |f AS (SELECT l_returnflag, qty, m FROM pm WHERE pmax IS NULL OR pmax < m)
        |SELECT p.l_returnflag, p.qty, p.price_cents,
        |  p.l_orderkey, p.l_linenumber, p.l_partkey
        |FROM pts p JOIN f ON p.l_returnflag = f.l_returnflag
        |  AND p.qty = f.qty AND p.price_cents = f.m
        |ORDER BY p.l_returnflag, p.qty, p.price_cents,
        |  p.l_orderkey, p.l_linenumber, p.l_partkey""".stripMargin,

    "q_table_diff" -> {
      val h = graft.ops.TableDiff.rowHashSql(
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
      s"""WITH before_t AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders),
         |after_t AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 13 = 5 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         |    o_orderpriority
         |  FROM before_t WHERE o_orderkey % 97 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_orderpriority
         |  FROM before_t WHERE o_orderkey % 101 = 7),
         |a AS (SELECT o_orderkey, $h AS hash_before FROM before_t),
         |b AS (SELECT o_orderkey, $h AS hash_after FROM after_t),
         |j AS (
         |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         |    hash_before, hash_after
         |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
         |SELECT o_orderkey,
         |  CASE WHEN hash_before IS NULL THEN 'added'
         |       WHEN hash_after IS NULL THEN 'removed'
         |       WHEN hash_before <> hash_after THEN 'changed' END AS status,
         |  hash_before, hash_after
         |FROM j
         |WHERE hash_before IS NULL OR hash_after IS NULL OR hash_before <> hash_after
         |ORDER BY o_orderkey""".stripMargin
    },

    "q_table_diff_pruned" -> {
      val h = graft.ops.TableDiff.rowHashSql(
        Seq("o_custkey", "o_orderstatus", "o_orderpriority"))
      s"""WITH before_t AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders),
         |after_t AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN o_orderkey % 20 = 3 AND o_orderkey % 3 = 0
         |      THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         |    o_orderpriority
         |  FROM before_t WHERE NOT (o_orderkey % 20 = 7 AND o_orderkey % 5 = 0)
         |  UNION ALL
         |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_orderpriority
         |  FROM before_t WHERE o_orderkey % 20 = 11 AND o_orderkey % 7 = 0),
         |a AS (SELECT o_orderkey, $h AS hash_before FROM before_t),
         |b AS (SELECT o_orderkey, $h AS hash_after FROM after_t),
         |j AS (
         |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         |    hash_before, hash_after
         |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
         |SELECT o_orderkey,
         |  CASE WHEN hash_before IS NULL THEN 'added'
         |       WHEN hash_after IS NULL THEN 'removed'
         |       WHEN hash_before <> hash_after THEN 'changed' END AS status,
         |  hash_before, hash_after
         |FROM j
         |WHERE hash_before IS NULL OR hash_after IS NULL OR hash_before <> hash_after
         |ORDER BY o_orderkey""".stripMargin
    },

    "q_eval_auc" -> graft.ops.Eval.binaryEvalSql(
      s"""SELECT
         |    ${graft.datapipe.Classifier.scoreExprSql(
               graft.datapipe.Classifier.syntheticWeights(64), salt = "cls0",
               wordsExpr =
                 "list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), x -> x <> '')")} AS score,
         |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS y
         |  FROM documents""".stripMargin,
      threshold = 0L),

    "q_eval_calibration" -> {
      val score = graft.datapipe.Classifier.scoreExprSql(
        graft.datapipe.Classifier.syntheticWeights(64), salt = "cls0",
        wordsExpr =
          "list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'), x -> x <> '')")
      s"""WITH sc AS (
         |  SELECT $score AS score,
         |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |nn AS (SELECT count(*) AS n FROM sc),
         |r AS (SELECT score, y,
         |  row_number() OVER (ORDER BY score, y) - 1 AS rnk FROM sc)
         |SELECT CAST(rnk * 10 // (SELECT n FROM nn) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(min(score) AS BIGINT) AS min_score,
         |  CAST(max(score) AS BIGINT) AS max_score
         |FROM r GROUP BY 1 ORDER BY bin""".stripMargin
    },

    "q_eval_auc_holdout" -> graft.datapipe.Classifier.trainEvalHoldoutOracleSql(
      """SELECT doc_id,
        |    coalesce(text, '') || CASE WHEN doc_id % 2 = 0
        |      THEN ' qualgood qualgood qualgood' ELSE ' qualbad qualbad qualbad' END AS text,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE doc_id % 3 <> 0""".stripMargin,
      """SELECT doc_id,
        |    coalesce(text, '') || CASE WHEN doc_id % 2 = 0
        |      THEN ' qualgood qualgood qualgood' ELSE ' qualbad qualbad qualbad' END AS text,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE doc_id % 3 = 0""".stripMargin,
      dim = 64, salt = "clstr", iters = 6, threshold = 0L),

    "q_eval_auc_trained" -> graft.datapipe.Classifier.trainEvalOracleSql(
      """SELECT doc_id,
        |    coalesce(text, '') || CASE WHEN doc_id % 2 = 0
        |      THEN ' qualgood qualgood qualgood' ELSE ' qualbad qualbad qualbad' END AS text,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents""".stripMargin,
      dim = 64, salt = "clstr", iters = 6, threshold = 0L),
  )
}
