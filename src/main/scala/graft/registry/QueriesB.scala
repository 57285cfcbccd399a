package graft.registry

import graft.ops.ColumnOps
import graft.tables.TestTables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry: the pandas-dataflow operator surface (SURVEY.md §2.B) as
  * oracle-checked queries. The test tables have no natural NULLs, so
  * several queries synthesize them with nullif() — identically on both
  * engines — to exercise real null semantics.
  */
object QueriesB {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // B7: conditional column assignment (1680/1658 business rules).
    "q_b07_conditional_assign" -> ((s, dir) => {
      val base = TestTables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_linenumber") === 1, "1680 ")
            .when(col("l_linenumber") === 2, "1658 ")
            .otherwise(col("l_returnflag")).as("note"),
          when(col("l_quantity") > 25, "eligible").otherwise(lit(null: String)).as("class"))
      ColumnOps.applyClassRules(base, "note", "class")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("note"), col("class"))
    }),

    // B8: keep-last dedup over an explicit order (pandas keep="last").
    // r13 OPT (guide §2.4 — the r12 range-partition-once pattern): the
    // final ORDER BY keys equal the dedup window's PARTITION BY keys,
    // so range-partition the scan first — RangePartitioning(k)
    // satisfies the window's ClusteredDistribution (no hash exchange)
    // and the trailing global sort's OrderedDistribution (no second
    // exchange, no duplicate window-tail execution in the range
    // sampler). Same caveat as q_a11/q_a12: the win assumes no
    // downstream join forces hash co-partitioning — there is none here.
    "q_b08_dedup_keep_last" -> ((s, dir) =>
      ColumnOps.dedupKeepLast(
          TestTables.lineitem(s, dir)
            .repartitionByRange(col("l_orderkey"), col("l_partkey")),
          keys = Seq("l_orderkey", "l_partkey"),
          order = Seq(col("l_shipdate"), col("l_linenumber")))
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_shipdate"))
        .orderBy(col("l_orderkey"), col("l_partkey"))),

    // B8 variant: keep-first (outpatient duplicate-services rule).
    // Range-partitioned once, same rationale as keep-last above.
    "q_b08_dedup_keep_first" -> ((s, dir) =>
      ColumnOps.dedupKeepFirst(
          TestTables.lineitem(s, dir)
            .repartitionByRange(col("l_orderkey"), col("l_partkey")),
          keys = Seq("l_orderkey", "l_partkey"),
          order = Seq(col("l_shipdate"), col("l_linenumber")))
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_shipdate"))
        .orderBy(col("l_orderkey"), col("l_partkey"))),

    // B8 variant: keep-NONE (pandas drop_duplicates(keep=False)) —
    // every row of a duplicated (orderkey, partkey) is dropped; only
    // singleton keys survive. lineitem has planted duplicate rows by
    // design, so the cut is exercised for real.
    // Range-partitioned once, same rationale as keep-last above (the
    // unordered COUNT window accepts RangePartitioning the same way).
    "q_b08_dedup_keep_none" -> ((s, dir) =>
      ColumnOps.dedupKeepNone(
          TestTables.lineitem(s, dir)
            .repartitionByRange(col("l_orderkey"), col("l_partkey")),
          keys = Seq("l_orderkey", "l_partkey"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_shipdate"))
        .orderBy(col("l_orderkey"), col("l_partkey"))),

    // B12 variant: pandas merge(how="outer", indicator=True) — the
    // extract-reconciliation shape: which keys are only in the old
    // extract, only in the new, or in both. The custkey <= 1000 cut on
    // the left plus order-less customers on the right produce all
    // three indicator classes.
    "q_b12_outer_indicator" -> ((s, dir) => {
      val l = TestTables.customer(s, dir).filter(col("c_custkey") <= 1000)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      val r = TestTables.orders(s, dir)
        .groupBy(col("o_custkey").as("custkey")).agg(count(lit(1)).as("n_orders"))
      ColumnOps.outerMergeIndicator(l, r, Seq("custkey"))
        .orderBy(col("custkey"))
    }),

    // B9: null-row drop, any-null semantics (pandas dropna()).
    "q_b09_dropna_any" -> ((s, dir) =>
      TestTables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          nullif(col("l_returnflag"), lit("N")).as("flag"),
          nullif(col("l_linestatus"), lit("F")).as("status"))
        .na.drop("any")
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // B10: null coalesce across column pairs (name_conflict repair).
    "q_b10_name_conflict" -> ((s, dir) => {
      val base = TestTables.customer(s, dir)
        .select(col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("segment"),
          col("c_name").as("segment_alt"))
      ColumnOps.nameConflict(base, Seq("segment" -> "segment_alt"))
        .orderBy(col("c_custkey"))
    }),

    // B11: fill-null with constant (fillna("Approved")).
    "q_b11_fillna" -> ((s, dir) =>
      TestTables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          nullif(col("l_returnflag"), lit("R")).as("prediction"))
        .na.fill(Map("prediction" -> "Approved"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // B12: left equi-join merge (predictions ↔ claims on service id).
    "q_b12_left_merge" -> ((s, dir) => {
      val li = TestTables.lineitem(s, dir); val p = TestTables.part(s, dir)
      li.join(graft.ops.Joins.broadcastIfSmall(p), li("l_partkey") === p("p_partkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("p_name"), col("p_retailprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_name"))
    }),

    // B14: vertical concat / batch accumulation via unionByName.
    "q_b14_union_batches" -> ((s, dir) => {
      val o = TestTables.orders(s, dir)
      val b1 = o.filter(col("o_orderkey") % 3 === 0)
      val b2 = o.filter(col("o_orderkey") % 3 === 1)
      val b3 = o.filter(col("o_orderkey") % 3 === 2)
      b1.unionByName(b2).unionByName(b3)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // B15: distinct non-null values of one column.
    "q_b15_distinct_values" -> ((s, dir) =>
      TestTables.lineitem(s, dir)
        .select(nullif(col("l_partkey") % 100, lit(0)).as("iqama_no"))
        .na.drop().distinct()
        .orderBy(col("iqama_no"))),

    // B17: group counts, top-10 (value_counts().head(10)).
    "q_b17_top_counts" -> ((s, dir) =>
      TestTables.events(s, dir)
        .groupBy(col("event_type")).count()
        .orderBy(col("count").desc, col("event_type"))
        .limit(10)),

    // B18: per-group null test (auto-reject visits with any null ICD10).
    "q_b18_group_nulltest" -> ((s, dir) =>
      TestTables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(max(when(nullif(col("l_returnflag"), lit("N")).isNull, 1).otherwise(0)).as("has_null_dx"))
        .orderBy(col("l_orderkey"))),

    // B19: set difference — ids dropped by dedup (duplicated services).
    // Null-safe equi-join (<=>): NULL keys MATCH each other — the
    // pandas merge-on-nullable-key semantics SQL equality silently
    // drops. Synthesized nulls on both sides make the corner real.
    "q_nullsafe_join" -> ((s, dir) => {
      val l = TestTables.customer(s, dir)
        .select(col("c_custkey"), nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
      val r = TestTables.customer(s, dir)
        .select(nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
        .groupBy(col("seg")).agg(count(lit(1)).as("n_in_seg"))
      l.join(r, l("seg") <=> r("seg"), "left")
        .select(col("c_custkey"), l("seg").as("seg"), col("n_in_seg"))
        .orderBy(col("c_custkey"))
    }),

    // MULTISET set ops (intersectAll / exceptAll): lineitem carries
    // planted duplicate rows by design, so bag semantics — min(m,n)
    // copies intersect, max(m−n, 0) survive the difference — are
    // load-bearing; plain distinct INTERSECT/EXCEPT would hash-differ.
    //
    // r12 OPT (guide §2.3/§2.4): the literal intersectAll/exceptAll
    // form scanned lineitem FOUR times and shuffled TWO aggregations
    // (each operator plans its own union + count-compare). Both
    // multisets derive from the same scan, and the operators are pure
    // functions of the per-key multiplicities — so compute na/nb in
    // ONE conditional aggregation (one scan, one exchange) and
    // regenerate the copies: min(na, nb) intersect rows,
    // max(na − nb, 0) difference rows (array_repeat clamps negative
    // counts to empty). Bag semantics are bit-identical.
    "q_set_ops_all" -> ((s, dir) => {
      val li = TestTables.lineitem(s, dir)
      val counted = li
        .filter(col("l_orderkey") % 2 === 0 || col("l_quantity") > 25)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(
          sum((col("l_orderkey") % 2 === 0).cast("long")).as("__na"),
          sum((col("l_quantity") > 25).cast("long")).as("__nb"))
      counted
        .select(col("l_partkey"), col("l_suppkey"),
          explode(concat(
            array_repeat(lit("intersect_all"),
              least(col("__na"), col("__nb")).cast("int")),
            // max(na − nb, 0) spelled explicitly (r12 ADVICE): the old
            // form leaned on array_repeat silently clamping a negative
            // count to empty plus an unchecked long→int cast — same
            // rows, but fragile against engine/ANSI semantic drift.
            array_repeat(lit("except_all"),
              greatest(col("__na") - col("__nb"), lit(0L)).cast("int")))).as("op"))
        .orderBy(col("op"), col("l_partkey"), col("l_suppkey"))
    }),

    "q_b19_set_difference" -> ((s, dir) => {
      val li = TestTables.lineitem(s, dir)
        .withColumn("service_uid", col("l_orderkey") * 10 + col("l_linenumber"))
      val kept = ColumnOps.dedupKeepFirst(li, Seq("l_orderkey", "l_partkey"),
        Seq(col("l_shipdate"), col("l_linenumber"), col("service_uid")))
      li.select(col("service_uid")).except(kept.select(col("service_uid")))
        .orderBy(col("service_uid"))
    }),

    // B21: multi-format date normalization (change_date).
    "q_b21_date_norm" -> ((s, dir) => {
      val raw = TestTables.orders(s, dir)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
            .when(col("o_orderkey") % 3 === 1, date_format(col("o_orderdate"), "MM/dd/yyyy"))
            .otherwise(date_format(col("o_orderdate"), "dd-MM-yyyy")).as("raw_date"))
      raw.select(col("o_orderkey"), col("raw_date"),
          ColumnOps.dateNorm(col("raw_date"), Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "M/d/yyyy", "d-M-yyyy")).as("norm_date"))
        .orderBy(col("o_orderkey"))
    }),

    // B23/B24: numeric coercion via try_cast (errors="coerce").
    "q_b23_try_cast" -> ((s, dir) =>
      TestTables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_linenumber") % 3 === 0, concat(col("l_partkey").cast("string"), lit("x")))
            .otherwise(col("l_partkey").cast("string")).as("raw_id"))
        .withColumn("coerced_id", ColumnOps.tryCastLong(col("raw_id")))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("raw_id"))),

    // B26: nested-struct expansion — from_json(props).k (apply(pd.Series)).
    "q_b26_struct_expand" -> ((s, dir) =>
      TestTables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("prop_k"))
        .orderBy(col("event_id"))),

    // B29: first-row-per-group projection (iloc[0] per visit).
    "q_b29_first_per_group" -> ((s, dir) =>
      TestTables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(
          min_by(col("l_partkey"), struct(col("l_shipdate"), col("l_linenumber"), col("l_partkey"))).as("first_partkey"),
          min(col("l_shipdate")).as("first_shipdate"))
        .orderBy(col("l_orderkey"))),

    // B30: limit/head sample.
    "q_b30_head" -> ((s, dir) =>
      TestTables.orders(s, dir)
        .orderBy(col("o_orderkey")).limit(10)
        .select(col("o_orderkey"), col("o_orderstatus"))),

    // Z-order layout: the Morton code of two quantized dimensions,
    // computed by the engine's codegen'd shift/and fold and recomputed
    // bit-for-bit by the oracle's unrolled bitwise SQL — exact integer
    // agreement or the layout key is wrong everywhere it's used.
    "q_layout_zorder" -> ((s, dir) =>
      TestTables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          graft.ops.Layout.zValue(
            Seq(col("l_partkey") % 1024, col("l_suppkey") % 1024), bits = 10).as("z"))
        .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"), col("l_partkey"))),

    // Bucketed co-located join: both sides land bucketed 8-way on the
    // join key, so the join AND the aggregation on it plan with ZERO
    // exchanges — the scan itself carries the hash partitioning (see
    // sink/Bucketing.scala; BucketingSpec asserts the shuffle-free
    // plan). The oracle is the plain join+agg on the raw tables:
    // layout is a physical choice and must not change one row.
    "q_bucketed_join" -> ((s, dir) => {
      val base = graft.util.TempDirs.scratch("graft_buckets")
      graft.sink.Bucketing.writeBucketed(
        TestTables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_quantity"), col("l_partkey")),
        "graft_li_bkt", base + "/li", Seq("l_orderkey"), 8, Seq("l_orderkey"))
      graft.sink.Bucketing.writeBucketed(
        TestTables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
        "graft_ord_bkt", base + "/ord", Seq("l_orderkey"), 8, Seq("l_orderkey"))
      graft.sink.Bucketing.table(s, "graft_li_bkt")
        .join(graft.sink.Bucketing.table(s, "graft_ord_bkt"), Seq("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy(col("l_orderkey"), col("o_orderstatus"))
    }),

    // Skew-salted join: the engine runs the salted plan (probe salted
    // round-robin over 8 buckets, build replicated 8x, join keys
    // (l_suppkey, salt)); the oracle is the PLAIN left join — salting
    // must be a pure routing change with zero semantic footprint.
    "q_skew_salted_join" -> ((s, dir) => {
      val li = TestTables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_quantity"))
      val sup = TestTables.supplier(s, dir)
        .filter(col("s_suppkey") % 2 === 0)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"), col("s_nationkey"))
      graft.ops.Joins.saltedJoin(li, sup, Seq("l_suppkey"), saltBuckets = 8, joinType = "left")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_quantity"))
    }),

    // Salted two-phase aggregation: partial (key, salt) combine →
    // final key fold. Integer measures only (sum of long is
    // associative-exact; a salted double sum would change IEEE
    // accumulation order). Oracle: the plain GROUP BY.
    "q_skew_salted_agg" -> ((s, dir) => {
      val li = TestTables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("long").as("l_quantity")) // whole-number qty: long sum is associative-exact under salting
      graft.ops.Skew.saltedCountSum(li, Seq("l_returnflag", "l_linestatus"),
          "l_quantity", saltSrc = col("l_quantity"), buckets = 16)
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Bloom-pruned join: the engine filters the 60k-row lineitem probe
    // against an executor-merged Bloom sketch of the ~2%-selective part
    // subset BEFORE the join shuffle; the oracle is the PLAIN inner
    // join — the sketch has no false negatives and the real join
    // settles its false positives, so pruning must have zero semantic
    // footprint.
    "q_bloom_pruned_join" -> ((s, dir) => {
      val prb = TestTables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").as("partkey"), col("l_quantity"))
      val bld = TestTables.part(s, dir)
        .filter(col("p_size") === 1)
        .select(col("p_partkey").as("partkey"), col("p_name"))
      graft.ops.Joins.bloomPrunedJoin(prb, bld, Seq("partkey"),
          joinType = "inner", expectedItems = 10000L, numBits = 1L << 20)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("partkey"))
    }),

    // B4: Excel round-trip — write a slice to .xlsx (zip+SpreadsheetML,
    // JDK-only), read it back dtype=str like the reference's
    // pd.read_excel, coerce, and verify values survive both directions.
    // B2 variants: JSON-lines and ORC source/sink round-trips — the
    // interchange formats a Spark-native warehouse meets beside
    // parquet/CSV/Excel. Schema is declared on read-back (JSON infers
    // strings otherwise); doubles survive JSON text via Spark's
    // round-trip float formatting.
    // B3's read side: CSV round-trip with header + declared schema.
    // c_comment carries commas and quotes, so the writer's RFC-4180
    // quoting and the reader's unescaping are both load-bearing —
    // naive split-on-comma fails the hash.
    "q_b03_csv_roundtrip" -> ((s, dir) => {
      val path = graft.util.TempDirs.scratch("graft_csv") + "/cust"
      // Synthesized comment column carries commas AND double quotes.
      val slice = TestTables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          concat(col("c_name"), lit(", \"tier "), col("c_mktsegment"), lit("\", ok")).as("c_comment"))
      graft.sink.Sinks.archiveCsv(slice, path)
      s.read.schema(slice.schema).option("header", "true").csv(path)
        .orderBy(col("c_custkey"))
    }),

    "q_b02_json_roundtrip" -> ((s, dir) => {
      val path = graft.util.TempDirs.scratch("graft_json") + "/cust"
      val slice = TestTables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      slice.write.mode("overwrite").json(path)
      s.read.schema(slice.schema).json(path).orderBy(col("c_custkey"))
    }),
    // B2 variant: XML round-trip via Spark 4's NATIVE xml datasource
    // (rowTag rows under a root element) — the remaining interchange
    // format a warehouse boundary meets; schema declared on read-back
    // like the JSON path.
    "q_b02_xml_roundtrip" -> ((s, dir) => {
      val path = graft.util.TempDirs.scratch("graft_xml") + "/cust"
      val slice = TestTables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      slice.write.mode("overwrite").option("rowTag", "row").format("xml").save(path)
      s.read.schema(slice.schema).option("rowTag", "row").format("xml").load(path)
        .orderBy(col("c_custkey"))
    }),

    "q_b02_orc_roundtrip" -> ((s, dir) => {
      val path = graft.util.TempDirs.scratch("graft_orc") + "/orders"
      val slice = TestTables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          to_date(col("o_orderdate")).as("order_date"))
      slice.write.mode("overwrite").orc(path)
      s.read.orc(path).orderBy(col("o_orderkey"))
    }),

    "q_b04_excel_roundtrip" -> ((s, dir) => {
      val path = graft.util.TempDirs.scratch("graft_xlsx") + "/cust.xlsx"
      val slice = TestTables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
      graft.sources.Excel.write(slice, path)
      graft.sources.Excel.read(s, path)
        .select(col("c_custkey").cast("bigint").as("c_custkey"),
          col("c_name"), col("c_mktsegment"),
          col("c_acctbal").cast("double").as("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // D5/D6: constant tagging + deterministic insertion stamp.
    "q_d5_d6_stamping" -> ((s, dir) => {
      val o = TestTables.orders(s, dir)
      val hi = o.agg(max(col("o_orderdate")).as("__hi"))
      o.join(broadcast(hi))
        .select(col("o_orderkey"), lit("SNB").as("bu"),
          date_format(col("__hi"), "yyyy-MM-dd HH:mm").as("insertion_date"))
        .orderBy(col("o_orderkey"))
    }),

    // E1: the quality-gate metric (null-class ratio excluding 1660
    // notes), counted by the production gate's own columns.
    "q_e1_quality_gate" -> ((s, dir) => {
      val scored = TestTables.lineitem(s, dir)
        .select(
          when(col("l_linenumber") === 3, "1660 TPA")
            .otherwise(col("l_returnflag")).as("note"),
          when(col("l_quantity") > 25, "eligible").otherwise(lit(null: String)).as("class"))
      val (total, bad) = graft.sink.QualityGate.counts
      scored.select(total, bad)
        .select(col("total").as("total_rows"), col("bad").as("invalid_rows"),
          (col("bad").cast("double") / col("total").cast("double")).as("invalid_ratio"))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_b07_conditional_assign" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_linenumber = 1 THEN '1680 ' WHEN l_linenumber = 2 THEN '1658 '
        |         ELSE l_returnflag END AS note,
        |    CASE WHEN l_quantity > 25 THEN 'eligible' ELSE NULL END AS class
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, note,
        |  CASE WHEN note = '1680 ' AND class IS NULL THEN 'out-network'
        |       WHEN note = '1658 ' AND class IS NULL THEN 'not-active'
        |       ELSE class END AS class
        |FROM base ORDER BY l_orderkey, l_linenumber, note, class""".stripMargin,

    "q_b08_dedup_keep_last" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_shipdate FROM (
        |  SELECT l_orderkey, l_partkey, l_linenumber, l_shipdate,
        |    row_number() OVER (PARTITION BY l_orderkey, l_partkey
        |                       ORDER BY l_shipdate DESC, l_linenumber DESC) AS rn
        |  FROM lineitem) t WHERE rn = 1
        |ORDER BY l_orderkey, l_partkey""".stripMargin,

    "q_b08_dedup_keep_first" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_shipdate FROM (
        |  SELECT l_orderkey, l_partkey, l_linenumber, l_shipdate,
        |    row_number() OVER (PARTITION BY l_orderkey, l_partkey
        |                       ORDER BY l_shipdate ASC, l_linenumber ASC) AS rn
        |  FROM lineitem) t WHERE rn = 1
        |ORDER BY l_orderkey, l_partkey""".stripMargin,

    "q_b08_dedup_keep_none" ->
      """SELECT l_orderkey, l_partkey, l_linenumber, l_shipdate FROM (
        |  SELECT l_orderkey, l_partkey, l_linenumber, l_shipdate,
        |    count(*) OVER (PARTITION BY l_orderkey, l_partkey) AS n
        |  FROM lineitem) t WHERE n = 1
        |ORDER BY l_orderkey, l_partkey""".stripMargin,

    "q_b12_outer_indicator" ->
      """WITH l AS (
        |  SELECT c_custkey AS custkey, c_mktsegment FROM customer WHERE c_custkey <= 1000),
        |r AS (
        |  SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT coalesce(l.custkey, r.custkey) AS custkey, c_mktsegment, n_orders,
        |  CASE WHEN l.custkey IS NOT NULL AND r.custkey IS NOT NULL THEN 'both'
        |       WHEN l.custkey IS NOT NULL THEN 'left_only'
        |       ELSE 'right_only' END AS _merge
        |FROM l FULL OUTER JOIN r ON l.custkey = r.custkey
        |ORDER BY custkey""".stripMargin,

    "q_b09_dropna_any" ->
      """SELECT l_orderkey, l_linenumber,
        |  nullif(l_returnflag, 'N') AS flag, nullif(l_linestatus, 'F') AS status
        |FROM lineitem
        |WHERE nullif(l_returnflag, 'N') IS NOT NULL AND nullif(l_linestatus, 'F') IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_b10_name_conflict" ->
      """SELECT c_custkey, coalesce(nullif(c_mktsegment, 'BUILDING'), c_name) AS segment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_b11_fillna" ->
      """SELECT l_orderkey, l_linenumber, coalesce(nullif(l_returnflag, 'R'), 'Approved') AS prediction
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_b12_left_merge" ->
      """SELECT l_orderkey, l_linenumber, p_name, p_retailprice
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber, p_name""".stripMargin,

    "q_b14_union_batches" ->
      """SELECT o_orderkey, o_totalprice FROM (
        |  SELECT * FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL SELECT * FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL SELECT * FROM orders WHERE o_orderkey % 3 = 2) u
        |ORDER BY o_orderkey""".stripMargin,

    "q_b15_distinct_values" ->
      """SELECT DISTINCT nullif(l_partkey % 100, 0) AS iqama_no FROM lineitem
        |WHERE nullif(l_partkey % 100, 0) IS NOT NULL ORDER BY iqama_no""".stripMargin,

    "q_b17_top_counts" ->
      """SELECT event_type, count(*) AS count FROM events
        |GROUP BY event_type ORDER BY count DESC, event_type LIMIT 10""".stripMargin,

    "q_layout_zorder" -> {
      // The same Morton interleave, unrolled to DuckDB bitwise SQL.
      val terms = for {
        i <- 0 until 10
        (e, j) <- Seq("(l_partkey % 1024)", "(l_suppkey % 1024)").zipWithIndex
      } yield s"((($e >> $i) & 1) << ${i * 2 + j})"
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  ${terms.mkString(" + ")} AS z
         |FROM lineitem
         |ORDER BY z, l_orderkey, l_linenumber, l_partkey""".stripMargin
    },

    "q_bucketed_join" ->
      """SELECT l.l_orderkey, o.o_orderstatus, count(*) AS n_items,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY l.l_orderkey, o.o_orderstatus
        |ORDER BY l.l_orderkey, o.o_orderstatus""".stripMargin,

    "q_skew_salted_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_l_quantity
        |FROM lineitem GROUP BY 1, 2
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_bloom_pruned_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey AS partkey,
        |  l.l_quantity, p.p_name
        |FROM lineitem l
        |JOIN (SELECT p_partkey, p_name FROM part WHERE p_size = 1) p
        |  ON l.l_partkey = p.p_partkey
        |ORDER BY l.l_orderkey, l.l_linenumber, partkey""".stripMargin,

    "q_skew_salted_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, l.l_quantity,
        |  s.s_name, s.s_nationkey
        |FROM lineitem l
        |LEFT JOIN (SELECT s_suppkey, s_name, s_nationkey FROM supplier
        |           WHERE s_suppkey % 2 = 0) s
        |  ON l.l_suppkey = s.s_suppkey
        |ORDER BY l.l_orderkey, l.l_linenumber, l.l_suppkey, l.l_quantity""".stripMargin,

    "q_b18_group_nulltest" ->
      """SELECT l_orderkey,
        |  max(CASE WHEN nullif(l_returnflag, 'N') IS NULL THEN 1 ELSE 0 END) AS has_null_dx
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q_nullsafe_join" ->
      """WITH l AS (SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg FROM customer),
        |r AS (SELECT nullif(c_mktsegment, 'BUILDING') AS seg, CAST(count(*) AS BIGINT) AS n_in_seg
        |      FROM customer GROUP BY 1)
        |SELECT l.c_custkey, l.seg, r.n_in_seg
        |FROM l LEFT JOIN r ON l.seg IS NOT DISTINCT FROM r.seg
        |ORDER BY l.c_custkey""".stripMargin,

    "q_set_ops_all" ->
      """WITH a AS (SELECT l_partkey, l_suppkey FROM lineitem WHERE l_orderkey % 2 = 0),
        |b AS (SELECT l_partkey, l_suppkey FROM lineitem WHERE l_quantity > 25)
        |SELECT *, 'intersect_all' AS op FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |UNION ALL
        |SELECT *, 'except_all' AS op FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        |ORDER BY op, l_partkey, l_suppkey""".stripMargin,

    "q_b19_set_difference" ->
      """WITH uid AS (
        |  SELECT l.*, l_orderkey * 10 + l_linenumber AS service_uid FROM lineitem l),
        |kept AS (
        |  SELECT service_uid FROM (
        |    SELECT service_uid, row_number() OVER (PARTITION BY l_orderkey, l_partkey
        |      ORDER BY l_shipdate ASC, l_linenumber ASC, service_uid ASC) AS rn
        |    FROM uid) t WHERE rn = 1)
        |SELECT service_uid FROM uid EXCEPT SELECT service_uid FROM kept
        |ORDER BY service_uid""".stripMargin,

    "q_b21_date_norm" ->
      """WITH raw AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
        |         WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%m/%d/%Y')
        |         ELSE strftime(o_orderdate, '%d-%m-%Y') END AS raw_date
        |  FROM orders)
        |SELECT o_orderkey, raw_date,
        |  strftime(coalesce(
        |    try_strptime(raw_date, '%Y-%m-%d %H:%M:%S'),
        |    try_strptime(raw_date, '%Y-%m-%d'),
        |    try_strptime(raw_date, '%m/%d/%Y'),
        |    try_strptime(raw_date, '%d-%m-%Y')), '%Y-%m-%d') AS norm_date
        |FROM raw ORDER BY o_orderkey""".stripMargin,

    "q_b23_try_cast" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_linenumber % 3 = 0 THEN CAST(l_partkey AS VARCHAR) || 'x'
        |       ELSE CAST(l_partkey AS VARCHAR) END AS raw_id,
        |  try_cast(CASE WHEN l_linenumber % 3 = 0 THEN CAST(l_partkey AS VARCHAR) || 'x'
        |       ELSE CAST(l_partkey AS VARCHAR) END AS BIGINT) AS coerced_id
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, raw_id""".stripMargin,

    "q_b26_struct_expand" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
        |FROM events ORDER BY event_id""".stripMargin,

    "q_b29_first_per_group" ->
      """SELECT l_orderkey, first_partkey, first_shipdate FROM (
        |  SELECT l_orderkey, l_partkey AS first_partkey,
        |    min(l_shipdate) OVER (PARTITION BY l_orderkey) AS first_shipdate,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_shipdate ASC, l_linenumber ASC, l_partkey ASC) AS rn
        |  FROM lineitem) t WHERE rn = 1
        |ORDER BY l_orderkey""".stripMargin,

    "q_b30_head" ->
      """SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 10""".stripMargin,

    "q_b03_csv_roundtrip" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        |  c_name || ', "tier ' || c_mktsegment || '", ok' AS c_comment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_b02_json_roundtrip" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_b02_xml_roundtrip" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_b02_orc_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS DATE) AS order_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_b04_excel_roundtrip" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_d5_d6_stamping" ->
      """SELECT o_orderkey, 'SNB' AS bu,
        |  strftime((SELECT max(o_orderdate) FROM orders), '%Y-%m-%d %H:%M') AS insertion_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_e1_quality_gate" ->
      """WITH scored AS (
        |  SELECT CASE WHEN l_linenumber = 3 THEN '1660 TPA' ELSE l_returnflag END AS note,
        |         CASE WHEN l_quantity > 25 THEN 'eligible' ELSE NULL END AS class
        |  FROM lineitem)
        |SELECT count(*) AS total_rows,
        |  CAST(sum(CASE WHEN class IS NULL AND note <> '1660 TPA' THEN 1 ELSE 0 END) AS BIGINT) AS invalid_rows,
        |  CAST(sum(CASE WHEN class IS NULL AND note <> '1660 TPA' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS invalid_ratio
        |FROM scored""".stripMargin,
  )
}
