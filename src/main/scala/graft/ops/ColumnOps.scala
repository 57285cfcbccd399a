package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pure Column-expression library re-expressing the reference's pandas /
  * T-SQL scalar semantics (SURVEY.md §2.A/§2.B) as codegen-friendly
  * Catalyst expressions. No UDFs — every helper stays inside
  * whole-stage codegen, which is what keeps these cheap at 100 TB.
  */
object ColumnOps {

  /** Multi-format date normalization (reference `change_date`,
    * src/eligibility.py:297-314): try several formats in order, first
    * hit wins, output `yyyy-MM-dd` string. `to_date(col, fmt)` in Spark 4
    * throws on mismatch under ANSI, so go through try_to_timestamp.
    */
  def dateNorm(c: Column, formats: Seq[String] = Seq("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "M/d/yyyy", "d-M-yyyy")): Column = {
    val parsed = coalesce(formats.map(f => try_to_timestamp(c, lit(f))): _*)
    date_format(parsed, "yyyy-MM-dd")
  }

  /** Exact birthday-adjusted age (sql/resubmission_update.sql:123-139):
    * year difference minus one if the birthday hasn't happened yet at
    * `asOf`. Written with explicit year/month/day arithmetic (not
    * months_between) so the DuckDB oracle can state the identical formula.
    */
  def exactAge(dob: Column, asOf: Column): Column = {
    val yearDiff = year(asOf) - year(dob)
    val beforeBirthday =
      (month(asOf) < month(dob)) ||
        (month(asOf) === month(dob) && dayofmonth(asOf) < dayofmonth(dob))
    (yearDiff - when(beforeBirthday, 1).otherwise(0)).cast("int")
  }

  /** Month floor — T-SQL `DATEADD(MONTH, DATEDIFF(MONTH, 0, d), 0)`. */
  def monthFloor(c: Column): Column = trunc(c, "month")

  /** Incremental-scan cutoff: `ts >= hi - INTERVAL n MINUTES` where `hi`
    * is data-derived (max timestamp), keeping queries deterministic —
    * VERDICT r1 flagged wall-clock `current_timestamp()` as un-oracleable.
    */
  def minutesBefore(c: Column, minutes: Int): Column =
    c - expr(s"INTERVAL $minutes MINUTES")

  /** 16-branch CASE value map (sql/eligibility_enhanced.sql:17-44
    * shape): code → short value with a default. Builds a chained
    * when(...).otherwise(...) — Catalyst folds it into one codegen'd
    * CASE, no lookup-table join or shuffle needed.
    */
  def caseMap(c: Column, mapping: Seq[(String, String)], default: String): Column =
    if (mapping.isEmpty) lit(default) // a CASE with no branches IS its default (the fold would NPE)
    else mapping.foldLeft(null: Column) { case (acc, (k, v)) =>
      if (acc == null) when(c === k, v) else acc.when(c === k, v)
    }.otherwise(default)

  /** NULL-skipping concat (T-SQL CONCAT ≈ concat_ws, not Spark concat). */
  def nameConcat(parts: Column*): Column = concat_ws(" ", parts: _*)

  /** Coalesce a primary column from an alternate then drop the alternate —
    * the reference's `name_conflict` repair (src/eligibility.py:158-176).
    */
  def nameConflict(df: DataFrame, pairs: Seq[(String, String)]): DataFrame =
    pairs.foldLeft(df) { case (d, (primary, alt)) =>
      d.withColumn(primary, coalesce(col(primary), col(alt))).drop(alt)
    }

  /** pandas `pd.to_numeric(errors="coerce").astype("Int64")`. */
  def tryCastLong(c: Column): Column = c.cast("string").try_cast("bigint")

  /** Keep-last dedup with an explicit order (pandas
    * drop_duplicates(keep="last") depends on row order, which Spark does
    * not have — SURVEY §7.5.1). One shuffle on `keys`; AQE splits skewed
    * key groups at scale.
    */
  def dedupKeepLast(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.asc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** pandas drop_duplicates(keep=False): drop EVERY row of a duplicated
    * key, keeping only keys that occur exactly once — the strictest
    * variant, used when a duplicated record means neither copy can be
    * trusted. An unordered COUNT window (no sort), so it plans as one
    * shuffle on `keys` with map-side partial counts — same scale cost
    * as keep-first/keep-last.
    */
  def dedupKeepNone(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__n", count(lit(1)).over(w)).filter(col("__n") === 1).drop("__n")
  }

  /** pandas merge(how="outer", indicator=True): full-outer key join
    * plus a `_merge` provenance column (both / left_only / right_only)
    * — the reconciliation primitive for comparing two extract
    * generations. Presence markers are attached BEFORE the join so the
    * indicator never misreads genuine nulls in payload columns; the
    * USING-style join coalesces the key columns.
    */
  def outerMergeIndicator(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.withColumn("__l", lit(1))
      .join(right.withColumn("__r", lit(1)), keys, "full_outer")
      .withColumn("_merge",
        when(col("__l").isNotNull && col("__r").isNotNull, "both")
          .when(col("__l").isNotNull, "left_only")
          .otherwise("right_only"))
      .drop("__l", "__r")

  /** Latest-row-per-group selection (DENSE_RANK/ROW_NUMBER … WHERE rn=1,
    * sql/resubmission.sql:55-68). `order` columns ranked descending; pass
    * a unique tiebreaker last for determinism.
    */
  def latestPerGroup(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Keep-ALL-ties latest-per-group (DENSE_RANK ... WHERE RN = 1,
    * sql/resubmission.sql:55-68): every row whose `order` tuple equals
    * the group's maximum survives. The reference ranks claim
    * transactions per (VisitID, StatementID) by CreatedDate and keeps
    * the whole latest transaction — multiple items sharing that
    * CreatedDate must ALL survive, where `latestPerGroup`'s row_number
    * would silently keep one. Same single shuffle on `keys`.
    */
  def latestGroupAllRows(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__dr", dense_rank().over(w)).filter(col("__dr") === 1).drop("__dr")
  }

  /** Order-deterministic STRING_AGG (sql/resubmission.sql:78-90):
    * collect (sortKey, value) structs, sort by key, join with sep.
    * Map-side partial aggregation applies (collect_list is partial-able);
    * the sort is per-group, post-shuffle, bounded by group size.
    */
  def stringAgg(sortKey: Column, value: Column, sep: String): Column =
    array_join(transform(array_sort(collect_list(struct(sortKey.as("k"), value.as("v")))), x => x("v")), sep)

  /** Business-rule conditional assignment (dags/eligibilty_etl.py:226-227):
    * note "1680 " + null class → out-network; "1658 " → not-active.
    */
  def applyClassRules(df: DataFrame, noteCol: String = "note", classCol: String = "class"): DataFrame =
    df.withColumn(
      classCol,
      when(col(noteCol) === "1680 " && col(classCol).isNull, "out-network")
        .when(col(noteCol) === "1658 " && col(classCol).isNull, "not-active")
        .otherwise(col(classCol)))

  /** ISNULL(c,'') NOT LIKE pattern — T-SQL null-guarded NOT LIKE keeps
    * null rows (sql/resubmission_update.sql:221-224), unlike a bare
    * Spark NOT LIKE which drops them.
    */
  def notLikeNullSafe(c: Column, pattern: String): Column =
    !coalesce(c, lit("")).like(pattern)
}
