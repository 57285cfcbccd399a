package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join-side planning helpers. */
object Joins {

  /** Salted equi-join: semantically IDENTICAL to
    * `probe.join(build, keys, joinType)`, but the shuffle distributes
    * each probe key over `saltBuckets` reducer partitions instead of
    * one.
    *
    * Why it exists at 100 TB: a pathological key (the null-surrogate
    * customer, the empty-referrer domain, the one hot document) puts
    * its entire row mass in ONE reducer task — the job is as slow as
    * that task, and at sufficient mass the task dies (shuffle fetch
    * OOM / disk). AQE's `OptimizeSkewedJoin` is the first answer, but
    * it only splits sort-merge partitions whose OTHER side can be
    * re-read per split, and it stands down when the join sits under a
    * required child distribution (e.g. feeding a bucketed write or a
    * co-partitioned agg) or when AQE is off. Salting is the plan-time
    * guarantee: probe rows get a deterministic round-robin salt in
    * [0, saltBuckets), the build side is replicated once per salt
    * value, and the join key becomes (keys…, salt) — per-task key mass
    * drops by saltBuckets, at the cost of a build side `saltBuckets`×
    * larger (choose a build side that is dim-sized but too big or too
    * skew-prone to broadcast).
    *
    * Only probe-preserving join types are legal: `inner`, `left`
    * (each probe row carries exactly one salt, so left rows are never
    * duplicated), `left_semi`, `left_anti`. Build-preserving types
    * (`right`, `full`) would surface the replicated build rows once
    * per salt and are rejected.
    *
    * The salt is `monotonically_increasing_id() % saltBuckets`:
    * round-robin within every input partition, so even a single
    * probe partition made entirely of ONE key spreads evenly. (A
    * hash-of-columns salt would send identical rows to the same
    * bucket — exact-duplicate skew, the common real-world case, would
    * survive it.) The salt only routes rows; the join RESULT is
    * partitioning-independent, which is what the plain-join oracle
    * checks.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                 saltBuckets: Int, joinType: String = "inner"): DataFrame = {
    require(saltBuckets >= 2, s"saltBuckets must be >= 2, got $saltBuckets")
    val allowed = Set("inner", "left", "leftouter", "left_outer", "left_semi", "leftsemi", "left_anti", "leftanti")
    val jt = joinType.toLowerCase
    require(allowed.contains(jt),
      s"saltedJoin supports probe-preserving join types ${allowed.toSeq.sorted.mkString(", ")}; " +
        s"'$joinType' would emit replicated build rows")
    val salted = probe.withColumn("__salt",
      (monotonically_increasing_id() % saltBuckets).cast("int"))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Bloom-pruned equi-join: semantically IDENTICAL to
    * `probe.join(build, keys, joinType)`, but the big side is filtered
    * against a Bloom filter of the other side's join keys BEFORE the
    * join — the distributed analogue of a semi-join reduction.
    *
    * Why it exists at 100 TB: in a selective fact-to-subset join
    * ("orders for this quarter's flagged parts"), the probe side
    * shuffles its ENTIRE row mass to the join even though only a few
    * percent of rows can match. Spark's own runtime row-group filter
    * (`InjectRuntimeFilter`) fires only under narrow planner
    * preconditions (creation-side thresholds, one filter per query,
    * broadcast-adjacent shapes). This operator is the explicit,
    * always-available form: one extra pass over the SMALL side builds
    * a `numBits`-bit Bloom sketch of `xxhash64(keys…)` (Spark's own
    * `BloomFilterAggregate` — partial sketches merge on the
    * executors, only the final `numBits/8`-byte array reaches the
    * driver, bounded regardless of data scale), and the sketch rides
    * into the probe scan as a codegen'd `might_contain` literal
    * predicate. Rows failing it are provably non-matching (a Bloom
    * filter has NO false negatives over the same hash); rows passing
    * it — including the false-positive fraction — meet the real join,
    * which settles them. Mis-sized `expectedItems` only degrades the
    * false-positive rate, never correctness.
    *
    * Pruning direction follows the join type:
    *  - `inner` / `left_semi`: probe rows failing the BUILD-side bloom
    *    can't appear in the result — filter the probe.
    *  - `left`: probe rows must all survive, but build rows matching
    *    no PROBE key never surface — filter the build with the
    *    probe-side bloom (the cheap pass flips to the probe side, so
    *    use this form when the probe is the smaller/filtered side).
    *  - `left_anti`: probe rows failing the build-side bloom are
    *    *guaranteed members* of the result — they bypass the join
    *    entirely; only the might-match residue runs the real anti-join.
    *
    * An empty build/filter side yields a null sketch; the operator
    * falls back to the plain join (already trivially cheap).
    */
  def bloomPrunedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                      joinType: String = "inner",
                      expectedItems: Long = 4L * 1000 * 1000,
                      numBits: Long = 64L * 1024 * 1024): DataFrame = {
    require(keys.nonEmpty, "bloomPrunedJoin needs at least one join key")
    val jt = joinType.toLowerCase.replace("_", "")
    def keyHash(df: DataFrame): Column = xxhash64(keys.map(df(_)): _*)
    def sketch(side: DataFrame): Array[Byte] =
      side.agg(call_function("graft_bloom_agg", keyHash(side),
        lit(expectedItems), lit(numBits)).as("bf")).head.getAs[Array[Byte]](0)
    def mightMatch(side: DataFrame, bf: Array[Byte]): Column =
      call_function("graft_might_contain", lit(bf), keyHash(side))
    jt match {
      case "inner" | "leftsemi" =>
        val bf = sketch(build)
        if (bf == null) probe.join(build, keys, joinType)
        else probe.filter(mightMatch(probe, bf)).join(build, keys, joinType)
      case "left" | "leftouter" =>
        val bf = sketch(probe)
        if (bf == null) probe.join(build, keys, joinType)
        else probe.join(build.filter(mightMatch(build, bf)), keys, joinType)
      case "leftanti" =>
        val bf = sketch(build)
        if (bf == null) probe
        else {
          val definiteMiss = probe.filter(!mightMatch(probe, bf))
          val residue = probe.filter(mightMatch(probe, bf)).join(build, keys, "left_anti")
          definiteMiss.unionByName(residue)
        }
      case other =>
        throw new IllegalArgumentException(
          s"bloomPrunedJoin supports inner, left, left_semi, left_anti; '$other' " +
            "has no prunable side (every row of both sides can surface)")
    }
  }

  /** Broadcast-hint `df` only when its MEASURED row count is provably
    * small; otherwise return it unhinted and let AQE decide at runtime.
    *
    * For gate sets (failed visits, no-diagnosis visits, duplicate ids)
    * that are usually tiny but are fractions of the data and so grow
    * without bound: a static `broadcast()` hint OOMs at large scale,
    * while no hint costs the fact side a full shuffle write before AQE
    * can convert the join back to broadcast. Counting the (already
    * materialized, cheap) gate set lifts AQE's own size test to plan
    * time: small → static broadcast, big → planner's choice.
    *
    * `maxRows` defaults to ~the rows of a narrow key column that fit
    * the 10 MB spirit of autoBroadcastJoinThreshold on large executors.
    */
  def broadcastIfSmall(df: DataFrame, maxRows: Long = 1000000L): DataFrame = {
    // maxRows + 1 must survive the Int cast that limit() needs: past
    // Int range the cast wraps (2^32 -> limit(1) would broadcast ANY
    // table unconditionally; Int.MaxValue -> a negative limit throws).
    // Rows beyond ~2 billion are never broadcastable anyway.
    require(maxRows >= 0 && maxRows < Int.MaxValue,
      s"maxRows must be in [0, ${Int.MaxValue - 1}], got $maxRows")
    if (df.limit((maxRows + 1).toInt).count() <= maxRows) broadcast(df) else df
  }
}
