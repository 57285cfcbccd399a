package graft.datapipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source weighted shortest paths by fixed-round relaxation —
  * the distance companion of [[GraphRank]]'s centrality and
  * [[ConnectedComponents]]' reachability: "how far is every page from
  * the seed set" is the crawl-frontier / link-distance curation signal
  * (seed-distance weighting is standard in focused-crawl corpus
  * construction; the algorithm is textbook Bellman–Ford, Bellman 1958).
  *
  * Determinism contract (the [[GraphRank.pageRank]] discipline): all
  * distances are exact longs — integer edge weights, integer adds, MIN
  * folds — so any engine and any partitioning computes the identical
  * distance vector and a value-level oracle can replay the SAME
  * `iters` relaxation rounds as chained CTEs. After k rounds the
  * distance of every node whose shortest path uses ≤ k edges is
  * final; unreached nodes are simply absent (no sentinel infinities
  * to overflow).
  *
  * Shape at scale: each round is one equi-join of the frontier
  * distances to the edge table on the node key plus one MIN
  * aggregation — the same message-passing shape as PageRank, so the
  * same layout lever applies: persist the 100 TB edge side bucketed
  * by src ([[graft.sink.Bucketing]]) and every round's join plans no
  * exchange on the big side; only the node-sized distance table
  * moves. Bounded rounds, no collect, no per-node driver state;
  * `checkpointEvery` caps plan depth exactly as in PageRank (a
  * plan-depth cut, not executor-loss fault tolerance).
  *
  * Long domain: distances are bounded by iters · max(w), so overflow
  * needs weights near 2⁶³/iters — unreachable for real weights; a
  * NULL or negative weight fails loud (negative edges would make
  * "shortest within k rounds" order-dependent marketing, not a
  * distance).
  */
object ShortestPaths {

  /** Distances from `sources` (any DataFrame of seed node ids; 0 for a
    * seed) after `iters` relaxation rounds over directed weighted
    * `edges`. Returns (node, dist) for REACHED nodes only.
    * Materializations go through [[graft.util.Materialize.stage]], as
    * in [[GraphRank.pageRank]] (distances are exact longs, so the
    * results are bit-identical in either materialization mode).
    */
  def distances(sources: DataFrame, srcNodeCol: String,
                edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
                iters: Int, checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val wRaw = col(wCol).cast("long")
    val w = when(wRaw >= 0L, wRaw).otherwise(raise_error(concat(
      lit(s"ShortestPaths: $wCol must be a non-negative integer, got "),
      coalesce(col(wCol).cast("string"), lit("NULL")))))
    // NULL endpoints fail loud: a NULL src would silently drop the edge
    // in the equi-join and a NULL dst would mint a NULL "node" with a
    // distance — both are malformed input, not graph semantics.
    def endpoint(c: String) = when(col(c).isNotNull, col(c)).otherwise(
      raise_error(lit(s"ShortestPaths: NULL $c — edges need both endpoints")))
    val e = edges.select(endpoint(srcCol).as("node"), endpoint(dstCol).as("__dst"), w.as("__w"))
    // Zero-weight self-loops on every node the frontier can ever hold
    // (sources ∪ edge destinations) make "keep the old distance" part
    // of the relax join itself, so each round references `dist` exactly
    // ONCE — a `dist ∪ relax(dist)` union would clone the dist subtree
    // twice per round and the plan (and any recompute) would grow 2^k.
    // The loop table is node-sized and static: it materializes once,
    // the PageRank `base` pattern; the caller's EDGE table stays a
    // plain per-round reference so a bucketed-by-src layout carries it.
    val loops = graft.util.Materialize.stage(
      sources.select(col(srcNodeCol).as("node"))
        .unionByName(edges.select(endpoint(dstCol).as("node")))
        .distinct()
        .select(col("node"), col("node").as("__dst"), lit(0L).as("__w")))
    var dist = sources.select(col(srcNodeCol).as("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
    for (i <- 1 to iters) {
      dist = dist.join(e.unionByName(loops), Seq("node"))
        .select(col("__dst").as("node"), (col("dist") + col("__w")).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      if (i % checkpointEvery == 0 && i < iters)
        dist = graft.util.Materialize.stage(dist)
    }
    dist
  }
}
