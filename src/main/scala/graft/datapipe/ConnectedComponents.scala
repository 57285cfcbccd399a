package graft.datapipe

import graft.util.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list —
  * the transitive-closure survivor rule for near-dup removal (each
  * component keeps exactly its minimum id, however long the chain).
  *
  * Algorithm: min-label propagation with pointer jumping (the
  * alternating-rounds shape of the MapReduce CC literature). Each
  * round:
  *   1. neighbor-min — every node lowers its label to the minimum
  *      label in its neighborhood (one shuffle on the edge key);
  *   2. path halving — `label(n) := label(label(n))`, so label chains
  *      collapse doubly-fast (one self-join of the label table).
  * Rounds repeat until a fixpoint (no label changed). With halving the
  * round count is O(log(component size)), so `maxIters = 50` is
  * effectively unbounded; if the cap is ever hit the result errs
  * toward UNDER-merging (distinct labels inside one true component),
  * which for dedup means keeping a few extra docs — never dropping a
  * survivor.
  *
  * Scale shape: the label table holds only nodes that appear in some
  * verified edge — for dedup that is the duplicate fraction of the
  * corpus, not the corpus. Each round is 2 shuffles over that table,
  * lineage is truncated every round (eager localCheckpoint), and the
  * fixpoint test is a metadata-cheap count — nothing is collected.
  */
object ConnectedComponents {

  /** `edges`: two-column DataFrame (src, dst), undirected (one
    * direction suffices). Returns (node, component) for every endpoint,
    * where component = min node id of the connected component.
    */
  def components(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    val Array(srcCol, dstCol) = edges.columns.take(2)
    val fwd = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // edges are re-joined every round — scan once
    val sym = Materialize.once(fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = Materialize.once(sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")))
    var iters = 0
    var changed = 1L
    while (changed > 0 && iters < maxIters) {
      // 1. neighbor-min: label of each node's neighborhood.
      val nbrMin = sym
        .join(labels.select(col("node").as("dst"), col("label").as("dlabel")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(min(col("dlabel")).as("nmin"))
      val lowered = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // 2. path halving: follow the label one hop (labels only ever
      // shrink, so the hop is monotone too).
      val jumped = Materialize.once(lowered.as("x")
        .join(lowered.select(col("node").as("label"), col("label").as("ll")).as("y"), Seq("label"), "left")
        .select(col("node"), least(col("label"), coalesce(col("ll"), col("label"))).as("label")))
      changed = jumped.join(labels.withColumnRenamed("label", "old"), Seq("node"))
        .filter(col("label") < col("old")).count()
      labels = jumped
      iters += 1
    }
    labels.select(col("node"), col("label").as("component"))
  }
}
