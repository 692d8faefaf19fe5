package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (Seidman 1983; the BSP
  * peeling round is Montresor et al. 2013): repeatedly delete every node
  * whose degree in the SURVIVING subgraph is < k — the fixpoint is the
  * k-core, the standard "dense enough to matter" subgraph for community
  * seeds, spam-farm detection, and graph-sampling cores.
  *
  * Determinism contract (the PageRank convention): the round count is
  * FIXED by the caller, making the operator a pure function of (edges,
  * k, rounds) that any engine replays round-for-round — the oracle
  * unrolls the same rounds as CTEs; convergence within the budget is
  * what the spec asserts (peeling strictly shrinks the node set, so
  * rounds ≤ |V| always, and real graphs converge in a handful).
  *
  * Per round: one partial-aggregated degree count + two semi-joins
  * restricting the edge list; `localCheckpoint` cuts the growing lineage
  * (the iterative-Spark failure mode is plan depth). Edges stay
  * hash-partitioned on `u` across rounds, so each round reshuffles only
  * the |V|-sized keep-list side.
  *
  * Output: (node, degree) over the subgraph surviving after `rounds`
  * peels — at the fixpoint every degree is >= k.
  */
object KCore {

  def run(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    var e = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .repartition(col("u")).localCheckpoint()
    var r = 0
    while (r < rounds) {
      val deg = e.select(col("u").as("n"))
        .unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("__d"))
      val keep = deg.filter(col("__d") >= k).select(col("n"))
      val prev = e
      e = e
        .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint()
      // eager checkpoint materialized → the pre-peel edge blocks are
      // superseded; free them instead of letting rounds accumulate
      graft.operators.Checkpoints.free(prev)
      r += 1
    }
    e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("degree"))
      .select(col("n").as("node"), col("degree"))
  }
}
