package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling: repeatedly drop nodes
  * whose CURRENT degree is below `k` until no node changes (the k-core
  * is the fixpoint). The per-round work is one combinable degree
  * aggregation plus two semi-joins restricting the edge list to
  * surviving endpoints — edge-sized shuffles, never a materialized
  * neighborhood.
  *
  * `rounds` is a FIXED count (not a convergence probe) so the result
  * is replayable by a round-for-round SQL oracle — the q_markov /
  * minhashClusters precedent; KCoreSpec pins that the spec graphs
  * reach their true fixpoint within the default rounds, and
  * [[ConnectedComponents]]' monotone-probe pattern is the upgrade path
  * if an unbounded variant is ever needed. Each round's edge frame is
  * eagerly localCheckpoint-ed: 4 rounds of two joins each would
  * otherwise stack into one exponential-planning lineage (the
  * PageRank lesson), and the previous round's checkpoint blocks are
  * freed as soon as the next is materialized ([[Rounds.checkpoint]]).
  *
  * Output: (node_id, core_degree) for nodes surviving `rounds` peels,
  * with their degree inside the surviving subgraph.
  */
object KCore {

  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            rounds: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val s = col(srcCol).cast("long")
    val t = col(dstCol).cast("long")
    var und = edges.filter(s =!= t)
      .select(least(s, t).as("a"), greatest(s, t).as("b"))
      .distinct()
      .localCheckpoint(true)
    var i = 0
    while (i < rounds) {
      val deg = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= k).select("id")
      und = Rounds.checkpoint(und
        .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi"), Seq(und))._1
      i += 1
    }
    val out = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("core_degree"))
      .select(col("id").as("node_id"), col("core_degree"))
    out
  }
}
