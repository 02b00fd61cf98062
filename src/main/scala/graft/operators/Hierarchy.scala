package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recursive hierarchy traversal and rollup — the WITH RECURSIVE
  * workload (bill-of-materials explosion, org-chart rollup, category
  * trees) re-expressed for a shared-nothing engine. The reference's
  * graph-composable QPUs chain operators but have no recursive form;
  * SQL engines express it as a recursive CTE that iterates ONE level
  * per round — O(depth) passes. Here the ancestor closure is built by
  * POINTER DOUBLING (the [[ConnectedComponents]] hop+jump discipline):
  * round k extends every known (node → ancestor) path by the
  * ancestor's own known paths, so covered depth doubles per round and
  * a depth-d forest closes in ⌈log₂ d⌉ self-joins — a depth-10⁶ chain
  * costs 20 rounds, not a million.
  *
  * Scale shape: the closure is O(nodes · depth) rows — the same size
  * any engine must materialize to answer subtree aggregates — and each
  * round is ONE equi-join of the closure with itself on the
  * (ancestor = node) key plus a distinct, both shuffle-partitioned on
  * the join key. Lineage is truncated per round with
  * `localCheckpoint` (the PageRank lesson: an iterated plan otherwise
  * deepens and re-optimizes a growing tree). The fixpoint test is a
  * count comparison — the count is observed by the round's checkpoint
  * job ([[Rounds.checkpoint]]), no driver-side data.
  */
object Hierarchy {

  /** The (node, anc) transitive closure of a parent-pointer forest —
    * every proper ancestor of every node, self excluded. `edges` holds
    * one (child, parent) row per node with a parent. A forest deeper
    * than 2^maxRounds fails with a named error instead of looping;
    * a cyclic input (caller error) converges to a closure where cycle
    * members are their own ancestors — visible, not silent.
    */
  def ancestorClosure(edges: DataFrame, childCol: String, parentCol: String,
                      maxRounds: Int = 20): DataFrame = {
    var (closure, size0) = Rounds.checkpoint(edges
      .select(col(childCol).as("node"), col(parentCol).as("anc"))
      .filter(col("anc").isNotNull && col("anc") =!= col("node"))
      .distinct(), Nil, count(lit(1)))
    var size = size0.getLong(0)
    var round = 0
    var grew = true
    while (grew) {
      require(round < maxRounds,
        s"hierarchy deeper than 2^$maxRounds or cyclic: closure still growing at $size rows")
      val (doubled, n) = Rounds.checkpoint(
        closure.unionByName(
            closure.as("a").join(closure.as("b"), col("a.anc") === col("b.node"))
              .select(col("a.node").as("node"), col("b.anc").as("anc")))
          .distinct(),
        Seq(closure), count(lit(1)))
      grew = n.getLong(0) != size
      closure = doubled
      size = n.getLong(0)
      round += 1
    }
    closure
  }

  /** Subtree rollup: for every node, the count and sum of `measureCol`
    * over its subtree (descendants AND itself). `nodes` carries one
    * row per node with the measure; nodes absent from `edges` are
    * roots. Output: (nodeCol, subtree_n, subtree_sum).
    *
    * The closure is joined once against the measure table and reduced
    * by ONE combinable aggregation on the ancestor key — no
    * per-level loop touches the fact data.
    */
  def subtreeRollup(edges: DataFrame, childCol: String, parentCol: String,
                    nodes: DataFrame, nodeCol: String, measureCol: String,
                    maxRounds: Int = 20): DataFrame = {
    val closure = ancestorClosure(edges, childCol, parentCol, maxRounds)
    val m = nodes.select(col(nodeCol).as("node"), col(measureCol).as("__m"))
    val withSelf = closure.unionByName(
      m.select(col("node"), col("node").as("anc")))
    withSelf.join(m, "node")
      .groupBy(col("anc").as(nodeCol))
      .agg(count(lit(1)).as("subtree_n"), sum(col("__m")).as("subtree_sum"))
  }
}
