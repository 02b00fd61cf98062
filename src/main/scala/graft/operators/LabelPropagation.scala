package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et
  * al. 2007), made DETERMINISTIC: every node starts labeled with its
  * own id, and each round every node adopts the label that is most
  * frequent among its neighbors, ties broken toward the SMALLEST
  * label. Classic async LPA is run-order dependent; the synchronous
  * sweep with a total tie-break makes the whole trajectory a pure
  * function of the edge list, so a fixed round count is replayable
  * round-for-round by an external SQL oracle — the same determinism
  * contract as [[PageRank]]'s fixed power iterations.
  *
  * Scale shape: each round is ONE edge-keyed join (neighbor labels)
  * feeding two combinable aggregations — per-(node, label) counts,
  * then the per-node argmax. The argmax rides a single packed long
  * `cnt·10^8 − label` (max = highest count, then lowest label), the
  * [[Triangles]] degree-packing convention, so no window and no
  * struct ordering is involved; it needs node ids < 10^8 and counts
  * < 9·10^10 (the documented-ceiling convention — raise the shift for
  * wider id spaces). Edges are cleaned (self-loops dropped,
  * deduplicated, symmetrized) once, persisted once, and reused every
  * round; labels stay node-sized throughout. Nothing is quadratic in
  * the graph and nothing global is sorted.
  */
object LabelPropagation {

  /** (node_id, community) after exactly `rounds` synchronous LPA
    * sweeps over the undirected edge list — `community` is the label
    * id (a node id) the node converged to so far. Nodes are the edge
    * endpoints (an isolated node has no neighbors to vote, and no row
    * here).
    */
  def communities(edges: DataFrame, srcCol: String, dstCol: String,
                  rounds: Int = 3): DataFrame = {
    val und = buildUnd(edges, srcCol, dstCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try communitiesOnUnd(und, rounds)
    finally und.unpersist()
  }

  /** Cleaned, symmetrized, deduplicated edge set partitioned ONCE on
    * the per-round join key ("b" carries the neighbor whose label is
    * gathered) — the PageRank/HITS one-time-repartition lesson: every
    * sweep's label join then moves only the node-sized label table,
    * never the edge set (at bench scale AQE broadcasts the label
    * table either way; at 100 TB labels shuffle node-sized and the
    * edges stay put). Callers persist.
    */
  private def buildUnd(edges: DataFrame, srcCol: String,
                       dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .distinct()
    // conf escape hatch exists ONLY so ScaleProbe's `lpa` mode can
    // measure both arms of the r14 one-time-repartition decision on
    // the real operator (VERDICT what's-wrong #5); results never
    // depend on it
    if (edges.sparkSession.conf
        .get("spark.graft.lpa.copartition", "true").toBoolean)
      sym.repartition(col("b"))
    else sym
  }

  /** [[communities]] over a pre-built (already persisted) symmetrized
    * adjacency — shared with [[modularity]], which also derives the
    * degree table from the SAME persisted frame (r15: one symmetrize
    * + shuffle instead of two).
    */
  private def communitiesOnUnd(und: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "label propagation needs at least one round")
    // fill the persisted adjacency before the sweeps are planned: a
    // first sweep planned over the still-empty cache ran one extra
    // shuffle in some runs and not others (stage-timing dependent); a
    // no-op pass fills the cache and adds no exchange
    und.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
    // initial labels distinct on "b", not "a": und is symmetrized (both
    // endpoints appear on both sides) so the value set is identical,
    // but und is hash(b)-partitioned — the alias-aware planner drops
    // the distinct's exchange entirely (r15; distinct-on-a re-shuffled
    // the edge-sized projection every call)
    var labels = und.select(col("b").as("id")).distinct()
      .withColumn("label", col("id"))
    var swept: Seq[DataFrame] = Nil // the previous sweep's checkpoint
    for (_ <- 0 until rounds) {
      // localCheckpoint per sweep — the PageRank/KCore lineage
      // discipline: each round's plan would otherwise embed the whole
      // previous round's tree (~3 stages deeper per round), so a
      // larger graph's natural round count pays a growing
      // compile/optimize tax on every sweep. Truncating keeps each
      // round's plan one join + two aggregates regardless of rounds.
      labels = Rounds.checkpoint(und
        .join(labels.select(col("id").as("b"), col("label")), "b")
        .groupBy(col("a"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("a").as("id"))
        .agg(max_by(col("label"), col("cnt") * 100000000L - col("label"))
          .as("label")), swept)._1
      swept = Seq(labels)
    }
    val out = labels.select(col("id").as("node_id"), col("label").as("community"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** Newman modularity decomposition of the partition [[communities]]
    * produces — the "was this clustering better than chance" number,
    * kept EXACT: with m = |distinct undirected edges|, L_c = edges
    * inside community c and D_c = Σ degrees of c's nodes,
    *
    *   Q = Σ_c (L_c/m − (D_c/2m)²) = Σ_c (4m·L_c − D_c²) / 4m²
    *
    * so each community's row carries the exact int64 numerator
    * contribution `4m·L_c − D_c²` (plus its node/edge/degree counts
    * and m), and the global Q is ONE IEEE division of two exact
    * integers `Σ numer / 4m²`, repeated per row from a one-row
    * broadcast — no per-community float ever sums. Overflow bound:
    * D_c² ≤ 4m² needs m < 1.5·10⁹ distinct edges per run (int64);
    * shard by component or rescale past it.
    *
    * Scale shape: the canonical edge set and the label table are the
    * fact-sized frames; L_c is one edge-keyed double label join +
    * combinable count, D_c one degree aggregation + label join +
    * combinable sum. The per-community table (broadcast-sized) does
    * everything else. A community with no internal edge contributes
    * −D_c²/4m² (L_c = 0 via the left join).
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 rounds: Int = 3): DataFrame = {
    val e = edges.select(col(srcCol).as("x"), col(dstCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
    val canon = e.select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE symmetrized build shared by the sweeps AND the degree prep
    // (r15, guide §2.2): canon is already distinct canonical a<b
    // pairs, so the a<b and b>a halves of the union are disjoint and
    // the symmetrized set needs NO distinct pass — communities(canon,
    // ...) used to re-run exactly that distinct exchange over the
    // edge set, and the degree prep re-symmetrized canon into ANOTHER
    // edge-sized shuffle.
    val und = canon
      .unionByName(canon.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = communitiesOnUnd(und, rounds)
      .select(col("node_id").as("id"), col("community").as("c"))
    val m = canon.agg(count(lit(1)).as("m"))
    // D_c: degree straight off the persisted und — hash(b)-partitioned,
    // so the groupBy plans NO exchange (deg(n) = |rows with b = n|,
    // exactly the symmetrized-distinct degree); then one label join +
    // combinable sum; n_nodes rides the same aggregation
    val deg = und.groupBy(col("b").as("id")).agg(count(lit(1)).as("deg"))
    val dC = deg.join(labels, "id")
      .groupBy(col("c")).agg(count(lit(1)).as("n_nodes"),
        sum("deg").as("degree_sum"))
    // L_c: both endpoints' labels equal — two label joins on the edge
    // keys (each a node-keyed shuffle), then a combinable count
    val lC = canon
      .join(labels.select(col("id").as("a"), col("c").as("ca")), "a")
      .join(labels.select(col("id").as("b"), col("c").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("in_edges"))
    val perC = dC.join(lC, Seq("c"), "left")
      .na.fill(0L, Seq("in_edges"))
      .crossJoin(broadcast(m))
      .withColumn("contrib_num",
        lit(4L) * col("m") * col("in_edges") - col("degree_sum") * col("degree_sum"))
      .localCheckpoint(true) // total below reuses it, no second pass
    val total = perC.agg(sum("contrib_num").as("__t"),
      first(col("m")).as("__m"))
    val out = perC.crossJoin(broadcast(total))
      .withColumn("modularity", col("__t").cast("double") /
        (lit(4.0) * col("__m").cast("double") * col("__m").cast("double")))
      .select(col("c").as("community"), col("n_nodes"), col("in_edges"),
        col("degree_sum"), col("m"), col("contrib_num"), col("modularity"))
    und.unpersist()
    canon.unpersist()
    out
  }
}
