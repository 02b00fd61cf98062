package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source breadth-first shortest paths (hop distance) over an
  * undirected edge list — the reachability/distance member of the
  * graph family ([[PageRank]] = importance, [[Triangles]] = local
  * density, [[ConnectedComponents]] = partition structure).
  *
  * Frontier-delta iteration, not whole-table relaxation: hop `h` joins
  * ONLY the rows settled at distance `h-1` (the frontier) against the
  * adjacency list, so across the whole run each directed edge is
  * expanded exactly once — when its source settles — for O(E) total
  * join work regardless of the hop bound. Re-joining the full
  * distance table every hop would cost O(E·H) and re-shuffle settled
  * mass that can never improve.
  *
  * Scale shape: the symmetrized adjacency is deduplicated, partitioned
  * on `src` ONCE and persisted, so every hop's frontier join reuses
  * that partitioning and shuffles only the frontier (≤ nodes rows).
  * The per-hop merge is a combinable `min(dist)` aggregation; state
  * between hops is one (node, dist) row per settled node. Dedup,
  * symmetrize, and min are all map-side combinable; nothing is
  * collected to the driver. A hop whose frontier is empty terminates
  * the loop early: the frontier size is observed by the job that
  * checkpoints the hop's merge ([[Rounds.checkpoint]] — the same
  * convergence probe [[ConnectedComponents.propagateToFixpoint]]
  * uses), so the probe costs no job of its own.
  *
  * Semantics (replayable by a recursive-CTE oracle): `dist(v)` = the
  * minimum number of edges on any path from any source to `v`, capped
  * at `maxHops`; unreachable nodes are absent. Self-loops and
  * duplicate/reversed edges are cleaned. A source id that touches no
  * edge still reports dist 0 iff it appears in `sources` (sources are
  * trusted as nodes).
  */
object ShortestPaths {

  /** (node_id, dist) for every node within `maxHops` of `sources`
    * (a one-column frame of node ids).
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              sources: DataFrame, maxHops: Int): DataFrame = {
    val adj = buildAdjacency(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try bfsHopsOnAdj(adj, sources, maxHops)
    finally adj.unpersist(blocking = false)
  }

  /** Symmetrized, cleaned, deduplicated adjacency partitioned on
    * `src` — built ONCE and shared when a caller runs several sweeps
    * over the same graph ([[pseudoDiameter]]'s double sweep).
    */
  private def buildAdjacency(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame = {
    val s = col(srcCol).cast("long")
    val t = col(dstCol).cast("long")
    // symmetrize + clean: each undirected edge becomes two directed
    // rows; distinct collapses duplicates and reversed re-statements
    edges.filter(s =!= t)
      .select(s.as("src"), t.as("dst"))
      .union(edges.filter(s =!= t).select(t.as("src"), s.as("dst")))
      .distinct()
      .repartition(col("src"))
  }

  /** [[bfsHops]] over a pre-built (already persisted) adjacency. */
  private def bfsHopsOnAdj(adj: DataFrame, sources: DataFrame,
                           maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val src0 = sources.select(sources.columns.head).distinct()
      .select(col(sources.columns.head).cast("long").as("node_id"),
        lit(0).as("dist"))
    // Each hop's merged distance table is an eager localCheckpoint:
    // un-truncated lineage doubles per hop and Catalyst's driver-side
    // optimization time grows exponentially with depth (the same
    // pathology measured in [[PageRank]]).
    //
    // The per-round merge FUSES what r13 spent three shuffles on
    // (candidate distinct + settled anti-join + frontier dedup) into
    // ONE combinable min(dist) aggregation over settled ∪ candidates:
    // a node already settled at d keeps d (min wins); a node first
    // reached this round gets its layer label and the DEEPEST new
    // layer IS the next frontier (`dist = deep` filter on the
    // checkpointed merge — no recompute, no extra shuffle). Semantics
    // are identical to distinct+anti-join: distances never increase
    // and each node's final dist is its first-reached hop.
    //
    // STRIDE-3 rounds: each round expands the frontier THREE hops
    // inside one job (frontier ⋈ adj → dedup → ⋈ adj → dedup → ⋈ adj;
    // each dedup's hash(node_id) output co-partitions with adj's
    // hash(src), so the follow-on joins add no exchange), then the
    // min-merge labels k-hop candidates h+k. Correctness is the BFS
    // layer argument, inductively: every true-(h+k)-node is adjacent
    // to a true-(h+k−1)-node, which is contained in cand_{k−1} (the
    // candidate superset of its layer), so it appears in cand_k;
    // min() repairs any candidate whose true distance is smaller.
    // A BFS's wall clock is serial rounds × per-round latency (the
    // per-round data is frontier-sized and tiny next to the job
    // fixed cost), so striding cuts the wall ~3× while total join
    // work stays O(E) per hop exactly as before. The next frontier is
    // the DEEPEST new layer only — a shallower new node was already
    // expanded inside the round, and if the deepest layer is empty no
    // deeper true layer can exist (it would need a deepest-layer
    // neighbor). A maxHops tail shorter than the stride runs a
    // truncated round. Measured on the sf0.1 diameter-30 graph:
    // stride 1 = 13.4 s, 2 = 10.8 s, 3 = 9.7 s, 4 = 11.1 s (deeper
    // strides pay more intra-round exchanges than they save rounds).
    //
    // ADAPTIVE tail stride: measured and REJECTED (r15, VERDICT
    // next-round #3). Hypothesis: once the frontier is small (the
    // long thin tail that gives a diameter-30 graph its diameter),
    // per-hop join work is negligible and a deeper stride should cut
    // serial rounds nearly free. Measured (controlled A/B, stride 8
    // under frontier ≤ 1024, sf0.1, 32 cores): q_diameter 15.3 →
    // 24.6 s (−60%), q_bfs 2.0 → 2.8 s; construction shuffle deps 56
    // → 156. The r14 fixed-stride curve's minimum at 3 is already the
    // equilibrium — each intra-round hop adds a distinct exchange, a
    // merge branch exchange, and superlinear Catalyst optimize time
    // on the chained-join round plan, which together exceed the 2
    // fixed jobs (checkpoint + probe) a skipped round then saved, even
    // on near-empty tail frontiers. Stride stays 3 at every frontier
    // size. (The probe has since moved into the checkpoint job, so a
    // skipped round now saves 1 fixed job, which only widens the gap.)
    val stride = 3
    var (settled, size0) = Rounds.checkpoint(src0, Nil, count(lit(1)))
    var frontier = settled
    var h = 1
    var done = maxHops == 0 || size0.getLong(0) == 0
    while (!done) {
      val s = math.min(stride, maxHops - h + 1)
      var layerSrc: DataFrame = frontier
      var acc: DataFrame = settled
      for (k <- 0 until s) {
        val cand = layerSrc.join(adj, layerSrc("node_id") === adj("src"))
          .select(col("dst").as("node_id"), lit(h + k).as("dist"))
        acc = acc.unionByName(cand)
        if (k < s - 1) layerSrc = cand.select("node_id").distinct()
      }
      val deep = h + s - 1
      val (merged, size) = Rounds.checkpoint(
        acc.groupBy("node_id").agg(min("dist").as("dist")),
        Seq(settled), count(when(col("dist") === deep, 1)))
      frontier = merged.filter(col("dist") === deep)
      // merged can hold NEW shallower-layer nodes even when the deep
      // layer is empty — it is always the new settled state
      settled = merged
      if (size.getLong(0) == 0) done = true
      else {
        h = deep + 1
        done = h > maxHops
      }
    }
    settled
  }

  /** [[bfsHopsOnAdj]] generalized to MANY independent sources swept
    * TOGETHER: frontier/settled rows carry a `seed` label and the
    * min-merge groups on (seed, node_id), so the per-seed distance
    * trajectories are exactly the single-source ones (layers never mix
    * across seeds) while the serial round count — the wall-clock term
    * of any BFS (guide §1.3: wall = rounds × job latency, per-round
    * data is tiny) — is paid ONCE instead of once per seed.
    * [[harmonicCentrality]] used to run `nSeeds` sequential sweeps;
    * at 3 seeds this cuts the serial job chain 3×. Input `seeds`:
    * (seed, id) rows. Output: (seed, node_id, dist).
    */
  private def bfsHopsMultiOnAdj(adj: DataFrame, seeds: DataFrame,
                                maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val src0 = seeds
      .select(col("seed").cast("long").as("seed"),
        col("id").cast("long").as("node_id"), lit(0).as("dist"))
      .distinct()
    // fixed stride 3 — the adaptive tail stride was measured and
    // rejected here too ([[bfsHopsOnAdj]]'s r15 note)
    val stride = 3
    var (settled, size0) = Rounds.checkpoint(src0, Nil, count(lit(1)))
    var frontier = settled
    var h = 1
    var done = maxHops == 0 || size0.getLong(0) == 0
    while (!done) {
      val s = math.min(stride, maxHops - h + 1)
      var layerSrc: DataFrame = frontier
      var acc: DataFrame = settled
      for (k <- 0 until s) {
        val cand = layerSrc.join(adj, layerSrc("node_id") === adj("src"))
          .select(col("seed"), col("dst").as("node_id"), lit(h + k).as("dist"))
        acc = acc.unionByName(cand)
        // repartition on node_id ALONE: hash(node_id) satisfies the
        // (seed, node_id) dedup/agg by the subset rule AND co-partitions
        // the follow-on frontier⋈adj join — one exchange serves both
        // (hash(seed, node_id) from a plain groupBy would satisfy only
        // the agg and re-exchange at the join)
        if (k < s - 1) layerSrc = cand.select("seed", "node_id")
          .repartition(col("node_id")).distinct()
      }
      val deep = h + s - 1
      val (merged, size) = Rounds.checkpoint(
        acc.repartition(col("node_id"))
          .groupBy("seed", "node_id").agg(min("dist").as("dist")),
        Seq(settled), count(when(col("dist") === deep, 1)))
      frontier = merged.filter(col("dist") === deep)
      settled = merged
      if (size.getLong(0) == 0) done = true
      else {
        h = deep + 1
        done = h > maxHops
      }
    }
    settled
  }

  /** Hop-bounded WEIGHTED shortest paths (Bellman–Ford with frontier
    * deltas): `dist(v)` = the minimum total integer edge weight over
    * any path of at most `maxHops` edges from any source — the
    * cheapest-route companion to [[bfsHops]]' hop count. The hop
    * bound is the CONTRACT (it is what a bounded recursive-CTE oracle
    * replays), not a convergence heuristic; a run that stabilizes
    * early exits early.
    *
    * Scale shape: the symmetrized adjacency collapses parallel edges
    * to their min weight, is partitioned on `src` once and persisted.
    * Each round expands ONLY the frontier — the nodes whose distance
    * improved last round (classic Bellman–Ford delta optimization:
    * any path improving at round h extends a node improved at h−1) —
    * pre-merged by a combinable min before touching the distance
    * table, and the new distance table is one more combinable min
    * over (settled ∪ candidates). Distances only decrease, so the
    * improved set is found by one join against the previous table;
    * state is one (node, dist) row per reached node, checkpointed per
    * round (the [[bfsHops]] lineage discipline).
    */
  def weightedHops(edges: DataFrame, srcCol: String, dstCol: String,
                   weightCol: String, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val s = col(srcCol).cast("long")
    val t = col(dstCol).cast("long")
    val w = col(weightCol).cast("long")
    val dir = edges.filter(s =!= t && w.isNotNull)
      .select(s.as("src"), t.as("dst"), w.as("w"))
    val adj = dir
      .union(dir.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .groupBy("src", "dst").agg(min("w").as("w"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var (dist, size0) = Rounds.checkpoint(sources.select(sources.columns.head)
      .distinct()
      .select(col(sources.columns.head).cast("long").as("node_id"),
        lit(0L).as("dist")), Nil, count(lit(1)))
    var frontier = dist
    var h = 0
    var done = maxHops == 0 || size0.getLong(0) == 0
    while (!done) {
      val cand = frontier.join(adj, frontier("node_id") === adj("src"))
        .select(col("dst").as("node_id"), (col("dist") + col("w")).as("dist"))
        .groupBy("node_id").agg(min("dist").as("dist"))
      // the improved set falls out of the SAME min-merge that builds
      // the new distance table: tagging the old rows lets one
      // aggregation carry (new dist, old dist) side by side, so the
      // former frontier join + its second eager checkpoint (two extra
      // jobs per round — the wall-clock term of a bounded relaxation,
      // guide §1.3) collapse into a filter over the round's checkpoint,
      // whose size the checkpoint job observes
      val improved = col("__old").isNull || col("dist") < col("__old")
      val (merged, size) = Rounds.checkpoint(
        dist.select(col("node_id"), col("dist"), col("dist").as("__old"))
          .unionByName(cand.withColumn("__old", lit(null).cast("long")))
          .groupBy("node_id").agg(min("dist").as("dist"),
            min("__old").as("__old")),
        Seq(dist), count(when(improved, 1)))
      frontier = merged.filter(improved).select("node_id", "dist")
      dist = merged.select("node_id", "dist")
      h += 1
      done = h >= maxHops || size.getLong(0) == 0
    }
    adj.unpersist(blocking = false)
    dist
  }

  /** Pseudo-diameter by the standard double-sweep: BFS from the
    * smallest node id (a deterministic, engine-identical anchor), take
    * the farthest reached node (dist DESC, id ASC tie-break), BFS
    * again from it — the second eccentricity is the classic
    * lower-bound diameter estimate, exact on trees and within a small
    * factor on real graphs, at the cost of TWO BFS sweeps instead of
    * the all-pairs n·BFS an exact diameter needs (the 100 TB answer).
    * Both sweeps are [[bfsHopsOnAdj]] (frontier deltas, per-hop
    * localCheckpoint, fused min-merge) over ONE shared adjacency —
    * symmetrized, deduplicated, and partitioned a single time instead
    * of once per sweep. The second sweep cannot be cut short at sweep
    * 1's eccentricity: ecc(far) ≥ ecc(start) always (far is at
    * distance ecc_start from start), so the interesting hops are
    * exactly the ones PAST ecc_start — an early exit there would
    * under-report the oracle-visible pseudo_diameter. The two one-row
    * anchor collects are bounded by construction. Output one row:
    * (start_node, far_node, ecc_start, pseudo_diameter, n_reached) —
    * empty edge set emits no row.
    */
  def pseudoDiameter(edges: DataFrame, srcCol: String, dstCol: String,
                     maxHops: Int = 32): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val nodes = edges.select(col(srcCol).cast("long").as("id"))
      .union(edges.select(col(dstCol).cast("long").as("id")))
      .filter(col("id").isNotNull).distinct()
    val startRow = nodes.agg(min("id").as("id")).filter(col("id").isNotNull)
      .collect()
    if (startRow.isEmpty || startRow.head.isNullAt(0)) {
      return Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("start_node", "far_node", "ecc_start", "pseudo_diameter",
          "n_reached")
    }
    val start = startRow.head.getLong(0)
    val adj = buildAdjacency(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sweep1 = bfsHopsOnAdj(adj, Seq(start).toDF("id"), maxHops)
      // farthest node: max dist, then min id — one bounded collect
      val far = sweep1
        .orderBy(col("dist").desc, col("node_id").asc).limit(1)
        .collect().head
      val farId = far.getLong(0)
      val ecc1 = far.getInt(1).toLong // bfsHops dist is IntegerType
      Rounds.release(sweep1)
      val sweep2 = bfsHopsOnAdj(adj, Seq(farId).toDF("id"), maxHops)
      Rounds.checkpoint(
        sweep2.agg(max(col("dist")).cast("long").as("pseudo_diameter"),
            count(lit(1)).as("n_reached"))
          .select(lit(start).as("start_node"), lit(farId).as("far_node"),
            lit(ecc1).as("ecc_start"), col("pseudo_diameter"), col("n_reached")),
        Seq(sweep2))._1
    } finally adj.unpersist(blocking = false)
  }

  /** Hop-bounded harmonic centrality for a deterministic seed set —
    * "which anchors reach the most of the graph, weighted by
    * closeness": for each of the (at most `nSeeds`) seed nodes
    * (the smallest node ids ≡ 0 mod `seedMod`), one BFS sweep over a
    * SHARED persisted adjacency (the [[pseudoDiameter]] pattern), and
    * harmonic mass H(s) = Σ_{0<d(s,v)≤maxHops} ⌊2²⁰/d⌋ — an exact
    * integer tally per (seed, hop-layer), so the float never exists.
    * The seed collect is ≤ `nSeeds` rows (the bounded-anchor
    * contract). Output per seed: (seed, n_reached, harmonic_q,
    * harmonic) where n_reached excludes the seed itself.
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         seedMod: Long, nSeeds: Int, maxHops: Int): DataFrame = {
    require(nSeeds >= 1 && nSeeds <= 16, s"nSeeds must be in [1,16], got $nSeeds")
    val adj = buildAdjacency(edges, srcCol, dstCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds: Array[Long] = adj.select(col("src").as("id")).distinct()
        .filter(pmod(col("id"), lit(seedMod)) === 0)
        .orderBy("id").limit(nSeeds)
        .collect().map(_.getLong(0))
      val spark = edges.sparkSession
      if (seeds.isEmpty) {
        import spark.implicits._
        return Seq.empty[(Long, Long, Long, Double)]
          .toDF("seed", "n_reached", "harmonic_q", "harmonic")
      }
      // ONE labeled multi-source sweep instead of nSeeds sequential
      // sweeps (bfsHopsMultiOnAdj doc): per-seed distances identical,
      // serial rounds paid once. A seed with no row after the dist>0
      // filter (isolated or degree-0 mod-seed) must still report a
      // zero row — the left join against the seed list restores it,
      // exactly as the old per-seed aggregate-over-empty did.
      import spark.implicits._
      val seedsDf = seeds.toSeq.toDF("seed")
        .select(col("seed"), col("seed").as("id"))
      val sweep = bfsHopsMultiOnAdj(adj, seedsDf, maxHops)
      val perSeed = sweep
        .filter(col("dist") > 0)
        .groupBy("seed", "dist").agg(count(lit(1)).as("n_at"))
        .groupBy("seed")
        .agg(coalesce(sum("n_at"), lit(0L)).as("n_reached"),
          coalesce(sum(col("n_at") * expr("1048576 div dist")),
            lit(0L)).as("harmonic_q"))
      seedsDf.select("seed").join(perSeed, Seq("seed"), "left")
        .select(col("seed"),
          coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          coalesce(col("harmonic_q"), lit(0L)).as("harmonic_q"))
        .withColumn("harmonic", col("harmonic_q").cast("double") / 1048576.0)
        .orderBy("seed")
    } finally adj.unpersist(blocking = false)
  }

}
