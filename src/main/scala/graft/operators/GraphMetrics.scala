package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Whole-graph structural summaries (beside the per-node family:
  * [[Triangles]], [[KCore]], [[LabelPropagation.modularity]]).
  * Reference behavior-parity note: the reference engine has no graph
  * QPU; these extend the analytics surface the same way the graph
  * rows in SURVEY §2.2 do.
  */
object GraphMetrics {

  /** HITS hubs & authorities over a DIRECTED edge list — the second
    * eigen-ranking beside [[PageRank]]: hubs point at good
    * authorities, authorities are pointed at by good hubs. ENTIRELY
    * INTEGER power iteration, so the whole trajectory replays
    * bit-for-bit in SQL: scores live in micro-units (start hub = 10⁶
    * per source node), each half-step is an exact int64 sum over
    * in/out edges, and normalization is `score·10⁶ div max(score)`
    * with the multiply widened to DECIMAL(38,0) (max is order-free
    * where a float L2 norm never is; the decimal widening matches the
    * DuckDB oracle's HUGEINT arithmetic, so there is no wrap class at
    * any degree). The binding int64 constraint is the half-step SUM
    * itself: Σ hub ≤ deg_max·10⁶ must fit int64, i.e. hubs up to
    * ~9·10¹² in-degree — the normalization multiply is no longer a
    * bound. Each alternating half-step joins the edge table on `src`
    * then on `dst`, so the edge set is persisted TWICE, co-partitioned
    * on each join key (the [[PageRank]] one-time-repartition lesson
    * applied to an alternating iteration): every half-step shuffles
    * only the node-sized score table, never the edges. Per-round
    * lineage is truncated with eager localCheckpoints (the
    * [[PageRank]] plan-hygiene lesson) that also observe each
    * half-step's max ([[Rounds.checkpoint]]). Output one row per node:
    * (node_id, hub_micro, auth_micro) — zeros for nodes on one side
    * only.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 8, s"iters must be in [1, 8], got $iters")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    // two co-partitioned copies: the auth half-step joins on src, the
    // hub half-step joins on dst — one persisted partitioning each,
    // reused every round (2×iters reuses), so per-round shuffle mass
    // is the score table only
    val eBySrc = e.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eByDst = e.repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // score·10⁶ div max in DECIMAL(38,0) — exact at any degree (the
    // int64 multiply would wrap silently once score·10⁶ > 2⁶³); the
    // quotient is ≤ 10⁶ so the long narrowing is exact
    def normalize(score: Column, mx: Any): Column =
      graft.functions.TimeFunctions.truncDiv(
        score.cast("decimal(38,0)") * lit(1000000L).cast("decimal(38,0)"),
        lit(mx).cast("decimal(38,0)"))
    // each half-step checkpoints its RAW integer scores and observes
    // their max in the same job; the normalized scores are a projection
    // over that checkpoint with the max as a literal (a DECIMAL literal
    // is passed to generated code by reference, so rounds share one
    // compiled kernel), which takes the one-row max broadcast, and its
    // jobs, out of every half-step
    var hub = eBySrc.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1000000L).as("h"))
    var auth: DataFrame = null
    var rawHub: Seq[DataFrame] = Nil // the previous half-steps' checkpoints
    var rawAuth: Seq[DataFrame] = Nil
    for (_ <- 0 until iters) {
      val (ra, amax) = Rounds.checkpoint(
        eBySrc.join(hub.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(sum("h").as("a")),
        rawAuth, max("a"))
      rawAuth = Seq(ra)
      auth = ra.select(col("id"), normalize(col("a"), amax.get(0)).as("a"))
      val (rh, hmax) = Rounds.checkpoint(
        eByDst.join(auth.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id")).agg(sum("a").as("h")),
        rawHub, max("h"))
      rawHub = Seq(rh)
      hub = rh.select(col("id"), normalize(col("h"), hmax.get(0)).as("h"))
    }
    // every source node has a hub row and every destination node an
    // authority row after the first round, so the node set is their
    // full outer join — zeros for nodes on one side only
    val out = hub.select(col("id"), col("h").as("hub_micro"))
      .join(auth.select(col("id"), col("a").as("auth_micro")), Seq("id"), "full_outer")
      .na.fill(0L, Seq("hub_micro", "auth_micro"))
      .select(col("id").as("node_id"), col("hub_micro"), col("auth_micro"))
    eBySrc.unpersist(blocking = false)
    eByDst.unpersist(blocking = false)
    out
  }

  /** Degree assortativity coefficient (Newman 2002, "Assortative
    * mixing in networks"): the Pearson correlation of endpoint degrees
    * over the DIRECTED edge list (each undirected edge counted both
    * ways — the standard symmetrization, which makes Σj = Σk and
    * Σj² = Σk² so the formula collapses to
    * r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²)). Positive = hubs attach
    * to hubs (social nets), negative = hubs attach to leaves
    * (technological nets). All sums are exact int64 over integer
    * degrees (Σjk ≤ M·deg_max² — wraps only past ~10⁹ edges of
    * ~10⁴-degree hubs; shard by component past that), r is the one
    * fixed double expression. A degree-regular graph (zero variance,
    * exact integer test) reports NULL.
    *
    * Input: UNDIRECTED unique edges (src < dst or any one-per-pair
    * convention; self-loops dropped). Output one row:
    * (n_nodes, n_edges, m_directed, sum_jk, sum_j, sum_j2,
    * assortativity).
    *
    * Scale shape: one symmetrizing union, one combinable degree
    * count, two hash joins of the edge list against the (node-sized,
    * auto-broadcast when small) degree table, one combinable final
    * aggregation — no windows, nothing quadratic.
    */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // canonicalize to (min, max) before dedup so a pair arriving in
    // both orientations is still ONE undirected edge
    val e0 = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val u = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
    val deg = u.groupBy(col("a").as("z")).agg(count(lit(1)).as("d"))
    val m = u
      .join(deg.select(col("z").as("a"), col("d").as("j")), "a")
      .join(deg.select(col("z").as("b"), col("d").as("k")), "b")
      .agg(count(lit(1)).as("m_directed"),
        sum(col("j") * col("k")).as("sum_jk"),
        sum(col("j")).as("sum_j"),
        sum(col("j") * col("j")).as("sum_j2"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    val num = dd(col("m_directed")) * dd(col("sum_jk")) - dd(col("sum_j")) * dd(col("sum_j"))
    val den = dd(col("m_directed")) * dd(col("sum_j2")) - dd(col("sum_j")) * dd(col("sum_j"))
    m.crossJoin(broadcast(nodes))
      .withColumn("n_edges", expr("m_directed div 2"))
      .withColumn("assortativity",
        when(col("m_directed") * col("sum_j2") =!= col("sum_j") * col("sum_j"),
          num / den))
      .select("n_nodes", "n_edges", "m_directed", "sum_jk", "sum_j", "sum_j2",
        "assortativity")
  }

  /** Rich-club coefficient profile (Zhou & Mondragón 2004): for each
    * degree cutoff k, the edge density among the nodes of degree > k —
    * φ(k) = 2·E_k / (N_k·(N_k−1)) in micro-units. A rising φ(k) means
    * the hubs form a densely-wired "club" (the router-core /
    * power-user structure [[assortativity]] summarizes in one
    * number, resolved by level). Entirely integer: degree counts, one
    * degree join per edge endpoint, then ALL cutoffs in one
    * explode+aggregate pass (|ks| rows per edge/node — cutoff lists
    * are a handful of levels, so the blow-up is a small constant,
    * never quadratic). Output per cutoff:
    * (k, n_nodes, n_edges, phi_micro) — NULL φ when N_k < 2.
    */
  def richClub(edges: DataFrame, srcCol: String, dstCol: String,
               ks: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 0), "cutoffs must be >= 0")
    val e0 = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    val und = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("z")).agg(count(lit(1)).as("d"))
    val kArr = array(ks.map(k => lit(k.toLong)): _*)
    val nodesPerK = deg.select(explode(kArr).as("k"), col("d"))
      .groupBy("k")
      .agg(coalesce(sum(when(col("d") > col("k"), 1L).otherwise(0L)), lit(0L))
        .as("n_nodes"))
    val edgesPerK = e0
      .join(deg.select(col("z").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("z").as("b"), col("d").as("db")), "b")
      .select(explode(kArr).as("k"), col("da"), col("db"))
      .groupBy("k")
      .agg(coalesce(sum(when(col("da") > col("k") && col("db") > col("k"), 1L)
        .otherwise(0L)), lit(0L)).as("n_edges"))
    nodesPerK.join(edgesPerK, "k")
      .withColumn("phi_micro", when(col("n_nodes") >= 2,
        graft.functions.TimeFunctions.truncDiv(
          lit(2000000L) * col("n_edges"),
          col("n_nodes") * (col("n_nodes") - 1L))))
      .select(col("k"), col("n_nodes"), col("n_edges"), col("phi_micro"))
  }

  /** Directed-graph reciprocity — the fraction of directed edges whose
    * reverse edge also exists ("do links get returned"), plus the
    * dyad census (mutual / asymmetric): one distinct pass over the
    * edge list and ONE self-semi-join on the reversed key — both
    * shuffles on the edge key, no node table, no iteration. Output
    * one row: (n_edges, n_reciprocal, n_mutual_dyads,
    * n_asymmetric_dyads, reciprocity).
    */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    val nRecip = e.join(rev, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_reciprocal"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(nRecip))
      .select(col("n_edges"), col("n_reciprocal"),
        expr("n_reciprocal div 2").as("n_mutual_dyads"),
        (col("n_edges") - col("n_reciprocal")).as("n_asymmetric_dyads"))
      .withColumn("reciprocity", when(col("n_edges") > 0,
        dd(col("n_reciprocal")) / dd(col("n_edges"))))
  }


  /** Discrete power-law exponent of the degree distribution (Clauset–
    * Shalizi–Newman continuous-MLE approximation at fixed d_min):
    * α = 1 + n_tail / Σ ln(d/(d_min−½)) over nodes with degree ≥
    * d_min — the "is this graph scale-free" screen beside
    * assortativity (269) and the rich-club profile. The ln runs once
    * per DEGREE VALUE (cell-quantized at 2²⁰, count-weighted integer
    * sum); undirected degrees from one distinct-edge pass.
    * Output one row: (n_nodes, n_tail, max_degree, lnsum_q, alpha).
    */
  def degreePowerLaw(edges: DataFrame, srcCol: String, dstCol: String,
                     dMin: Int = 2): DataFrame = {
    require(dMin >= 1, s"dMin must be >= 1, got $dMin")
    def dd(c: Column) = c.cast("double")
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg"))
    val cells = deg.groupBy("dg").agg(count(lit(1)).as("cnt"))
    cells.agg(
        coalesce(sum("cnt"), lit(0L)).as("n_nodes"),
        coalesce(sum(when(col("dg") >= dMin, col("cnt")).otherwise(lit(0L))),
          lit(0L)).as("n_tail"),
        coalesce(max("dg"), lit(0L)).as("max_degree"),
        coalesce(sum(when(col("dg") >= dMin,
          col("cnt") * floor(log(dd(col("dg")) / lit(dMin - 0.5)) * 1048576)
            .cast("long")).otherwise(lit(0L))), lit(0L)).as("lnsum_q"))
      .withColumn("alpha", when(col("lnsum_q") > 0,
        lit(1.0) + dd(col("n_tail")) * 1048576.0 / dd(col("lnsum_q"))))
  }

}
