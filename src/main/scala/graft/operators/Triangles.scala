package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Triangle counting by degree-ordered orientation — the join-based
  * algorithm whose intermediate (the wedge set) is bounded by graph
  * arboricity instead of the quadratic hub blow-up of the naive
  * a<b<c three-way join: every undirected edge is oriented from its
  * lower-(degree, id) endpoint to the higher, so a node's out-degree
  * is O(√E) and each triangle is counted exactly once, as the wedge
  * at its minimum-order vertex closed by the oriented third edge.
  *
  * Scale shape: dedup + degree are combinable aggregations; the wedge
  * build is ONE self-join of the oriented edge list on `u` (shuffle
  * on the wedge apex), and the close is one join on the (x, y) pair.
  * Degrees ride the edge list as plain columns — the order key
  * `deg·1e8 + id` is scalar arithmetic (ids must be < 1e8), so the
  * orientation never joins against a rank table per comparison.
  */
object Triangles {

  /** Total triangle count of the undirected simple graph induced by
    * `edges` (duplicates and self-loops dropped). One row:
    * `n_triangles`.
    *
    * Skew guard: the wedge self-join shuffles on the apex `u`, and
    * while orientation bounds out-degree at O(√E), a residual hub
    * (high degree AND high order key) still concentrates d² wedge
    * generation in one task. Apexes with out-degree > `hotThreshold`
    * are salted selectively — e1 takes a deterministic salt from its
    * `kv`, e2 replicates `saltFactor`× — spreading a hot apex's wedge
    * work over `saltFactor` tasks while cold apexes (all of them, in a
    * non-adversarial graph) pass through with salt 0 and no
    * replication. The hot set is ≤ 2E/hotThreshold rows BY
    * CONSTRUCTION (sum of out-degrees = E), so it broadcasts instead
    * of re-shuffling the edge list for tagging; at extreme scale raise
    * the threshold proportionally. Each wedge is generated exactly
    * once (e1's salt owns the pair), so the count is unchanged —
    * TrianglesSpec pins salted == unsalted.
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String,
                    saltFactor: Int = 8, hotThreshold: Int = 4096,
                    bloomWords: Int = 0): DataFrame =
    corners(edges, srcCol, dstCol, saltFactor, hotThreshold, bloomWords)._1
      .agg(count(lit(1)).as("n_triangles"))

  /** Per-node local clustering coefficient: `2·tri(v) / (deg(v)·(deg(v)−1))`
    * for nodes with degree ≥ 2 — each triangle found once at its
    * minimum-order apex contributes to all THREE corners, so the
    * per-node tally is an explode of the corner rows (triangle-sized,
    * tiny next to the wedge set) plus one combinable aggregation; the
    * degree frame is reused from the orientation build. The
    * coefficient is one IEEE division of exact integers — replayable.
    * Output: (node_id, degree, n_tri, coeff).
    */
  def nodeClusteringCoefficient(edges: DataFrame, srcCol: String, dstCol: String,
                                saltFactor: Int = 8, hotThreshold: Int = 4096,
                                bloomWords: Int = 0): DataFrame = {
    val (tri, deg) = corners(edges, srcCol, dstCol, saltFactor, hotThreshold, bloomWords)
    val perNode = tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("n_tri"))
    deg.select(col("id").as("node_id"), col("dg").as("degree"))
      .filter(col("degree") >= 2)
      .join(perNode, Seq("node_id"), "left")
      .select(col("node_id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        (lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("degree") * (col("degree") - 1))).as("coeff"))
  }

  /** The shared pipeline: returns (triangle corner rows `(u, x, y)` —
    * one per triangle, at its minimum-order apex — and the undirected
    * degree frame `(id, dg)`).
    */
  private def corners(edges: DataFrame, srcCol: String, dstCol: String,
                      saltFactor: Int, hotThreshold: Int,
                      bloomWords: Int): (DataFrame, DataFrame) = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg"))
    val ka = col("da") * 100000000L + col("a")
    val kb = col("db") * 100000000L + col("b")
    val orientedPlan = und
      .join(deg.select(col("id").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("dg").as("db")), "b")
      .select(
        when(ka < kb, col("a")).otherwise(col("b")).as("u"),
        when(ka < kb, col("b")).otherwise(col("a")).as("v"),
        when(ka < kb, kb).otherwise(ka).as("kv"))
    // an earlier call over the same edges may have left this plan
    // cached; persisting it again only logs "already cached data"
    val oriented =
      if (orientedPlan.storageLevel != org.apache.spark.storage.StorageLevel.NONE) orientedPlan
      else orientedPlan.persist()
    // materialize BEFORE the triple self-reference below: the wedge
    // join's two sides and the closing join otherwise race to fill the
    // cache concurrently inside one job and re-execute the whole
    // edge-build upstream per side (the PageRank lazy-persist lesson)
    val nEdges = oriented.count()
    // bloomWords <= 0 = AUTO: size the wedge-prune Bloom from the edge
    // count the materialization above just paid for anyway. The r12
    // second-decade probe measured the fixed 1<<20 default saturating
    // at 120M edges (x100 co-purchase: 606s, a 20x/decade blow-up vs
    // 2.4x in the first decade) and nextPow2(E/16) = 1<<23 restoring
    // 210s (7x/decade). Clamped to [1<<20, 1<<24]: below the floor the
    // broadcast is already trivial; above the cap the broadcast frame
    // itself (~16B/word) stops paying for the shuffle it saves — past
    // that, fp degrades gracefully toward pass-through, never toward
    // wrong answers (the exact close join confirms every survivor).
    val bloomW: Int =
      if (bloomWords > 0) bloomWords
      else {
        val target = nEdges / 16
        var w = 1 << 20
        while (w < target && w < (1 << 24)) w <<= 1
        w
      }
    val hotOnly = oriented.groupBy("u").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > hotThreshold).select(col("u"), lit(true).as("__hot"))
    // Hot apexes pair within the hot slice only (the tag is per-u), so
    // the wedge set is the disjoint union of a plain cold self-join —
    // bit-identical plan shape to the unsalted original, no Generate in
    // the hot path of real graphs where the hot set is empty — and a
    // salted hot self-join.
    val tagged = oriented.join(broadcast(hotOnly), Seq("u"), "left")
    val cold = tagged.filter(col("__hot").isNull).drop("__hot")
    val hot = tagged.filter(col("__hot").isNotNull).drop("__hot")
    val coldWedges = cold.as("e1").join(cold.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.kv") < col("e2.kv"))
      .select(col("e1.u").as("u"), col("e1.v").as("x"), col("e2.v").as("y"))
    val h1 = hot.withColumn("__salt",
      pmod(xxhash64(col("kv")), lit(saltFactor)).cast("int"))
    val h2 = hot.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    val hotWedges = h1.as("e1").join(h2.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.__salt") === col("e2.__salt") &&
          col("e1.kv") < col("e2.kv"))
      .select(col("e1.u").as("u"), col("e1.v").as("x"), col("e2.v").as("y"))
    val wedges = coldWedges.union(hotWedges)
    // (A groupBy (x,y) pre-aggregation of wedge multiplicity before
    // the close join was measured 2x SLOWER at sf0.1: co-purchase
    // wedge multiplicity is ~1, so the partial-agg hash table is pure
    // overhead over streaming the wedges straight into the join.)
    //
    // Blocked-Bloom wedge prune (the Decontaminate.ngramOverlapBloom
    // design, one 64-bit block, k=4): the wedge set is ~arboricity x E
    // (34x E on the sf0.1 co-purchase graph) while close-join
    // survivors are only the triangles — so test each wedge against a
    // broadcast Bloom of the oriented edge PAIRS map-side, fused into
    // the wedge-generation stage, and shuffle only survivors (true
    // triangles + ~0.5% fp at bench load; measured 41M -> ~2M rows
    // into the close join, 8.7s -> ~2s). The bloom frame is <=
    // `bloomW` rows NO MATTER |E| — at extreme scale the load
    // factor rises and the fp rate degrades gracefully toward
    // pass-through (never toward wrong answers; the exact join
    // confirms) — the AUTO sizing above keeps ~1% fp to 250M edges.
    def pairW(x: Column, y: Column): Column =
      pmod(xxhash64(x, y, lit(1)), lit(bloomW.toLong))
    def withMask(df: DataFrame, x: String, y: String): DataFrame = df
      .withColumn("__h2", xxhash64(col(x), col(y), lit(2)))
      .withColumn("__m", expr((0 until 4).map(j =>
        s"shiftleft(1L, cast(shiftright(__h2, ${6 * j}) & 63L as int))")
        .mkString(" | ")))
      .drop("__h2")
    val bloom = withMask(
        oriented.select(pairW(col("u"), col("v")).as("__w"), col("u"), col("v")),
        "u", "v")
      .groupBy("__w").agg(expr("bit_or(__m)").as("__bits"))
    val pruned = withMask(wedges, "x", "y")
      .withColumn("__w", pairW(col("x"), col("y")))
      .join(broadcast(bloom), "__w")
      .filter(col("__bits").bitwiseAND(col("__m")) === col("__m"))
      .select("u", "x", "y")
    val tri = pruned
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select("u", "x", "y")
    (tri, deg)
  }

  /** Per-EDGE embeddedness (Granovetter tie strength): the number of
    * common neighbors of an edge's endpoints = the number of triangles
    * the edge participates in. Reuses the degree-ordered-oriented
    * corner pipeline of [[triangleCount]] — each triangle found once
    * at its apex explodes into its THREE unordered member edges
    * (triangle-sized, tiny next to the wedge set), one combinable
    * count per edge, and a top-K by (embeddedness DESC, a, b) so the
    * output is bounded no matter the graph. Edges in no triangle have
    * embeddedness 0 and never rank above the K-th triangle edge —
    * emitting only triangle edges keeps the explode linear in
    * triangles. Output: (a, b, embeddedness, rank).
    */
  def edgeEmbeddedness(edges: DataFrame, srcCol: String, dstCol: String,
                       topK: Int = 20,
                       saltFactor: Int = 8, hotThreshold: Int = 4096,
                       bloomWords: Int = 0): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val (tri, _) = corners(edges, srcCol, dstCol, saltFactor, hotThreshold,
      bloomWords)
    val memberEdges = tri.select(explode(array(
        struct(least(col("u"), col("x")).as("a"), greatest(col("u"), col("x")).as("b")),
        struct(least(col("u"), col("y")).as("a"), greatest(col("u"), col("y")).as("b")),
        struct(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("embeddedness"))
    import org.apache.spark.sql.expressions.Window
    // top-K via TakeOrdered (distributed partial sort), never a global
    // single-partition window over the edge table; the rank window
    // then runs over topK rows only
    val top = memberEdges
      .orderBy(col("embeddedness").desc, col("a"), col("b")).limit(topK)
    val w = Window.orderBy(col("embeddedness").desc, col("a"), col("b"))
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

}
