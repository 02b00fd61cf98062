package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a bipartite id↔bucket membership graph by
  * alternating min-label propagation with per-round pointer jumping.
  *
  * Each round is two hash aggregations (both map-side combinable) that
  * advance labels ONE graph hop, followed (by default) by a pointer
  * jump — `label := label(label(id))`, a label-sized self-join that
  * composes the current assignment with itself. The jump roughly
  * doubles the distance covered per round (exactly doubles on path
  * graphs: 3 jumped rounds resolve a diameter-14 chain where plain
  * one-hop rounds resolve only diameter 3 — SimilaritySpec pins
  * both). Measured on the test corpora: plain rounds still moved
  * labels at round 6, while 3 jumped rounds are fixpoint-exact at
  * sf0.001 and within one label of round-5 at sf0.01 (DedupSpec pins
  * 3 == 5 on the spec corpus). Fewer rounds = fewer membership-sized
  * shuffles, which dominate the label-sized jump join; the round
  * structure stays deterministic and replayable round-for-round by an
  * external SQL oracle.
  * `propagateToFixpoint` iterates until no label changes when exact
  * component minima matter regardless of shape or diameter bound.
  *
  * The membership frame is persisted only for the duration of the
  * computation: both entry points eagerly materialize the final
  * (id, label) frame — which is persisted, O(n) rows × 2 columns —
  * then drop the membership pin before returning. The caller owns the
  * returned cache and should `unpersist()` it when done (the standard
  * `Dataset.cache()` contract); nothing internal stays pinned. Note
  * that unpersisting a TRANSFORMED view of the result (e.g. after a
  * rename) does not release the underlying entry — unpersist the
  * returned frame itself, or `spark.catalog.clearCache()`.
  */
object ConnectedComponents {

  /** `membership`: columns `id` plus `bucketCols`. Returns (id, label)
    * after exactly `iterations` propagation rounds (each a one-hop
    * propagation plus, when `shortcut`, a pointer jump). The result is
    * persisted and materialized; internal pins are released.
    */
  def propagateMinLabel(membership: DataFrame, bucketCols: Seq[String],
                        iterations: Int, shortcut: Boolean = true,
                        pinMembership: Boolean = true): DataFrame = {
    // pinMembership = false is for callers whose membership frame is
    // ALREADY materialized (cached or localCheckpoint'ed) — a second
    // persist here would double-cache it
    val mem =
      if (pinMembership)
        membership.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else membership
    // null = the identity assignment label(id) = id: round 1 reads it
    // symbolically (mem.withColumn) instead of materializing a distinct
    // + join — two fewer chained stages on a path whose sf0.1 cost is
    // scheduling latency, not data. (A converged-skip probe before the
    // final round was tried and REVERTED: persisting the per-round
    // jumped labels + the probe job cost 8.9s -> 12.6s at sf0.1
    // because the probe never fires there and the extra cache
    // materializations serialize the DAG.)
    var labels: DataFrame = null
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 0 until iterations) {
      labels = round(mem, bucketCols, Option(labels))
      if (shortcut) {
        // pin the hop output: the jump references it TWICE (both join
        // sides) — unpinned, each jump would re-execute the whole
        // upstream chain, compounding 2^rounds
        val hopped = labels.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pins += hopped
        labels = jump(hopped)
      }
    }
    if (labels == null) // iterations == 0: identity assignment
      labels = mem.select(col("id")).distinct().withColumn("label", col("id"))
    materializeAndRelease(labels, if (pinMembership) Some(mem) else None, pins.toSeq)
  }

  /** Connected components of a plain undirected edge list, exposed as
    * (node_id, component) with `component` = the minimum node id in the
    * component — the general-graph entry point over the same
    * propagate+jump kernel the dedup clusterings use. Each canonical
    * edge (u < v after cleaning self-loops/duplicates/reversals)
    * becomes a two-member bucket {(u,(u,v)), (v,(u,v))}, so one
    * propagation round is exactly one graph hop and the fixpoint is
    * the exact per-component minimum whatever the diameter (pointer
    * jumping covers diameter ~2^maxIterations). Scale shape: bucket
    * cardinality is |E|, every round is two combinable aggregations on
    * (b1,b2)/id plus a label-sized jump join — never an all-pairs
    * closure (the oracle's recursive CTE materializes O(n·comp) pairs;
    * this materializes O(n) labels per round).
    */
  def componentsFromEdges(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIterations: Int = 20): DataFrame = {
    val s = col(srcCol).cast("long")
    val t = col(dstCol).cast("long")
    val canon = edges.filter(s =!= t)
      .select(least(s, t).as("b1"), greatest(s, t).as("b2"))
      .distinct()
    val membership = canon.select(col("b1").as("id"), col("b1"), col("b2"))
      .union(canon.select(col("b2").as("id"), col("b1"), col("b2")))
    val labels = propagateToFixpoint(membership, Seq("b1", "b2"), maxIterations)
    // Rename INTO its own persisted frame and release the inner one:
    // returning a renamed select over the persisted labels would leave
    // callers unable to unpersist (unpersisting a transformed view does
    // not release the underlying entry), leaking a node-sized cache
    // entry per call until clearCache.
    val out = labels.select(col("id").as("node_id"), col("label").as("component"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    labels.unpersist(blocking = false)
    out
  }

  /** Iterate until labels stop changing, capped at `maxIterations`.
    * The result is persisted and materialized; internal pins are
    * released.
    *
    * Convergence is detected by the MONOTONE-SUM invariant instead of
    * a per-round change-probe join: min-propagation only ever lowers a
    * label, so Σlabel (exact DECIMAL(38,0) — no long overflow for
    * hash-sized ids, no float drift) strictly decreases while any
    * label moves and is constant exactly at the fixpoint. The sum is
    * observed while the round's node-sized frame is checkpointed
    * ([[Rounds.checkpoint]]), so the probe costs no job of its own (the
    * former separate scan was itself measured ~4x cheaper per round
    * than a join probe at sf0.1).
    *
    * (A double pointer-jump per round was measured and REVERTED: on
    * the sf0.1 long-chain co-purchase graph it cut rounds only 17→15
    * — the one-graph-hop-per-round term, not pointer-chain length,
    * limits progress — while adding two stages per round, and
    * executing the un-materialized second jump re-entrantly
    * triggered compounding cache-miss recomputation, 0.7s→300s/round.
    * One jump per round, materialized by its own execution, stays
    * flat.)
    */
  def propagateToFixpoint(membership: DataFrame, bucketCols: Seq[String],
                          maxIterations: Int = 20): DataFrame = {
    val mem = membership.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels: DataFrame = null // null = identity assignment (see propagateMinLabel)
    var prevSum: Option[java.math.BigDecimal] = None
    var i = 0
    var converged = false
    while (i < maxIterations && !converged) {
      val hopped = round(mem, bucketCols, Option(labels))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // localCheckpoint severs lineage each round: with jumping the
      // symbolic plan would otherwise double per round (the jump embeds
      // its input twice), blowing up analysis long before execution
      // does. On a multi-executor cluster prefer a reliable checkpoint
      // dir if executor loss during the computation must be survivable.
      // The label sum is observed by the checkpoint job itself, and the
      // previous round's checkpoint — read by nothing once this one is
      // materialized — is freed, so checkpoint storage stays at ~1
      // round on long-diameter graphs instead of growing until driver GC
      val (next, probe) = Rounds.checkpoint(jump(hopped), Option(labels).toSeq,
        sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      hopped.unpersist(blocking = false)
      // empty membership sums to NULL — normalize so the empty graph
      // converges on its second (equal) sum instead of NPE-ing
      val labelSum = Option(probe.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
      converged = prevSum.exists(p => p.compareTo(labelSum) == 0)
      prevSum = Some(labelSum)
      labels = next
      i += 1
    }
    if (labels == null) // maxIterations == 0: identity assignment
      labels = mem.select(col("id")).distinct().withColumn("label", col("id"))
    materializeAndRelease(labels, Some(mem), Nil)
  }

  /** Force the final labels into their own cache, then release the
    * membership pin — if the labels cache is later evicted, lineage
    * recomputes from the (unpinned) source, which is correct, just
    * slower.
    */
  private def materializeAndRelease(labels: DataFrame, mem: Option[DataFrame],
                                    pins: Seq[DataFrame]): DataFrame = {
    val out =
      if (labels.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        labels.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else labels
    out.count()
    mem.foreach(_.unpersist(blocking = false))
    pins.filterNot(_ eq out).foreach(_.unpersist(blocking = false))
    out
  }

  /** One propagation hop. `labels == None` means the identity
    * assignment label(id) = id — expressed symbolically as a column,
    * which is algebraically what joining the distinct-id identity
    * frame would produce, minus that frame's distinct and join stages.
    */
  private def round(mem: DataFrame, bucketCols: Seq[String],
                    labels: Option[DataFrame]): DataFrame = {
    val withLabel = labels.fold(mem.withColumn("label", col("id")))(mem.join(_, "id"))
    val bucketMin = withLabel
      .groupBy(bucketCols.map(col): _*).agg(min("label").as("bmin"))
    mem.join(bucketMin, bucketCols)
      .groupBy("id").agg(min("bmin").as("label"))
  }

  /** Pointer jump: `label := label(label(id))`. Sound because every
    * label value is itself an id with a label row (labels start as the
    * id set and only ever take mins over it), and label(x) <= x keeps
    * the sequence monotone toward the component minimum — classic path
    * compression, O(labels) shuffle per jump.
    */
  private def jump(labels: DataFrame): DataFrame = {
    val parent = labels.select(col("id").as("__pid"), col("label").as("__plabel"))
    labels.join(parent, col("label") === col("__pid"))
      .select(col("id"), col("__plabel").as("label"))
  }
}
