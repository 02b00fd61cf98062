package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Pinned CONSTRUCTION-phase shuffle totals for the iterative
  * operators (r13, verdict #4).
  *
  * ExchangeCountSpec pins the exchanges of the RETURNED plan, but the
  * iterative graph/cluster operators (PageRank power iteration,
  * connected-components hash-min, label propagation, k-core peeling,
  * MinHash cluster chasing) run their per-sweep shuffles during
  * construction behind eager localCheckpoints — the returned plan is a
  * checkpoint read and pins (0, 0). A lost co-partition inside the
  * loop (e.g. the PageRank edge-reuse regression class from the §5
  * lineage lesson) would double the per-round shuffles and never touch
  * the final plan, so ExchangeCountSpec cannot see it.
  *
  * This spec counts DISTINCT EXECUTED shuffle dependencies across the
  * WHOLE build + collect of each operator via a SparkListener over
  * completed stages' `shuffleDepId` (under AQE every shuffle stage
  * materializes as its own submitMapStage job, so job/stage arithmetic
  * is useless — the dep id is the identity of a shuffle). The count is
  * a deterministic function of the plan at a fixed scale factor; a
  * retry re-executes the SAME dep id and cannot inflate it, while a
  * lost co-partition adds NEW dep ids per round — so the pins are
  * CEILINGS like ExchangeCountSpec's.
  *
  * When an operator is legitimately restructured, re-pin with:
  * SPARK_GRAFT_PIN_REGEN=1 sbt "testOnly graft.ConstructionShuffleSpec"
  */
class ConstructionShuffleSpec extends SparkSpecBase {

  /** query -> max executed shuffle-map stages for build+collect at
    * sf0.001 (measured value at pin time in the comment).
    */
  private val EXPECTED: Map[String, Int] = Map(
    "q_pagerank" -> 8,     // 5 power-iteration rounds over the reused
                           // edges; each round's contributions and rank
                           // rows meet in one aggregation, N and the
                           // dangling mass are observed (19 → 8)
    "q_components" -> 9,   // hash-min sweeps to fixpoint + final assembly;
                           // the label-sum probe rides the checkpoint (12 → 9)
    "q_communities" -> 8,  // 3 label-propagation rounds + the one-time
                           // repartition-on-join-key of the persisted
                           // edge set (r14); r15: initial labels
                           // distinct on the partition key "b" rides
                           // the und partitioning (9 → 8)
    "q_kcore" -> 10,       // peeling rounds to fixpoint at sf0.001
    "dedup_cluster" -> 8,  // minhash bands + pointer-chasing rounds
    "sim_kmeans" -> 10,    // seeding + 2 Lloyd rounds (assign/update)
    "q_diameter" -> 44,    // two bfsHopsOnAdj sweeps over ONE shared
                           // adjacency, stride-3 rounds (3 expand joins +
                           // one fused min-merge per round); ecc-dependent
                           // — r13's 3-shuffle hops measured 93, r14's
                           // fused stride-3 rounds 56; frontier sizes
                           // observed by the checkpoint job, 44
    "q_hits" -> 11,        // 2 co-partitioned edge copies reused across
                           // 2x2 half-steps; per-step shuffles = score
                           // table only (r14, measured 19); each max is
                           // observed, not broadcast, and the node set
                           // is the hub/authority outer join (11)
    "q_bfs" -> 9,          // one stride-3 bfsHops sweep (r14: 12); the
                           // frontier-size probe rides the checkpoint
    "q_sssp" -> 15,        // Bellman-Ford frontier deltas; the improved
                           // set now falls out of the min-merge itself
                           // (r14 opt: 27 → 19 — the per-round frontier
                           // join + second checkpoint are gone); the
                           // frontier-size probe rides the checkpoint
                           // (19 → 15)
    "q_modularity" -> 12,  // r15: ONE symmetrized+repartitioned edge
                           // build shared by the LPA sweeps AND the
                           // degree prep (degree = exchange-free groupBy
                           // on the hash(b)-partitioned und); initial
                           // labels distinct on the partition key. The
                           // r14 shape measured 15 (re-distinct inside
                           // communities + a second symmetrize/shuffle
                           // for degrees); sf0.1 A/B 8.1 → 6.0 s
    "q_harmonic" -> 10     // ONE labeled multi-source sweep for all 3
                           // seeds over the shared persisted adjacency
                           // (r14 opt: serial rounds paid once instead
                           // of once per seed; measured 13 at sf0.001);
                           // frontier sizes observed (13 → 10)
  )

  private def countShuffleStages(body: => Unit): Int = {
    val deps = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        org.apache.spark.graftbridge.CoreBridge.shuffleDepId(s.stageInfo)
          .foreach(id => deps.add(id))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftbridge.CoreBridge.drainListenerBus(spark.sparkContext)
      deps.size()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("iterative operators keep their pinned construction shuffle totals") {
    val regen = sys.env.get("SPARK_GRAFT_PIN_REGEN").contains("1")
    val dir = sf()
    val actual = EXPECTED.keysIterator.toSeq.sorted.map { name =>
      name -> countShuffleStages {
        Queries.asMap(name).build(spark, dir).collect()
      }
    }
    if (regen) {
      info("current construction shuffle totals (paste into EXPECTED):")
      actual.foreach { case (n, c) => info(s""""$n" -> $c,""") }
    } else {
      val bad = actual.collect {
        case (n, got) if got > EXPECTED(n) =>
          s"$n: expected <= ${EXPECTED(n)} construction shuffle stages, got $got"
      }
      assert(bad.isEmpty,
        s"${bad.size} construction-shuffle regressions (a lost co-partition " +
        s"inside an iteration loop doubles per-round shuffles without touching " +
        s"the final plan — or an intended restructuring: re-pin with " +
        s"SPARK_GRAFT_PIN_REGEN=1):\n${bad.mkString("\n")}")
    }
  }
}
