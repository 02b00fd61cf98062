package graft

import org.apache.spark.sql.functions._

/** Plan-shape audits: the queries must not only return correct rows,
  * they must compile to the plan you'd want at 100 TB — dimension
  * broadcasts, map-side partial aggregation, pushdown, top-k without a
  * global sort. Regressions here are performance bugs the row-level
  * oracle can't see.
  */
class PlanAuditSpec extends SparkSpecBase {

  private def plan(name: String): String =
    Queries.asMap(name).build(spark, sf()).queryExecution.executedPlan.toString

  test("q1_agg: two-phase hash aggregation (map-side partial combine)") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "aggregation must be partial + final, not single-phase")
  }

  test("q5_local_supplier: every dimension joins as broadcast") {
    val p = plan("q5_local_supplier")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "supplier/customer/nation/region must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no fact-side shuffle join should remain — the only big table is lineitem/orders")
  }

  test("q_graph_flagship: topk is TakeOrdered, join is broadcast") {
    val p = plan("q_graph_flagship")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q_filter_range: range predicate reaches the parquet scan") {
    val p = plan("q_filter_range")
    assert("PushedFilters: \\[[^\\]]*l_quantity".r.findFirstIn(p).isDefined,
      "the predicate must be inside the PushedFilters list, not just a residual Filter")
  }

  test("q_scan_projection: scan reads only the projected columns") {
    val p = plan("q_scan_projection")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"))
  }

  test("q_router_union: same-source children merge into a single scan") {
    val p = plan("q_router_union")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      "5 same-source router children must plan as ONE scan, not 5")
    assert(!p.contains("Union"),
      "merged children need no union branches")
  }

  test("router keeps separate scans for genuinely distinct sources") {
    import graft.qpu._
    // same table through two DIFFERENT source nodes (datastore driver vs
    // format-generic driver) — no merge, two scans, union still valid
    val r = RouterQpu(Seq(
      FilterQpu(DatastoreQpu(spark, sf(), "orders"), Seq(Eq("o_orderstatus", "F"))),
      FilterQpu(FormatSourceQpu(spark, "parquet", s"${sf()}/orders.parquet"),
        Seq(Eq("o_orderstatus", "O")))
    ))
    val p = r.toDF.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size === 2)
  }

  test("router merge preserves union-all multiplicity for overlapping predicates") {
    import graft.qpu._
    val lo = FilterQpu(DatastoreQpu(spark, sf(), "orders"), Seq(Range("o_custkey", 0L, 100L)))
    val hi = FilterQpu(DatastoreQpu(spark, sf(), "orders"), Seq(Range("o_custkey", 50L, 150L)))
    val merged = RouterQpu(Seq(lo, hi)).toDF.count()
    val unioned = lo.toDF.unionByName(hi.toDF).count()
    assert(merged === unioned, "rows matching two children must appear twice")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // At 100 TB these thresholds stay at their defaults (creation side
    // <= 10MB, application side >= 10GB scans) and Spark injects the
    // bloom filter on its own; on test data the thresholds are lowered
    // (and broadcast disabled to force the shuffle join the rule
    // targets) to prove the knob works end to end.
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val selective = Tables.load(spark, sf(), "orders")
        .filter(col("o_totalprice") > 500000.0)
      val li = Tables.load(spark, sf(), "lineitem")
      val p = li.join(selective, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        s"expected a runtime bloom filter on the fact side:\n${p.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sim_ann_topk: corpus is scanned, never shuffled (broadcast NLJ)") {
    val p = plan("sim_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"), "corpus x corpus cartesian would not scale")
  }

  test("dedup_chunks: first-occurrence selection is a combinable aggregate, not a window") {
    val p = plan("dedup_chunks")
    assert(!p.contains("Window"),
      "a row_number/min window would sort every hot chunk's occurrences in one task")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "min-owner must be partial + final hash aggregation")
  }

  test("q_domain_cap: bottom-k aggregation, no per-group window sort") {
    val p = plan("q_domain_cap")
    assert(!p.contains("Window"),
      "the cap must come from the combinable bottom-k aggregator, not row_number")
  }

  test("sim_ann_pq: codes computed in the native kernel inside the corpus scan") {
    val p = plan("sim_ann_pq")
    assert(p.contains("pq_codes"), "coding must run in the PqCodes kernel")
    assert(p.contains("pq_adc"), "ADC must run in the PqAdc kernel")
    assert(!p.contains("CartesianProduct"), "query x corpus must broadcast, not cartesian")
    assert(!p.toLowerCase.contains("lambdafunction"),
      "interpreted HOF lambdas in the PQ path are the 3.3s regression")
  }

  test("dedup_incremental: reference corpus is probed, not windowed or cartesian") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
    assert(p.contains("LeftSemi"), "exact-dup probe must be a semi join")
  }

  // ---- measured regression guards (QueryMetrics): these fail if a
  // scale invariant is undone, not just if the plan string drifts ----

  test("dedup_minhash: shuffle volume stays proportional to the input (selective salt)") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("dedup_minhash").build(spark, sf()).count()
    }
    // Selective salting's contract: cold buckets pass through with NO
    // replication, so total shuffle writes stay within a small factor
    // of the bytes scanned. Blanket 16x salt replication (the round-1
    // bug) pushed shuffle writes to >10x input and would trip this.
    assert(st.bytesRead > 0, "profile must observe the scan")
    assert(st.shuffleBytesWritten <= 6L * st.bytesRead,
      s"shuffle ${st.shuffleBytesWritten}B vs input ${st.bytesRead}B — " +
        "salt replication is no longer volume-proportional")
  }

  test("q_router_union: reads the source table's rows exactly once") {
    spark.catalog.clearCache()
    val expected = Tables.load(spark, sf(), "orders").count()
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("q_router_union").build(spark, sf()).count()
    }
    // 5 same-source children must cost ONE scan of orders — recordsRead
    // creeping toward a multiple of the table is the second-scan bug.
    assert(st.recordsRead <= expected + expected / 2,
      s"router read ${st.recordsRead} records for a $expected-row table — " +
        "children are scanning the source more than once")
  }

  test("dedup_cluster: 3 jumped rounds shuffle less than the old 5 plain rounds") {
    import graft.operators.Dedup
    val docs = Tables.load(spark, sf(), "documents")
    def shuffled(iters: Int, shortcut: Boolean): Long = {
      spark.catalog.clearCache()
      val (_, st) = QueryMetrics.profile(spark) {
        Dedup.minhashClusters(docs, "doc_id", "text", 2, 4, iters, shortcut).count()
      }
      st.shuffleBytesWritten
    }
    val current = shuffled(3, shortcut = true) // the shipped default
    val old5 = shuffled(5, shortcut = false) // round-2's configuration
    // The round-3 change's invariant: per-round pointer jumps let 3
    // rounds replace 5, and the label-sized jump shuffles must not eat
    // the savings from the dropped membership-sized rounds. Reverting
    // to more rounds (or jumping without dropping rounds) trips this.
    assert(current < old5,
      s"3 jumped rounds shuffled ${current}B, 5 plain rounds ${old5}B — " +
        "the round reduction no longer pays for the jump joins")
  }

  // The three round-4 heavies: their task-metric volumes are exactly
  // reproducible (the interleaved-load adjudication recorded in SURVEY
  // §8, round 5, measured identical byte signatures across runs; the
  // protocol is `graft.Measure adjudicate`), so the ceilings are
  // measured-at-sf0.001 + ~30% headroom — a reintroduced exchange,
  // window, or second winnow pass lands far above them.

  test("q_substring_clusters: winnow runs once, shuffles stay membership-sized") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("q_substring_clusters").build(spark, sf()).count()
    }
    // measured: shufW 3.20MB, bytesRead 7.85MB, records 87.6k. The r5
    // restructure pinned the winnow (it executed TWICE inside the
    // membership materialization: join side + df-count side) and
    // specialized the identity first round; undoing either inflates
    // input bytes / shuffle volume past these.
    assert(st.shuffleBytesWritten <= 4L * 1000 * 1000,
      s"shuffle ${st.shuffleBytesWritten}B — an extra membership-sized exchange crept in")
    assert(st.bytesRead <= 10L * 1000 * 1000,
      s"input ${st.bytesRead}B — the winnow lineage is executing more than once")
  }

  test("dedup_chunks: shuffle volume stays at the single-pin measured level") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("dedup_chunks").build(spark, sf()).count()
    }
    // measured: shufW 223KB — the owner aggregate + join on the pinned
    // occurrence frame; losing the pin or adding an exchange doubles it
    assert(st.shuffleBytesWritten <= 300L * 1000,
      s"shuffle ${st.shuffleBytesWritten}B — chunk dedup grew an exchange")
  }

  test("pipeline_corpus_v2: composed pipeline holds its measured shuffle budget") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("pipeline_corpus_v2").build(spark, sf()).count()
    }
    // measured: shufW 260KB across the whole composed pipeline
    assert(st.shuffleBytesWritten <= 340L * 1000,
      s"shuffle ${st.shuffleBytesWritten}B — the composed pipeline grew an exchange")
  }

  test("q_domain_mix: zero corpus shuffle — only the group-count exchange moves") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("q_domain_mix").build(spark, sf()).count()
    }
    // measured: shufW 587B (the group-cardinality count exchange),
    // records 1000 = counts scan + fact scan. A corpus-sized shuffle
    // (e.g. the join stopping to broadcast) or a second count scan
    // (totals falling out of the window form) lands far above.
    assert(st.shuffleBytesWritten <= 5L * 1000,
      s"shuffle ${st.shuffleBytesWritten}B — the mix should shuffle only group counts")
    assert(st.recordsRead <= 1200,
      s"${st.recordsRead} records read — the counts lineage is scanning twice")
  }

  test("q_token_budget: corpus is scored once, only bucket frames shuffle") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("q_token_budget").build(spark, sf()).count()
    }
    // measured: records 504 (ONE pass over the 500-doc corpus via the
    // pinned scored base + the bucket frame), shufW 9.7KB (pin +
    // per-bucket aggregate + the one boundary-bucket window exchange).
    // Losing the pin re-runs the scoring regex per consumer (3x
    // records); a global window would shuffle every scored row.
    assert(st.recordsRead <= 700,
      s"${st.recordsRead} records read — the scored base is being recomputed")
    assert(st.shuffleBytesWritten <= 15L * 1000,
      s"shuffle ${st.shuffleBytesWritten}B — more than bucket frames are moving")
  }

  test("dedup_jaccard: vocabulary probe reads a sample, not the corpus") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("dedup_jaccard").build(spark, sf()).count() // build runs the probe
    }
    // measured: 1500 records = 3 passes over the 500-doc corpus (the
    // bounded sample probe + the two join sides). The old corpus-wide
    // explode.distinct.limit(65) probe added a full extra pass — and at
    // 100 TB would hash-aggregate every token just to learn the
    // vocabulary is open.
    assert(st.recordsRead <= 1800,
      s"${st.recordsRead} records read — the vocab probe is scanning the corpus again")
  }

  test("q_kmv_distinct: ONE exchange, null filter pushed to the scan") {
    val plan = Queries.asMap("q_kmv_distinct").build(spark, sf())
      .queryExecution.executedPlan.toString
    // the KMinAgg contract: partial aggregation reduces every partition
    // to <= k minima BEFORE the shuffle — a second exchange (or a
    // distinct+window rewrite) means someone broke the map-side combine
    assert(plan.split("Exchange").length - 1 === 1,
      s"expected exactly one Exchange, got:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(user_id)]"),
      s"null filter must reach the parquet scan:\n$plan")
  }

  // the round-5 delivery/mixing queries: measured byte/record budgets
  // (toRdd.count() — a plain count() would let Catalyst prune the very
  // windows and payloads under audit) with ~40% headroom

  test("q_epoch_shuffle: one corpus pass, only the shard exchange moves") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("q_epoch_shuffle").build(spark, sf())
        .queryExecution.toRdd.count()
    }
    // measured: records 500 (one scan), shufW 8.3KB — the single
    // shard-partitioned (id, hash) exchange feeding the position sort.
    // A global orderBy (range exchange + a second pass) lands far above.
    assert(st.recordsRead <= 600,
      s"${st.recordsRead} records read — the corpus is scanned twice")
    assert(st.shuffleBytesWritten <= 12L * 1000,
      s"shuffle ${st.shuffleBytesWritten}B — more than the shard exchange is moving")
  }

  test("q_chunk_windows: pure per-row chunking — zero shuffle") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("q_chunk_windows").build(spark, sf())
        .queryExecution.toRdd.count()
    }
    // measured: records 500, shufW 0 — split/sequence/slice/posexplode
    // are all map-side. ANY exchange here is a regression.
    assert(st.shuffleBytesWritten === 0L,
      s"shuffle ${st.shuffleBytesWritten}B — sliding windows must not shuffle")
    assert(st.recordsRead <= 600,
      s"${st.recordsRead} records read — the corpus is scanned twice")
  }

  test("q_quantile_cut: corpus scored once, only bucket frames shuffle") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("q_quantile_cut").build(spark, sf())
        .queryExecution.toRdd.count()
    }
    // measured: records 504 (the pinned scored base + bucket frame),
    // shufW 12.3KB (pin + per-(group,bucket) aggregate + the boundary
    // rank). Losing the pin re-runs the scoring regex per consumer; a
    // per-group global window would shuffle every scored row.
    assert(st.recordsRead <= 700,
      s"${st.recordsRead} records read — the scored base is being recomputed")
    assert(st.shuffleBytesWritten <= 18L * 1000,
      s"shuffle ${st.shuffleBytesWritten}B — more than bucket frames are moving")
  }

  test("q_upsample_mix: zero corpus shuffle — only group counts move") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("q_upsample_mix").build(spark, sf())
        .queryExecution.toRdd.count()
    }
    // measured: records 1000 = counts scan + fact scan (the
    // q_domain_mix shape), shufW 386B — the group-cardinality count
    // exchange. The repetition explode itself is map-side.
    assert(st.recordsRead <= 1200,
      s"${st.recordsRead} records read — the counts lineage is scanning twice")
    assert(st.shuffleBytesWritten <= 5L * 1000,
      s"shuffle ${st.shuffleBytesWritten}B — the mix should shuffle only group counts")
  }

  test("q_shard_manifest: one scan, only partial shard digests shuffle") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("q_shard_manifest").build(spark, sf())
        .queryExecution.toRdd.count()
    }
    // measured: records 500 (one scan), shufW 561B — the partial
    // (shard, count, xor) rows, ≤numShards per task. A manifest that
    // shuffled row digests instead of combined ones lands in the MBs.
    assert(st.recordsRead <= 600,
      s"${st.recordsRead} records read — the corpus is scanned twice")
    assert(st.shuffleBytesWritten <= 2L * 1000,
      s"shuffle ${st.shuffleBytesWritten}B — XOR must combine map-side; " +
        "only numShards partial rows per task may move")
  }

  test("q_exact_sample: one pinned hash pass, only the bucket frame and boundary rank shuffle") {
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("q_exact_sample").build(spark, sf())
        .queryExecution.toRdd.count()
    }
    // measured: records 503 (the pinned hash pass + bucket frame),
    // shufW 14.3KB (pin + per-bucket counts + the boundary rank). A
    // global bottom-k sort would move every hashed row.
    assert(st.recordsRead <= 700,
      s"${st.recordsRead} records read — the hashed base is being recomputed")
    assert(st.shuffleBytesWritten <= 20L * 1000,
      s"shuffle ${st.shuffleBytesWritten}B — more than the bucket frame " +
        "and one boundary bucket is moving")
  }

  test("sim_hard_negatives: queries broadcast, corpus never shuffles, top-k combines") {
    val p = plan("sim_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the label-excluded query set must broadcast against one corpus scan")
    spark.catalog.clearCache()
    val (_, st) = QueryMetrics.profile(spark) {
      Queries.asMap("sim_hard_negatives").build(spark, sf())
        .queryExecution.toRdd.count()
    }
    // measured: records 1000 (query scan + corpus scan of the same
    // table), shufW 1.1KB — per-partition top-k survivors only; the
    // queries × corpus scored product itself never moves.
    assert(st.recordsRead <= 1200,
      s"${st.recordsRead} records read — a side is being scanned twice")
    assert(st.shuffleBytesWritten <= 5L * 1000,
      s"shuffle ${st.shuffleBytesWritten}B — more than per-partition " +
        "top-k survivors are moving (the scored cross product must not shuffle)")
  }

  test("text_bm25: stats broadcast onto one tf aggregation, top-k combines without a window") {
    val p = plan("text_bm25")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "the query-term set and the vocabulary-sized df table must both broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus-sized tf table must never shuffle-join")
    assert(!p.contains("WindowExec"),
      "per-query ranking must be the combinable TopKAgg, not a window sort")
  }

  test("text_classifier / text_dsir: weight tables broadcast, corpus never self-joins") {
    Seq("text_classifier", "text_dsir").foreach { n =>
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"),
        s"$n: the bounded weight/ratio table must broadcast onto the feature stream")
      assert(!p.contains("SortMergeJoin"), s"$n: no corpus-sized shuffle join")
      assert(!p.contains("CartesianProduct"), s"$n: no cartesian")
    }
  }

  test("partition-less Windows appear ONLY in the declared bounded-frame allowlist") {
    // Every intentionally-global window in the library runs over a
    // frame bounded by CONSTRUCTION, never the corpus: vocabTopN ranks
    // the ≤topN survivors of a limit; the sampling/selection operators
    // cumulate over a ≤buckets or group-cardinality frame. Constant
    // partition keys (lit(0), col*0 on non-nullable columns) are
    // stripped by the optimizer's foldable-partition elimination, so
    // the declaration lives HERE: any query outside this allowlist
    // that plans a partition-less Window is an unbounded global sort
    // in disguise and fails the build. GraftLogging downgrades
    // WindowExec's no-partition warning on the strength of this
    // assert.
    val allow = Set(
      "text_vocab",      // vocabTopN: rank over ≤topN rows post-limit
      "q_domain_mix",    // temperatureMix: totals over group-cardinality frame
      "q_token_budget",  // tokenBudget: cumsum over ≤buckets frame
      "q_exact_sample",  // exactKSample: cumsum over ≤buckets frame
      "q_upsample_mix",  // upsampleMix: max over group-cardinality frame
      "q_auc",           // rocAuc: prefixSums window path — GATED, the
                         //   count-dispatched window never sees more than
                         //   spark.graft.tally.windowMax rows (Round15OptSpec
                         //   pins the distributed fallback's equality)
      // r12 additions, each bounded or documented:
      "q_spearman",      // rank maps via prefixSums — gated (see q_auc)
      "q_bootstrap",     // rank over B=32 replicate means
      "q_survival",      // product-limit over the distinct-lifetime table (≤ day span)
      "q_rfm",           // exactNtile's rank via prefixSums — gated (see q_auc);
                         //   both paths pinned equal to Spark's ntile in NtileSpec
      "q_lorenz",        // same exactNtile (NtileSpec)
      "q_decay_popularity", // top-50 rank over item-cardinality scores
      "text_burstiness", // top-30 rank over vocabulary-cardinality totals
      // r13 additions, both bounded:
      "q_kruskal",       // rank cumsum via prefixSums — gated (see q_auc)
      "q_log_rank",      // cumulative risk over the ≤day-span lifetime table (survival's frame)
      // r13 batch 2, each bounded:
      "q_wilcoxon",      // rank cumsum via prefixSums — gated (see q_auc)
      "q_pr_auc",        // rank + positive prefix via prefixSums — gated (see q_auc)
      "q_lift",          // exactNtile (NtileSpec) + cumsum over k=10 tile rows
      // r14 additions, both bounded:
      "q_page_trend",    // hypothesized-order rank over k treatment rows
      "q_mood_median",   // globalLowerMedian via prefixSums — gated (see q_auc)
      // r14 wave 2/3, each bounded:
      "q_embeddedness",  // rank over ≤topK rows AFTER the distributed
                         //   TakeOrdered limit — the window never sees the edge table
      "q_curriculum",    // grp_index rank over the distinct-GROUP dim (source cardinality)
      "q_ansari",        // position cumsum via prefixSums — gated (see q_auc)
      "q_rbo")           // rank over ≤k rows post-limit, twice (vocabTopN's shape)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = Queries.registry.flatMap { case (name, q) =>
      val df = q.build(spark, sf())
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => name
      }
    }.distinct
    val outside = offenders.filterNot(allow)
    assert(outside.isEmpty,
      s"partition-less Window OUTSIDE the bounded-frame allowlist: ${outside.mkString(", ")}")
  }

  test("no query plans a CartesianProduct (broadcast NLJ one-row scalars are the allowed cross form)") {
    // registry-wide: a CartesianProductExec is the quadratic-blowup
    // physical join — if any query's predicates degrade to one (a
    // non-equi self-join losing its equality conjunct, a cross join
    // whose one-row side stopped broadcasting), this catches it before
    // the bench does. BroadcastNestedLoopJoin stays allowed: that is
    // how intentional one-row scalar crossJoins compile.
    val offenders = Queries.registry.flatMap { case (name, q) =>
      val p = q.build(spark, sf()).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  test("text_heavy_hitters: candidate confirm joins as broadcast over a pinned single scan") {
    val p = plan("text_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      "the ≤k candidate set must broadcast into the exact re-count, never shuffle the token stream")
    assert(p.contains("InMemoryTableScan"),
      "the token explode must be pinned — sketch and confirm pass share one tokenization")
  }

  test("sim_mmr_rerank: similarity arithmetic stays in the codegen IntDotQ20 kernel") {
    val p = plan("sim_mmr_rerank")
    assert(p.contains("int_dot_q20"),
      "relevance/pairwise dots must run in the native kernel, not interpreted HOFs")
    assert(!p.contains("zip_with") && !p.contains("aggregate(zip_with"),
      "no interpreted zip_with chain may remain on the similarity path")
  }

  test("q_triangles: wedge apex salt and blocked-bloom prune are in the plan") {
    val p = plan("q_triangles")
    assert(p.contains("__salt"),
      "selective apex salt missing — a residual hub would concentrate d² wedge work")
    assert(p.contains("bit_or"),
      "blocked-bloom wedge prune missing — the full wedge set would shuffle into the close join")
    assert(p.contains("BroadcastHashJoin"),
      "the bloom frame (≤bloomWords rows by construction) must broadcast")
  }

  test("q6_forecast_revenue: every pushable predicate reaches the parquet scan") {
    val p = plan("q6_forecast_revenue")
    assert("PushedFilters: \\[[^\\]]*l_quantity".r.findFirstIn(p).isDefined,
      "quantity bound must be in PushedFilters, not a residual Filter")
    assert("PushedFilters: \\[[^\\]]*l_discount".r.findFirstIn(p).isDefined,
      "discount band must be in PushedFilters")
  }

  test("q7_nation_volume: pair filters prune BOTH dimension scans; supplier broadcasts") {
    val p = plan("q7_nation_volume")
    assert(p.contains("BroadcastHashJoin"), "supplier must broadcast into the fact scan")
    assert("PushedFilters: \\[[^\\]]*s_nationkey".r.findFirstIn(p).isDefined,
      "supplier nation restriction must reach the supplier scan")
    assert("PushedFilters: \\[[^\\]]*c_nationkey".r.findFirstIn(p).isDefined,
      "customer nation restriction must reach the customer scan — at 100 TB the " +
        "pair filter is the difference between scanning 2 nations and scanning 25")
  }

  test("q_source_overlap: sketch stage partial-aggregates, pair stage is a broadcast NLJ") {
    val p = plan("q_source_overlap")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "KMinAgg must run partial + final — the shuffle carries groups×k longs, " +
        "never the corpus gram stream")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the inequality pair join runs over group-cardinality sketch rows and must broadcast")
  }

  test("text_bpe_encode: the encode kernel is one pass — zero shuffle") {
    val p = plan("text_bpe_encode")
    assert(!p.contains("Exchange"),
      "BPE encode is word-internal: any Exchange means the corpus map leaked a shuffle")
    assert(p.contains("MapPartitions"),
      "encode must run as the mapPartitions kernel, not an udf projection")
  }

  test("q_ivm_refresh: delta aggregates BEFORE the state merge; merge is one keyed join") {
    val p = plan("q_ivm_refresh")
    assert(p.contains("FullOuter"),
      "state × delta merge must be the full-outer key join (new keys appear, dead keys drop)")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "the delta must collapse to per-key (Δsum, Δn) with partial aggregation " +
        "before any join — merging raw CDC rows into the state would shuffle the delta twice")
  }
}
