package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{AsOf, Bpe, Dedup, Ivm, Quantize, Sessionize, Stats}

/** Pinned counterexamples from the round-12 property-fuzz harness
  * (tools/fuzz_oracle.py): every case here reproduced a real Spark/
  * DuckDB divergence — or a crash — over seeded NULL / sign-flip /
  * non-BMP-unicode mutations of the generator tables. Each test
  * encodes the fixed CONTRACT, with the literal rows that broke it.
  */
class FuzzPinSpec extends SparkSpecBase {

  private def ts(s: String) = Timestamp.valueOf(s)

  // ---- TopKAgg: the fabricated-zero bug -------------------------------

  test("TopKAgg skips NULL ids and NULL scores instead of reading id 0") {
    import spark.implicits._
    // seed-1 text_bm25/q_topn_per_group: a NULL doc_id ranked as doc 0
    // because the primitive (Long, Double) input encoder reads NULL as 0
    val df = Seq[(String, java.lang.Long, java.lang.Double)](
      ("g", 7L, 1.0), ("g", null, 9.0), ("g", 3L, null), ("g", 5L, 2.0))
      .toDF("g", "id", "score")
    val top = df.groupBy("g")
      .agg(graft.functions.TopKAgg.topK(3)(col("id"), col("score")).as("t"))
      .select(explode(col("t"))).select(col("col._1").as("id"))
      .as[Long].collect().toSeq
    assert(top === Seq(5L, 7L), s"NULL id/score rows must not rank: $top")
  }

  // ---- BPE: non-BMP code points --------------------------------------

  test("BPE base symbols are code points, not UTF-16 chars") {
    // seed-2 text_bpe_encode: an emoji word encoded as two lone
    // surrogates ("? ?</w>") where DuckDB's per-character slicing sees
    // one symbol
    val word = "a😀b" // a 😀 b — 4 UTF-16 chars, 3 code points
    assert(Bpe.toSymbols(word) === Seq("a", "😀", "b</w>"))
    import spark.implicits._
    val docs = Seq((1L, "x 😀")).toDF("doc_id", "text")
    val out = Bpe.encode(docs, "doc_id", "text", merges = Seq.empty)
      .select(array_join(col("bpe_tokens"), " ")).as[String].collect()(0)
    assert(out === "x</w> 😀</w>",
      s"emoji must stay one symbol, got: $out")
    assert(!out.contains('�') && out.codePoints().toArray.forall(cp =>
      !Character.isSurrogate(cp.toChar) || Character.isSupplementaryCodePoint(cp)),
      "no lone surrogates in encoded output")
  }

  // ---- winnowing: NULL-id window mixing -------------------------------

  test("winnowFingerprints excludes NULL-id docs (no shared window partition)") {
    import spark.implicits._
    // seed-1 text_winnow: all NULL-id docs landed in ONE window
    // partition, so their sliding minima mixed hashes across documents
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "the quick brown fox jumps over it"),
      (null.asInstanceOf[java.lang.Long], "completely different text body one"),
      (null.asInstanceOf[java.lang.Long], "another unrelated document entirely"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 5, window = 8)
    assert(fps.filter(col("doc_id").isNull).count() === 0L,
      "fingerprints keyed by NULL must not exist")
    assert(fps.filter(col("doc_id") === 1L).count() > 0L)
  }

  test("chunkDedup: a NULL-id doc cannot own anyone's first occurrence") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (null.asInstanceOf[java.lang.Long], shared),
      (java.lang.Long.valueOf(5L), shared)).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 20)
    val r = out.filter(col("doc_id") === 5L).collect()(0)
    assert(r.getAs[Long]("n_kept") === 1L,
      "doc 5 keeps its chunk — the id-less doc is excluded, not an owner")
    assert(out.filter(col("doc_id").isNull).count() === 0L)
  }

  // ---- sessionization: NULL key/ts ------------------------------------

  test("assignSessions drops NULL key/ts rows (engine-stable numbering)") {
    import spark.implicits._
    // seed-1 q_sessionize: a NULL-ts event sorted FIRST in Spark and
    // LAST in DuckDB, shifting every later session id for that user
    val ev = Seq(
      (java.lang.Long.valueOf(1L), ts("2024-01-01 00:00:00")),
      (java.lang.Long.valueOf(1L), null.asInstanceOf[Timestamp]),
      (java.lang.Long.valueOf(1L), ts("2024-01-01 02:00:00")),
      (null.asInstanceOf[java.lang.Long], ts("2024-01-01 00:00:00")))
      .toDF("user_id", "ts")
    val s = Sessionize.sessions(ev, "user_id", "ts", 1800)
    assert(s.count() === 2L, "two sessions from the two timestamped events")
    assert(s.filter(col("user_id").isNull).count() === 0L)
    assert(s.agg(sum("n_events")).collect()(0).getLong(0) === 2L,
      "the NULL-ts and NULL-user events are excluded")
  }

  // ---- as-of: NULL time/key/tiebreak ----------------------------------

  test("latestPerKey ignores rows missing time, key, or tiebreak") {
    import spark.implicits._
    val df = Seq(
      (java.lang.Long.valueOf(1L), ts("2024-01-01 00:00:00"), java.lang.Long.valueOf(10L)),
      (java.lang.Long.valueOf(1L), null.asInstanceOf[Timestamp], java.lang.Long.valueOf(99L)),
      (java.lang.Long.valueOf(1L), ts("2024-01-02 00:00:00"), null.asInstanceOf[java.lang.Long]))
      .toDF("k", "t", "tie")
    val win = AsOf.latestPerKey(df, "t", Seq("k"), Seq("tie")).collect()
    assert(win.length === 1 && win(0).getLong(2) === 10L,
      "only the fully-keyed row can win")
  }

  test("asofJoin never matches a right row with NULL time") {
    import spark.implicits._
    // seed-1 q_asof_join: a NULL-ts click won the as-of window in Spark
    // (NULLS FIRST) while DuckDB's ts <= t predicate dropped it
    val purchases = Seq((100L, 1L, ts("2024-01-01 12:00:00")))
      .toDF("purchase_id", "user_id", "ts")
    val clicks = Seq(
      (java.lang.Long.valueOf(50L), java.lang.Long.valueOf(1L), null.asInstanceOf[Timestamp]),
      (java.lang.Long.valueOf(60L), java.lang.Long.valueOf(1L), ts("2024-01-01 11:00:00")))
      .toDF("click_id", "user_id", "click_ts")
    val j = AsOf.asofJoin(purchases, clicks, "user_id", "user_id", "ts", "click_ts",
      rightCols = Seq("click_id"), rightTiebreak = Seq("click_id")).collect()
    assert(j.length === 1 && j(0).getAs[Long]("click_id") === 60L)
  }

  // ---- A/B arms: sign-flipped ids -------------------------------------

  test("pmod arms: negative user ids do not create a third arm") {
    import spark.implicits._
    // seed-1 q_prop_ztest crashed: user_id % 2 of a sign-flipped id is
    // -1, and propZTest's exactly-2-arms require (correctly) threw
    val u = Seq((-3L, true), (-2L, false), (1L, true), (2L, false), (5L, false))
      .toDF("user_id", "converted")
    val r = Stats.propZTest(u, pmod(col("user_id"), lit(2L)), col("converted"))
      .collect()(0)
    assert(r.getAs[Long]("n0") + r.getAs[Long]("n1") === 5L)
  }

  // ---- IVM: NULL group keys --------------------------------------------

  test("IVM excludes NULL group keys (deletes can never reach them)") {
    import spark.implicits._
    // seed-1 q_ivm_refresh: the NULL-key group accumulated inserts while
    // deletes passed it by (full-outer merge joins never match NULL)
    val base = Seq(
      (java.lang.Long.valueOf(1L), 100L), (null.asInstanceOf[java.lang.Long], 50L))
      .toDF("k", "v")
    val state = Ivm.groupState(base, Seq("k"), "v")
    assert(state.filter(col("k").isNull).count() === 0L)
    val delta = Seq(
      (null.asInstanceOf[java.lang.Long], 50L, "D"),
      (java.lang.Long.valueOf(1L), 7L, "I")).toDF("k", "v", "__op")
    val after = Ivm.applyGroupDelta(state, delta, "__op", Seq("k"), "v").collect()
    assert(after.length === 1 && after(0).getAs[Long]("sum_v") === 107L)
  }

  // ---- quantize: NULL vector -------------------------------------------

  test("scalarQuantize emits no rows for a NULL vector") {
    import spark.implicits._
    // seed-1 sim_quantize: DuckDB's generate_series spine fabricated 64
    // code-127 rows for the NULL vector (least/greatest skip NULLs);
    // the contract is zero rows on both engines
    val df = Seq(
      (1L, Seq(0.5f, -1.0f)), (2L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val q = Quantize.scalarQuantize(df.filter(col("embedding").isNotNull),
      "vec_id", "embedding")
    assert(q.filter(col("vec_id") === 2L).count() === 0L)
    assert(q.filter(col("vec_id") === 1L).count() === 2L)
  }

  // ---- epoch seconds: floor, not truncate (r13) ------------------------

  test("epochSec floors pre-1970 fractional instants like DuckDB floor(epoch)") {
    import spark.implicits._
    // r13 seed-1 q_sessionize/q_scd2/q_range_frame/q_events_window:
    // Spark's unix_timestamp truncates toward zero (-17280898) where
    // every oracle's floor(epoch(ts)) floors (-17280899)
    val df = Seq(
      Timestamp.valueOf("1969-06-14 23:45:01.123456"),
      Timestamp.valueOf("2024-01-01 00:00:00.5")).toDF("ts")
    val got = df.select(graft.functions.TimeFunctions.epochSec(col("ts")))
      .as[Long].collect().toSeq
    assert(got === Seq(-17280899L, 1704067200L),
      s"floor semantics: $got (truncation would give -17280898)")
  }

  test("floorDiv floors and truncDiv truncates on negative epochs") {
    import spark.implicits._
    val df = Seq(-17280899L, 17280899L, -86400L).toDF("x")
    val got = df.select(
        graft.functions.TimeFunctions.floorDiv(col("x"), 86400L),
        graft.functions.TimeFunctions.truncDiv(col("x"), 86400L))
      .as[(Long, Long)].collect().toSeq
    // DuckDB: floor(x/86400) vs x // 86400 on the same inputs
    assert(got === Seq((-201L, -200L), (200L, 200L), (-1L, -1L)), got.toString)
  }

  // ---- embeddings: the finite-vector contract (r13) ---------------------

  test("non-finite vectors are unusable everywhere: dropped by allFinite, singletons in clustering") {
    import spark.implicits._
    // r13 seed-1: a NaN/±Inf element poisons norms, diverges NaN
    // ordering between engines, and (ANSI mode) makes the fixed-point
    // quantization cast throw — the contract treats such vectors like
    // NULL-element vectors
    val df = Seq(
      (1L, Seq(1.0f, 2.0f)),
      (2L, Seq(Float.NaN, 2.0f)),
      (3L, Seq(1.0f, Float.PositiveInfinity)),
      (4L, Seq(Float.NegativeInfinity, 1.0f))).toDF("vec_id", "embedding")
    val kept = df.filter(
        graft.functions.VectorFunctions.allFinite(col("embedding")))
      .select("vec_id").as[Long].collect().toSeq
    assert(kept === Seq(1L), s"only the finite vector survives: $kept")
    // clustering keeps the one-row-per-vector contract: non-finite
    // vectors come back as their own singleton clusters
    val clusters = graft.operators.Similarity
      .nearDupClusters(df, "vec_id", "embedding", dim = 2, planes = 2, tables = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.keySet === Set(1L, 2L, 3L, 4L))
    assert(Seq(2L, 3L, 4L).forall(id => clusters(id) === id),
      s"non-finite vectors must be singletons: $clusters")
  }

  // ---- ANSI cast poisoning (r13 batch-2) ------------------------------

  test("trend-test score derivation tolerates poisoned category strings") {
    import spark.implicits._
    // r13 seeds 2/3/7 q_trend_test: a mutated o_orderpriority of ""
    // (or any non-digit head) crashed Spark's ANSI string->BIGINT cast
    // while DuckDB's TRY_CAST returned NULL — "no spark output". The
    // contract is try_cast on BOTH engines: poisoned scores become
    // NULL and drop through the operator's listwise filter.
    val df = Seq(("1-URGENT", "F"), ("", "F"), (" junk", "O"),
      ("3-MEDIUM", "F"), ("5-LOW", "O"))
      .toDF("o_orderpriority", "o_orderstatus")
    val out = Stats.cochranArmitage(df,
        expr("try_cast(substring(o_orderpriority, 1, 1) AS BIGINT)"),
        col("o_orderstatus") === "F")
      .select("n", "k_levels").as[(Long, Long)].collect().head
    assert(out === ((3L, 3L)),
      s"poisoned rows must drop as NULL scores, not crash: $out")
  }

  // ---- r14 sf0.1 seed-14 classes --------------------------------------

  test("transitionMatrix breaks timestamp ties by event id") {
    import spark.implicits._
    // r14 seed-14 q_markov: two events at the SAME timestamp gave each
    // engine a different lead() successor — the pair set depended on
    // tie luck. With the (ts, event_id) total order the successor of
    // id 1 is id 2 ('b'), then 'c': exactly two transitions.
    val t0 = ts("2024-03-01 10:00:00")
    val df = Seq((7L, t0, 1L, "a"), (7L, t0, 2L, "b"),
      (7L, ts("2024-03-01 10:00:01"), 3L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = operators.Analytics.transitionMatrix(df, "user_id", "ts",
        "event_type", 1800)
      .select("from_type", "to_type").as[(String, String)].collect().toSet
    assert(out === Set(("a", "b"), ("b", "c")),
      s"tie order must be (ts, event_id): $out")
  }

  test("packByTokenBudget excludes NULL ids and NULL groups") {
    import spark.implicits._
    // r14 seed-14 q_pack_batches: a NULL doc_id inside the ORDER BY
    // tiebreak swapped batch assignments between engines (Spark sorts
    // NULLS FIRST ascending, DuckDB NULLS LAST)
    val df = Seq[(java.lang.Long, String, String)](
      (1L, "a b c", "s"), (null, "d e f", "s"), (2L, "g h", null))
      .toDF("doc_id", "text", "source")
    val out = operators.Pack.packByTokenBudget(df, "doc_id", "text",
      "source", budget = 4).select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L), s"NULL id/group rows must be excluded: $out")
  }

  test("n-gram surprisal sums are quantized, not a float avg") {
    import spark.implicits._
    // r14 seed-14 text_trigram_lm (and latently text_bigram_lm): a raw
    // avg() over per-occurrence doubles is aggregation-order-dependent
    // — 1-ulp drift at sf0.1 misaligned the comparator's sorted rows.
    // The quantized contract makes avg_nll a pure function of counts:
    // one repeated trigram, c123 = 2, ctx = 2, vsz = 3 →
    // nll_q = floor(-ln(3/5)·2²⁰) summed over 2 occurrences.
    val docs = Seq((1L, "x y z x y z")).toDF("doc_id", "text")
    val out = operators.TfIdf.trigramSurprisal(docs, "doc_id", "text")
      .select("n_trigrams", "avg_nll").as[(Long, Double)].collect().head
    val expected = {
      val q = math.floor(-math.log((2.0 + 1.0) / (2.0 + 3.0)) * 1048576)
      // doc has 4 trigrams: xyz, yzx, zxy, xyz — two distinct counts
      val q1 = math.floor(-math.log((1.0 + 1.0) / (1.0 + 3.0)) * 1048576)
      (2 * q + 2 * q1) / (4.0 * 1048576.0)
    }
    assert(out._1 === 4L && out._2 === expected,
      s"avg_nll must be the quantized closed form: $out vs $expected")
  }

  test("dhash oracle parity holds for NEGATIVE doc ids") {
    import spark.implicits._
    // r14 seed-14 dedup_phash: the synthetic pixel formula uses pmod
    // (non-negative) in Scala while the oracle's plain % kept the sign
    // on fuzz-injected negative ids — different gray ramps, different
    // hashes, 66 phantom pairs. Pin: a negative id's dhash equals the
    // pmod closed form the (fixed) oracle replays.
    val doc = Seq((-4428L, "img")).toDF("doc_id", "text")
    val hashed = operators.Multimodal.imageDHash(spark,
        operators.Multimodal.attachMediaPayload(doc, "doc_id", "text"))
      .select("dhash").as[Long].collect().head
    def pm(v: Long) = (((v % 256) + 256) % 256).toInt
    val gray = Array.tabulate(6, 8) { (y, x) =>
      (pm(-4428L * 31 + x * 7 + y * 13) + pm(-4428L * 31 + x * 7 + y * 13 + 101) +
        pm(-4428L * 31 + x * 7 + y * 13 + 202)) / 3
    }
    var expect = 0L
    for (y <- 0 until 6; x <- 0 until 7)
      if (gray(y)(x + 1) > gray(y)(x)) expect |= 1L << (y * 7 + x)
    assert(hashed === expect,
      s"negative-id dhash must match the pmod closed form: $hashed vs $expect")
  }

  test("IVM group state treats NULL values as additive zero") {
    import spark.implicits._
    // r14 seed-14 q_ivm_refresh: a group whose only surviving row had
    // a NULL value reported 0 from the state arithmetic but NULL from
    // the oracle's NULL-absorbing sum; the contract is coalesce(v, 0)
    // AT INGESTION (the state is an additive group), mirrored in SQL.
    val base = Seq[(Long, java.lang.Long)]((1L, null))
      .toDF("k", "v").select(col("k"), coalesce(col("v"), lit(0L)).as("v"))
    val st = operators.Ivm.groupState(base, Seq("k"), "v")
    val out = st.select("k", "sum_v", "n_rows")
      .as[(Long, Long, Long)].collect().head
    assert(out === ((1L, 0L, 1L)), s"NULL value must ingest as 0: $out")
  }

  test("ordinal band queries drop NULL quantity or price rows instead of banding them") {
    // seed-1 q_ordinal_assoc / q_weighted_kappa: least(9, NULL) is 9 in
    // Spark, so a NULL l_quantity counted in the top band where the
    // oracle's WHERE drops the row
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzz-pin").toString
    Tables.load(spark, sf(), "lineitem")
      .withColumn("l_quantity",
        when(col("l_orderkey") % 7 === 0, lit(null)).otherwise(col("l_quantity")))
      .write.parquet(s"$dir/lineitem.parquet")
    val present = Tables.load(spark, dir, "lineitem")
      .filter("l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL").count()
    assert(present < Tables.load(spark, dir, "lineitem").count())
    for (q <- Seq("q_ordinal_assoc", "q_weighted_kappa"))
      assert(SparkEntry.queries(q)(spark, dir).select("n").head().getLong(0) === present, q)
  }
}
