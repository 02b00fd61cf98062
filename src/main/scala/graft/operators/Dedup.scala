package graft.operators

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline, in
  * increasing fuzziness: exact hash → normalized fingerprint →
  * bucketed Jaccard → MinHash+LSH → SimHash.
  *
  * Scale design: nothing here ever does an all-pairs comparison.
  * Candidate generation is always a shuffle keyed by a bucket (content
  * hash, LSH band, simhash chunk), so the only quadratic work happens
  * inside buckets whose size the banding parameters bound. All hashes
  * are md5-derived (HashFunctions) → engine-portable and oracle-checkable.
  */
object Dedup {

  /** Exact dedup: group by content hash, elect the smallest id as
    * canonical. One map-side-combined shuffle on the hash.
    *
    * NULL text hashes to NULL, and groupBy (like SQL GROUP BY — the
    * oracle does the same) collects ALL null-text docs into one group;
    * callers electing canonicals should filter nulls first if "no
    * content" must not read as "same content".
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(HashFunctions.contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_cnt"))

  /** Fingerprint dedup: as exact, but on the normalized fingerprint
    * (lower-case, whitespace-collapsed) so trivial edits collapse.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("dup_cnt"))

  /** Fan a narrow input out to the session's parallelism before
    * CPU-heavy per-row work (md5 signatures, shingling). A small
    * parquet file arrives as ONE partition (row-group granularity —
    * `maxPartitionBytes` cannot split inside a row group), which
    * serializes the whole signature stage onto one core; at real scale
    * the input is already wide and this is a no-op.
    *
    * The narrowness probe is METADATA-ONLY — optimizer statistics
    * (file sizes), never `.rdd`/partition counts, which under AQE
    * would eagerly materialize upstream stages just to count
    * partitions and then run them again for the real job. Inputs whose
    * estimated size cannot feed ~8 MB to every core are repartitioned;
    * anything bigger keeps its layout.
    */
  private[operators] def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val smallInput =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes <
        BigInt(target.toLong * 8L * 1024 * 1024)
      catch { case _: Throwable => false }
    if (smallInput) df.repartition(target) else df
  }

  // most-recent internal cache pins from the self-join/clustering
  // operators; bounded so repeated invocations in one session cannot
  // grow storage unbounded
  private val recentPins = new java.util.ArrayDeque[DataFrame]()
  private val maxPins = 4

  private[graft] def registerPin(df: DataFrame): DataFrame = recentPins.synchronized {
    // a frame that is already cached (ConnectedComponents' labels) is
    // only registered: a second persist is a wasted cache lookup that
    // Spark answers with "Asked to cache already cached data"
    val p =
      if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
      else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    recentPins.addLast(p)
    while (recentPins.size > maxPins)
      recentPins.removeFirst().unpersist(blocking = false)
    p
  }

  // static-side frames of RUNNING streaming queries. Deliberately NOT
  // the eviction LRU above: four later batch registrations would
  // unpersist a live stream's static frame and silently revert it to
  // per-trigger recompute for the stream's remaining lifetime. These
  // are few (one per started probe), caller-scoped, and released only
  // by releasePins() or session stop.
  private val streamPins = new java.util.ArrayDeque[DataFrame]()

  private[graft] def registerStreamPin(df: DataFrame): DataFrame =
    streamPins.synchronized {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      streamPins.addLast(p)
      p
    }

  /** Drop every internal cache pin registered by the salted self-join
    * operators, and every streaming static-side pin. The batch pins
    * are LRU-bounded (at most [[maxPins]] corpus-sized frames), but a
    * long-lived session that is done with dedup work should release
    * them eagerly rather than wait for later invocations (or
    * storage-memory pressure) to evict them — the batch-job analogue
    * of [[shinglePairsReleasable]]'s handle. Call only after the
    * streams using [[registerStreamPin]]ned frames have stopped.
    */
  def releasePins(): Unit = {
    recentPins.synchronized {
      while (!recentPins.isEmpty)
        recentPins.removeFirst().unpersist(blocking = false)
    }
    streamPins.synchronized {
      while (!streamPins.isEmpty)
        streamPins.removeFirst().unpersist(blocking = false)
    }
  }

  private final case class PairScorer(repr: DataFrame,
                                       inter: (Column, Column) => Column,
                                       union: (Column, Column) => Column,
                                       setSize: Column => Column)

  /** Adaptive token-set representation for pair scoring. If the corpus
    * vocabulary fits in 64 symbols (common after normalization in
    * domain-sharded corpora; always true for the synthetic tables),
    * each set becomes ONE long bitmask and pair scoring collapses to
    * `bit_count(a & b)` / `bit_count(a | b)` — O(1) per pair instead of
    * hash-set intersection, which is the difference between the
    * confirm stage being free vs dominant in a multi-million-pair
    * join. Falls back to array intersection for open vocabularies.
    * Results are identical either way (exact set algebra). NULL token
    * sets must be filtered by the CALLER before the bitmask path: they
    * fold to repr = 0 (an "empty set"), not NULL.
    */
  private def pairScorer(df: DataFrame /* id, toks, ... */,
                         assumeOpenVocab: Boolean = false): PairScorer = {
    // Two-stage probe: a naive corpus-wide `explode.distinct.limit(65)`
    // collects 65 strings but the JOB behind it hash-aggregates every
    // token of every document before limit fires — a corpus-sized scan
    // at 100 TB just to learn the answer is "open vocabulary". Probe a
    // 1000-row sample first: >64 distinct tokens there settles open
    // vocab for free (a superset can only have more); only a closed-
    // looking sample — where the bitmask payoff is plausible — pays
    // the full confirming probe, which stays required for correctness
    // (a sample alone could miss vocabulary and corrupt the masks).
    val vocab: Option[Array[String]] =
      if (assumeOpenVocab) None // skip both probe jobs
      else {
        val sample = df.limit(1000).select(explode(col("toks")).as("w"))
          .distinct().limit(65).collect().map(_.getString(0))
        if (sample.length > 64) None
        else Some(df.select(explode(col("toks")).as("w")).distinct()
          .limit(65).collect().map(_.getString(0)))
      }
    if (vocab.exists(_.length <= 64)) {
      val vocabArr = vocab.get
      val mask = (0 until vocabArr.length).map(j =>
        when(array_contains(col("toks"), vocabArr(j)), lit(1L << j)).otherwise(lit(0L)))
        .reduceOption(_.bitwiseOR(_)).getOrElse(lit(0L))
      PairScorer(df.withColumn("repr", mask).drop("toks"),
        (a, b) => call_function("bit_count", a.bitwiseAND(b)).cast("int"),
        (a, b) => call_function("bit_count", a.bitwiseOR(b)).cast("int"),
        a => call_function("bit_count", a).cast("int"))
    } else {
      // Open vocabulary: sorted 64-bit hash arrays + native merge loop
      // (graft.plans.SortedIntersectCount). 64-bit collisions within a
      // compared pair (~|set|^2 / 2^65) are negligible.
      PairScorer(df.withColumn("repr",
          sort_array(array_distinct(transform(col("toks"), w => xxhash64(w))))).drop("toks"),
        (a, b) => graft.plans.SortedIntersectCount(a, b),
        (a, b) => size(a) + size(b) - graft.plans.SortedIntersectCount(a, b),
        a => size(a))
    }
  }

  /** Word-set Jaccard near-dup pairs within a pre-existing bucket
    * column (e.g. source/domain). Emits integer intersection/union
    * sizes; `jaccard >= num/den` is checked as exact integer math
    * (`inter*den >= union*num`). The bucket join is a shuffle on
    * `bucketCol`; pairs only form inside buckets.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   bucketCol: String, num: Int, den: Int): DataFrame = {
    // NULL text → NULL token set, which the bitmask repr would fold to
    // "empty set" (repr 0) and emit 0/0-Jaccard pseudo-pairs the SQL
    // oracle (where NULL never joins) does not — drop them up front,
    // matching minhashDedup's policy
    val t = fanOut(df).select(col(idCol).as("id"), col(bucketCol).as("bucket"),
      TextFunctions.tokenSet(col(textCol)).as("toks"))
      .filter(col("toks").isNotNull)
    val ps = pairScorer(t)
    val a = ps.repr.as("a"); val b = ps.repr.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id") &&
        sizeRatioPrefilter(ps, num, den))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        ps.inter(col("a.repr"), col("b.repr")).as("inter_size"),
        ps.union(col("a.repr"), col("b.repr")).as("union_size"))
      .filter(col("inter_size") * den >= col("union_size") * num)
  }

  /** DIRECTIONAL containment pairs: (doc_sub, doc_super) where
    * `|sub ∩ super| / |sub| >= num/den` within a bucket column —
    * quote/subset detection, which symmetric Jaccard structurally
    * misses (a tweet quoted inside an article has tiny Jaccard but
    * containment ~1). Emits both directions when both hold; integer
    * math only. The join-condition short-circuit mirrors
    * [[sizeRatioPrefilter]]: `|super|*den >= |sub|*num` is implied by
    * the containment threshold (`|super| >= |inter|`), so undersized
    * supersets die before the per-pair intersect kernel runs.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       bucketCol: String, num: Int, den: Int): DataFrame = {
    // NULL token sets dropped for the same reason as jaccardPairs: a
    // repr-0 row has sub_size 0 and would be "contained" in everything
    val t = fanOut(df).select(col(idCol).as("id"), col(bucketCol).as("bucket"),
      TextFunctions.tokenSet(col(textCol)).as("toks"))
      .filter(col("toks").isNotNull)
    val ps = pairScorer(t)
    val a = ps.repr.as("a"); val b = ps.repr.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") =!= col("b.id") &&
        ps.setSize(col("b.repr")) * den >= ps.setSize(col("a.repr")) * num)
      .select(col("a.id").as("doc_sub"), col("b.id").as("doc_super"),
        ps.inter(col("a.repr"), col("b.repr")).as("inter_size"),
        ps.setSize(col("a.repr")).as("sub_size"))
      .filter(col("inter_size") * den >= col("sub_size") * num)
  }

  /** Jaccard >= num/den implies min(|A|,|B|)*den >= max(|A|,|B|)*num
    * (|A∩B| <= min, |A∪B| >= max). Checking the sizes inside the join
    * condition kills size-mismatched pairs BEFORE the per-pair
    * intersect kernel runs; the exact filter downstream is unchanged,
    * so this is purely a short-circuit (result-identical).
    */
  private def sizeRatioPrefilter(ps: PairScorer, num: Int, den: Int): Column = {
    val sa = ps.setSize(col("a.repr")); val sb = ps.setSize(col("b.repr"))
    least(sa, sb) * den >= greatest(sa, sb) * num
  }

  /** Character-k-shingle Jaccard near-dup pairs within composite
    * buckets — the n-gram flavor of [[jaccardPairs]] (robust to
    * word-boundary edits). Shingle vocabularies are open, so scoring
    * uses the array path of [[pairScorer]].
    */
  def shinglePairs(df: DataFrame, idCol: String, textCol: String,
                   bucketCols: Seq[String], k: Int,
                   num: Int, den: Int,
                   bands: Int = 4, rowsPerBand: Int = 2): DataFrame =
    shinglePairsReleasable(df, idCol, textCol, bucketCols, k, num, den,
      bands, rowsPerBand)._1

  /** [[shinglePairs]] plus the deterministic cleanup handle.
    *
    * Candidate generation is a SECOND LSH level, not bucket membership
    * alone: minhash signatures over the shingle sets are banded
    * (`bands`×`rowsPerBand`) inside each composite bucket, so a huge
    * (source, lang) bucket no longer implies a quadratic within-bucket
    * join — candidates are pairs agreeing on a full band of shingle
    * minhashes, exactly like [[minhashDedup]]'s word-level banding,
    * and the hot-band self-join is selectively salted. The default
    * 4×2 banding catches a Jaccard-0.7 pair with p ≈ 0.93 (0.9987 at
    * J = 0.9); the external oracle replays the identical banding so
    * the recall contract is part of the replayed semantics. Empty
    * shingle sets (text shorter than `k`) are dropped: their Jaccard
    * is 0/0 and their all-NULL signatures would otherwise collide
    * into one band clique the SQL replay never emits.
    *
    * The banded+scored representation is pinned for the duration of
    * the self-join; `release()` drops that pin once the caller has
    * consumed the pairs. Long-lived sessions running many corpora
    * should use this variant and call `release()` between runs — the
    * plain [[shinglePairs]] leaves the pin to the bounded internal
    * LRU ([[releasePins]] drops those eagerly).
    */
  def shinglePairsReleasable(df: DataFrame, idCol: String, textCol: String,
                             bucketCols: Seq[String], k: Int,
                             num: Int, den: Int,
                             bands: Int = 4, rowsPerBand: Int = 2): (DataFrame, () => Unit) = {
    val t = fanOut(df).select((col(idCol).as("id") +: bucketCols.map(col)) :+
      TextFunctions.charShingles(col(textCol), k).as("toks"): _*)
      .filter(size(col("toks")) > 0)
    // char shingles are open-vocabulary by construction — don't pay the
    // ≤64-symbol probe job. Signatures and the scoring repr are
    // computed ROW-WISE in one projection pipeline (withMinhashSignature
    // then pairScorer) — joining two derivations of `t` back together
    // on id would shuffle the whole corpus and run the shingling
    // lineage once per side.
    val ps = pairScorer(withMinhashSignature(t, bands * rowsPerBand),
      assumeOpenVocab = true)
    val bandKeys = bandKeyStructs(bands, rowsPerBand)
    val exploded = ps.repr
      .select((col("id") +: col("repr") +: bucketCols.map(col)) :+
        explode(array(bandKeys: _*)).as("bk"): _*)
      .select((col("id") +: col("repr") +: bucketCols.map(col)) :+
        col("bk.band").as("band") :+ col("bk.sig").as("sig"): _*)
    // registerPin: the pin ALSO lands in the bounded LRU, so the plain
    // shinglePairs wrapper (which discards the release handle) cannot
    // leak it — release() just drops it earlier (double-unpersist is a
    // no-op)
    val pinned = registerPin(exploded)
    val pairs = saltedSelfJoin(pinned, bucketCols ++ Seq("band", "sig"),
        pinInput = false)
      .filter(sizeRatioPrefilter(ps, num, den))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        ps.inter(col("a.repr"), col("b.repr")).as("inter_size"),
        ps.union(col("a.repr"), col("b.repr")).as("union_size"))
      .filter(col("inter_size") * den >= col("union_size") * num)
      .distinct()
    (pairs, () => { pinned.unpersist(); () })
  }

  /** MinHash signature: `numHashes` independent md5-derived hash
    * families, min over the distinct-token set.
    */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int): DataFrame =
    minhashSignatureFromTokens(
      df.select(col(idCol).as("id"), TextFunctions.tokenSet(col(textCol)).as("toks")),
      numHashes)

  /** Signature from an already-tokenized (id, toks) frame — avoids
    * re-tokenizing when the caller needs the token sets anyway.
    *
    * One md5 per token (Kirsch–Mitzenmacher pairs, materialized in
    * their own projection so CollapseProject can't inline the digest
    * into every seed's expression), then `numHashes` cheap arithmetic
    * mins over the pair array.
    */
  def minhashSignatureFromTokens(toks: DataFrame, numHashes: Int): DataFrame =
    withMinhashSignature(toks, numHashes)
      .select(col("id") +: (0 until numHashes).map(i => col(s"m$i")): _*)

  /** Append `m0..m{n-1}` minhash columns row-wise to any frame carrying
    * a `toks` array column, preserving every other column. Callers that
    * need both the signatures and the token sets (or other payload
    * columns like a match prefix) get everything in ONE narrow
    * projection pipeline — the previous shape joined two derivations
    * of the same frame back together on id, which paid a corpus-wide
    * shuffle AND ran the tokenization lineage once per join side.
    */
  private[graft] def withMinhashSignature(df: DataFrame, numHashes: Int): DataFrame = {
    // the whole signature runs in the native MinhashSig kernel: ONE
    // md5 digest per token (Kirsch–Mitzenmacher family) and all
    // numHashes minima in a single fused loop, no per-token hex
    // strings or intermediate pair array. Bit-identical to the
    // interpreted chain transform(kmHashPair) + numHashes×array_min
    // (MinhashKernelSpec proves it on the corpus), so every DuckDB
    // oracle replays unchanged.
    val withSig = df.withColumn("__sig",
      graft.plans.MinhashSig(col("toks"), numHashes))
    withSig.select(df.columns.map(col) ++
      (0 until numHashes).map(i => element_at(col("__sig"), i + 1).as(s"m$i")): _*)
  }

  /** Banded LSH keys over an already-computed minhash signature frame:
    * one `(band, sig)` struct per band, where `sig` is the 8-byte
    * xxhash64 of the band's minhashes (smaller shuffle than a
    * concatenated string key; any downstream confirm step squashes the
    * ~2^-64 collision risk).
    */
  private def bandKeyStructs(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { bnd =>
      val parts = (0 until rowsPerBand).map(r => col(s"m${bnd * rowsPerBand + r}"))
      struct(lit(bnd).as("band"), xxhash64(parts: _*).as("sig"))
    }

  /** MinHash + banded LSH + exact-Jaccard confirmation.
    *
    * Candidates: ids sharing all `rowsPerBand` minhashes of at least
    * one band (shuffle keyed by (band, band-signature) — never
    * all-pairs). Confirmation: true word-set Jaccard >= num/den on the
    * candidates only (standard LSH-then-verify; with a small vocab the
    * candidate set alone is meaninglessly dense).
    *
    * Output: (doc_a, doc_b, inter_size, union_size) — integers only.
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   bands: Int, rowsPerBand: Int,
                   num: Int, den: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    // NULL text → NULL token set → NULL minhashes; xxhash64 would give
    // every such doc ONE shared band key (an n² clique the SQL oracle,
    // where NULL = NULL is NULL, never emits) — drop them up front
    val toks = fanOut(df).select(col(idCol).as("id"),
      TextFunctions.tokenSet(col(textCol)).as("toks"))
      .filter(col("toks").isNotNull)
    // signatures + scoring repr row-wise in one pipeline (no id join)
    val ps = pairScorer(withMinhashSignature(toks, numHashes))
    val bandKeys = bandKeyStructs(bands, rowsPerBand)
    val exploded = ps.repr.select(col("id"), col("repr"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("id"), col("repr"), col("bk.band").as("band"), col("bk.sig").as("sig"))
    // Score inside the band join (cheap with the bitmask repr) and
    // filter BEFORE the distinct, so the dedup shuffle only carries
    // confirmed near-dup pairs — candidates that fail the Jaccard
    // threshold (the vast majority) die in the same codegen stage that
    // produced them. The self-join is salted (saltedSelfJoin) because a
    // popular band signature otherwise serializes its g^2 pair work
    // into one task.
    saltedSelfJoin(exploded, Seq("band", "sig"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        ps.inter(col("a.repr"), col("b.repr")).as("inter_size"),
        ps.union(col("a.repr"), col("b.repr")).as("union_size"))
      .filter(col("inter_size") * den >= col("union_size") * num)
      .distinct()
  }

  /** MinHash estimator accuracy audit over the LSH candidate pairs —
    * the "can I trust the sketch instead of the exact confirm"
    * measurement: for every banded candidate pair, the number of
    * agreeing minhash components (the sketch's Jaccard estimate,
    * `n_match/numHashes`) against the EXACT intersection/union,
    * reduced per n_match level to exact integer tallies. `micro_j`
    * (Σinter/Σunion — the micro-averaged true Jaccard at that estimate
    * level) and `est_j` are each ONE IEEE division of exact integers,
    * so the whole audit replays bit-for-bit; a per-pair mean of float
    * ratios would sum in engine-dependent order.
    *
    * Scale shape: identical to [[minhashDedup]] (banded candidates via
    * the salted self-join, never all-pairs) with the signature columns
    * riding the exploded band rows (numHashes·8 bytes per row); the
    * reduction is one combinable aggregation into ≤ numHashes+1 rows.
    * Candidates require ≥1 full band match, so low-n_match levels are
    * the band-collision tail, not a uniform pair sample — exactly the
    * population the confirm stage would score, which is what the audit
    * is about.
    */
  def minhashAccuracy(df: DataFrame, idCol: String, textCol: String,
                      bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val toks = fanOut(df).select(col(idCol).as("id"),
      TextFunctions.tokenSet(col(textCol)).as("toks"))
      .filter(col("toks").isNotNull)
    val ps = pairScorer(withMinhashSignature(toks, numHashes))
    val mCols = (0 until numHashes).map(i => col(s"m$i"))
    val exploded = ps.repr
      .select(Seq(col("id"), col("repr")) ++ mCols :+
        explode(array(bandKeyStructs(bands, rowsPerBand): _*)).as("bk"): _*)
      .select(Seq(col("id"), col("repr")) ++ mCols ++
        Seq(col("bk.band").as("band"), col("bk.sig").as("sig")): _*)
    val matches = (0 until numHashes).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L)).reduce(_ + _)
    saltedSelfJoin(exploded, Seq("band", "sig"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        matches.as("n_match"),
        ps.inter(col("a.repr"), col("b.repr")).as("inter"),
        ps.union(col("a.repr"), col("b.repr")).as("un"))
      .distinct()
      .groupBy("n_match")
      .agg(count(lit(1)).as("n_pairs"), sum("inter").as("sum_inter"),
        sum("un").as("sum_union"))
      .withColumn("micro_j",
        col("sum_inter").cast("double") / col("sum_union").cast("double"))
      .withColumn("est_j",
        col("n_match").cast("double") / lit(numHashes).cast("double"))
      .select("n_match", "n_pairs", "sum_inter", "sum_union",
        "micro_j", "est_j")
  }

  /** LSH banding-parameter planning curve (the Mining-of-Massive-
    * Datasets S-curve, computed over the corpus's OWN observed pair
    * similarities instead of a hypothetical distribution): exact
    * Jaccard pairs at/above `num/den` are bucketed into Jaccard
    * deciles by pure integer arithmetic (`inter·10 div union`, top
    * bucket folds J = 1), and each (rowsPerBand r, bands b)
    * configuration in `grid` gets the textbook candidate probability
    * `p = 1 − (1 − j_mid^r)^b` at each decile's midpoint plus the
    * expected number of these pairs that configuration would surface.
    * The decision the table drives: which (r, b) catches the
    * similarity range this corpus actually has, before paying for a
    * full dedup run at that configuration.
    *
    * Scale shape: all fact-sized work is [[jaccardPairs]] (bucketed,
    * never all-pairs); the decile histogram is one combinable count
    * into ≤10 rows, and the grid cross join is 10×|grid| rows. The
    * only floats are pow/multiply of exact inputs (correctly-rounded
    * to ≤1 ulp on any libm — within the oracle tolerance).
    */
  def lshTuningCurve(df: DataFrame, idCol: String, textCol: String,
                     bucketCol: String, num: Int, den: Int,
                     grid: Seq[(Int, Int)]): DataFrame = {
    require(grid.nonEmpty && grid.forall { case (r, b) => r >= 1 && b >= 1 },
      "grid needs (rowsPerBand >= 1, bands >= 1) entries")
    val spark = df.sparkSession
    import spark.implicits._
    val hist = jaccardPairs(df, idCol, textCol, bucketCol, num, den)
      .select(least(lit(9L), expr("inter_size * 10 div union_size")).as("j_bucket"))
      .groupBy("j_bucket").agg(count(lit(1)).as("n_pairs"))
    val jMid = (col("j_bucket").cast("double") + lit(0.5)) / lit(10.0)
    hist.crossJoin(broadcast(grid.toDF("rr", "bb")))
      .withColumn("p_catch", lit(1.0) -
        pow(lit(1.0) - pow(jMid, col("rr").cast("double")), col("bb").cast("double")))
      .withColumn("exp_caught", col("n_pairs").cast("double") * col("p_catch"))
      .select("rr", "bb", "j_bucket", "n_pairs", "p_catch", "exp_caught")
  }

  /** MEASURED LSH recall — the empirical companion to
    * [[lshTuningCurve]]'s theoretical S-curve: ground-truth near-dup
    * pairs (exact Jaccard ≥ num/den within the bucket column) bucketed
    * into Jaccard deciles, each decile reporting how many of its truth
    * pairs the (bands × rowsPerBand) banding actually surfaced as
    * candidates. Theory says 1−(1−j^r)^b; this table says what THIS
    * corpus got — the gap is the banding's real-world miss rate, per
    * similarity level, before anyone trusts the sketch pipeline's
    * output as "the duplicates".
    *
    * Scale shape: truth = [[jaccardPairs]] (bucketed), candidates =
    * [[minhashDedup]] with the confirm disabled (num 0 — the banded
    * candidate set itself); the recall join is pair-table × pair-table
    * on the (doc_a, doc_b) key, then one combinable ≤10-row
    * aggregation. Both pair tables use the identical `a.id < b.id`
    * orientation, so the join key is canonical.
    */
  def lshRecall(df: DataFrame, idCol: String, textCol: String,
                bucketCol: String, num: Int, den: Int,
                bands: Int, rowsPerBand: Int): DataFrame = {
    val truth = jaccardPairs(df, idCol, textCol, bucketCol, num, den)
      .select(col("doc_a"), col("doc_b"),
        least(lit(9L), expr("inter_size * 10 div union_size")).as("j_bucket"))
    val cand = minhashDedup(df, idCol, textCol, bands, rowsPerBand, 0, 1)
      .select(col("doc_a"), col("doc_b")).withColumn("__c", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .groupBy("j_bucket")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__c"), lit(0L))).as("n_caught"))
      .withColumn("recall",
        col("n_caught").cast("double") / col("n_truth").cast("double"))
  }

  /** Skew-proof `a.key == b.key AND a.id < b.id` self-join with
    * two-pass SELECTIVE salting.
    *
    * Pass 1 is a map-side-combinable count per bucket; only buckets
    * with more than `hotThreshold` members are salted (left side:
    * deterministic salt from the id; right side: replicated
    * `saltFactor`×), spreading a hot bucket's g² pair generation over
    * `saltFactor` tasks. Cold buckets — the overwhelming majority in
    * any real banding — pass through with salt 0 and NO replication,
    * so the shuffled volume stays ~1× the input instead of
    * `saltFactor`× (blanket salting replicates the whole right side;
    * at 100 TB that replication IS the shuffle bill). Each qualifying
    * pair appears exactly once (the left row's salt owns it), and the
    * output is identical to blanket salting (`hotThreshold = 0`) —
    * asserted in DedupSpec.
    */
  private[graft] def saltedSelfJoin(df: DataFrame, keys: Seq[String],
                                    saltFactor: Int = 16,
                                    hotThreshold: Int = 1000,
                                    pinInput: Boolean = true): DataFrame = {
    // the input lineage (tokenize + hash + explode for the LSH callers)
    // would otherwise run 3x — once for the counts pass and once per
    // join side; pinning it trades bands×corpus of storage for the
    // recompute. The pin is registered in a small bounded LRU so a
    // long-lived session invoking these operators repeatedly cannot
    // accumulate storage without limit (an evicted pin only costs the
    // lineage recompute if that old query re-executes). Callers that
    // persist the input themselves (and own its release) pass
    // pinInput = false.
    val pinned = if (pinInput) registerPin(df) else df
    val counts = pinned.groupBy(keys.map(col): _*)
      .agg((count(lit(1)) > hotThreshold).as("__hot"))
    val tagged = pinned.join(counts, keys)
    val a = tagged.withColumn("__salt",
      when(col("__hot"), pmod(xxhash64(col("id")), lit(saltFactor)))
        .otherwise(lit(0)).cast("int")).as("a")
    val b = tagged.withColumn("__salt",
      explode(when(col("__hot"), sequence(lit(0), lit(saltFactor - 1)))
        .otherwise(array(lit(0))))).as("b")
    val keyCond = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    a.join(b, keyCond && col("a.__salt") === col("b.__salt") && col("a.id") < col("b.id"))
  }

  /** MinHash near-dup CLUSTERING: assigns every document a cluster id
    * (the min doc id of its connected component in the band-collision
    * graph) in O(n) output — the form a 100-TB dedup actually ships.
    *
    * [[minhashDedup]]'s pair output is inherently quadratic in the
    * duplicate multiplicity (k copies of a document → k² pairs; the
    * 10×-replicated scale probe emitted 93M pairs from 50k docs).
    * Here each (band, signature) bucket contributes only its
    * membership, and connected components are resolved by alternating
    * min-label propagation over the bipartite doc↔bucket graph —
    * `iterations` rounds of two map-side-combinable aggregations each,
    * one graph hop plus a pointer jump per round (reach roughly
    * doubles per round — see [[ConnectedComponents]]). The default 3
    * jumped rounds land closer to the true components than the old 5
    * plain rounds did, with 4 fewer membership-sized shuffles
    * (DedupSpec pins 3-round == 5-round on the spec corpus). For
    * arbitrary-shape components use
    * [[ConnectedComponents.propagateToFixpoint]]. Fixed rounds keep
    * the result replayable by the round-for-round SQL oracle.
    */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
                      bands: Int, rowsPerBand: Int,
                      iterations: Int = 3, shortcut: Boolean = true,
                      toFixpoint: Boolean = false): DataFrame = {
    val allToks = fanOut(df).select(col(idCol).as("id"),
      TextFunctions.tokenSet(col(textCol)).as("toks"))
    // NULL text cannot be banded; such docs are their own singleton
    // clusters (the SQL oracle emits them via an explicit UNION —
    // their NULL band signatures would otherwise silently drop out of
    // its propagation joins, NULL = NULL never matching)
    val toks = allToks.filter(col("toks").isNotNull)
    val sigs = minhashSignatureFromTokens(toks, bands * rowsPerBand)
    val membership = sigs.select(col("id"), explode(array(bandKeyStructs(bands, rowsPerBand): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
    // toFixpoint: exact component minima whatever the component depth —
    // the contract consumers like clusterAwareSplit need; the bounded
    // hop+jump form is for round-for-round SQL replayability
    // registerPin: ConnectedComponents returns a PERSISTED labels frame
    // whose cache the caller owns; routing it through the bounded LRU
    // means repeated clustering runs cannot accumulate unreleasable
    // cache entries (unpersisting the transformed view below would not
    // release it)
    val labels = registerPin(
      if (toFixpoint) ConnectedComponents.propagateToFixpoint(membership, Seq("band", "sig"))
      else ConnectedComponents.propagateMinLabel(membership, Seq("band", "sig"), iterations, shortcut))
    // toks = array_distinct(split(trim(text))) is NULL iff text is
    // NULL, so the singleton filter reads the raw column — re-running
    // the tokenize+distinct lineage over the whole corpus to find the
    // null-text docs was a full second text pass
    val singletons = df.filter(col(textCol).isNull)
      .select(col(idCol).as("id"), col(idCol).as("label"))
    labels.unionByName(singletons)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Canonical-member selection — the step that turns near-dup
    * CLUSTERS into a deduplicated CORPUS: per [[minhashClusters]]
    * cluster, keep the member with the largest `lenCol` (the "longest
    * version wins" rule production dedup uses — the longest copy is
    * the least-truncated one), ties to the smallest id. Every doc is
    * returned with its verdict, so the caller can either filter
    * `keep` or audit what was dropped.
    *
    * Scale shape: clustering as in [[minhashClusters]]; the selection
    * is TWO combinable aggregates per cluster — max length, then min
    * id among the null-safe maxima (no per-cluster window, no sort)
    * — joined back on the cluster key. Two steps instead of one
    * `max_by` because the tie-break must hold for ARBITRARY id and
    * length types: a packed (len, -id) ordering only works for
    * numeric ids (a string id would silently turn "ties to smallest
    * id" into a nondeterministic pick), and the null-safe equality
    * keeps all-NULL-length clusters (null-text singletons) canonical
    * on themselves instead of vanishing.
    *
    * Output: (doc_id, cluster_id, canonical_id, keep).
    */
  def keepCanonical(df: DataFrame, idCol: String, textCol: String,
                    lenCol: String, bands: Int, rowsPerBand: Int,
                    iterations: Int = 3): DataFrame = {
    val clusters = minhashClusters(df, idCol, textCol, bands, rowsPerBand, iterations)
    val sized = clusters.join(
      df.select(col(idCol).as("doc_id"), col(lenCol).as("__len")), "doc_id")
    val mx = sized.groupBy("cluster_id").agg(max(col("__len")).as("__mx"))
    val canon = sized.join(mx, "cluster_id")
      .filter(col("__len") <=> col("__mx"))
      .groupBy("cluster_id").agg(min(col("doc_id")).as("canonical_id"))
    sized.join(canon, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("keep"))
  }

  /** Dedup yield report — the "what would dedup buy us" diagnostic a
    * pipeline runs BEFORE committing to a full dedup pass: the
    * near-dup cluster-size histogram plus, per size, how many
    * documents canonical selection would drop (size − 1 per cluster).
    * Planning-level companion to [[keepCanonical]]: same clustering,
    * two more combinable aggregations (cluster → size, size →
    * histogram), output bounded by the largest cluster — a handful of
    * rows at any corpus size.
    */
  def yieldReport(df: DataFrame, idCol: String, textCol: String,
                  bands: Int, rowsPerBand: Int, iterations: Int = 3): DataFrame = {
    val clusters = minhashClusters(df, idCol, textCol, bands, rowsPerBand, iterations)
    clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        (sum(col("cluster_size")) - count(lit(1))).as("docs_droppable"))
  }

  /** 56-bit SimHash over the distinct-token set: bit b is set when
    * more than half the token hashes have bit b set. The per-doc
    * majority vote runs as the native codegen'd
    * [[graft.plans.SimHash56]] kernel.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // token hashing runs in the native Md5Hash56Array kernel (one
    // digest per token, no hex-string allocation) — bit-identical to
    // transform(toks, w => seededHash56(0, w)), proven in
    // MinhashKernelSpec
    val hashes = graft.plans.Md5Hash56Array(TextFunctions.tokenSet(col(textCol)), "0:")
    fanOut(df).select(col(idCol).as("id"),
      graft.plans.SimHash56(hashes).as("simhash"))
  }

  /** Edit-distance fuzzy matching at corpus scale: near-identical
    * texts (levenshtein on the first `prefixLen` chars <= `maxDist`)
    * WITHOUT an all-pairs join.
    *
    * Candidate generation is MinHash+LSH over char-`shingleK`-grams of
    * the prefix — a shuffle keyed by (band, band-signature), so cost is
    * linear in the corpus plus quadratic only inside colliding buckets
    * (the same contract as [[minhashDedup]]; hot buckets are handled by
    * the selective salt). Recall follows the LSH s-curve over shingle
    * Jaccard: strings within a small edit distance share almost all
    * their shingles (one edit disturbs at most `shingleK` shingles), so
    * true near-matches collide in some band with probability ~1, while
    * unrelated strings never form a candidate. Confirmation is the
    * exact `levenshtein` on the bounded prefix, before the distinct, so
    * the dedup shuffle carries only confirmed pairs.
    *
    * `rowsPerBand` is the selectivity knob: band collision probability
    * is Jaccard^rowsPerBand, and short prefixes over a small character
    * vocabulary give RANDOM pairs substantial Jaccard — at sf0.1,
    * 2-row bands admit 422k candidate pairs where 4-row bands admit
    * 1.9k with the same near-match coverage. Keep rowsPerBand >= 4 for
    * prefix shingles.
    *
    * The previous form of this operator was a demo-capped cartesian
    * (`doc_id < 100`); this one drops the cap — the scale probe
    * recorded in SURVEY §5 shows the sub-quadratic growth.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, prefixLen: Int = 40,
                        shingleK: Int = 5,
                        bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val t = fanOut(df).select(col(idCol).as("id"),
      substring(col(textCol), 1, prefixLen).as("prefix"))
    // texts shorter than shingleK have NO shingles → all-NULL minhash
    // signatures. Spark's xxhash64 skips NULLs, which would give every
    // such doc ONE shared band key (an n² clique of false candidates
    // the SQL oracle, where NULL = NULL is NULL, never emits). They
    // cannot be banded, so they are excluded — callers wanting them
    // can length-bucket the sub-shingle stragglers separately.
    val toks = t.select(col("id"), col("prefix"),
      TextFunctions.charShingles(col("prefix"), shingleK).as("toks"))
      .filter(size(col("toks")) > 0)
    val sigs = withMinhashSignature(toks, bands * rowsPerBand).drop("toks")
    val exploded = sigs.select(col("id"), col("prefix"),
        explode(array(bandKeyStructs(bands, rowsPerBand): _*)).as("bk"))
      .select(col("id"), col("prefix"),
        col("bk.band").as("band"), col("bk.sig").as("sig"))
    saltedSelfJoin(exploded, Seq("band", "sig"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        levenshtein(col("a.prefix"), col("b.prefix")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Cross-table MinHash near-dup join: word-set Jaccard >= num/den
    * pairs BETWEEN two frames (never within one) — the incremental-
    * ingestion primitive: band a new batch and an existing corpus with
    * the same signature family, collide candidates on (band, band-key),
    * confirm exact Jaccard before the distinct. The token-set scoring
    * vocabulary is probed over the UNION of both sides, so a pair's
    * intersection/union sizes are computed in one shared representation.
    *
    * Like [[editDistanceJoin]] there is no `a.id < b.id` constraint —
    * sides are disjoint by construction — so hot bands are ordinary
    * skewed equi-join keys (AQE splits them). The banded/exploded
    * union frame feeds both side filters; it is pinned once at that
    * fan-out point (single-pin rule).
    */
  def minhashJoin(left: DataFrame, leftId: String, leftText: String,
                  right: DataFrame, rightId: String, rightText: String,
                  bands: Int, rowsPerBand: Int, num: Int, den: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    def prep(df: DataFrame, id: String, text: String, side: Int) =
      fanOut(df).select(col(id).as("id"),
        TextFunctions.tokenSet(col(text)).as("toks"))
        .filter(col("toks").isNotNull)
        .withColumn("side", lit(side))
    val both = prep(left, leftId, leftText, 0)
      .unionByName(prep(right, rightId, rightText, 1))
    val ps = pairScorer(withMinhashSignature(both, numHashes))
    val exploded = registerPin(ps.repr
      .select(col("id"), col("side"), col("repr"),
        explode(array(bandKeyStructs(bands, rowsPerBand): _*)).as("bk"))
      .select(col("id"), col("side"), col("repr"),
        col("bk.band").as("band"), col("bk.sig").as("sig")))
    val a = exploded.filter(col("side") === 0).drop("side").as("a")
    val b = exploded.filter(col("side") === 1).drop("side").as("b")
    a.join(b, Seq("band", "sig"))
      .select(col("a.id").as("left_id"), col("b.id").as("right_id"),
        ps.inter(col("a.repr"), col("b.repr")).as("inter_size"),
        ps.union(col("a.repr"), col("b.repr")).as("union_size"))
      .filter(col("inter_size") * den >= col("union_size") * num)
      .distinct()
  }

  /** STREAMING near-dup probe: [[minhashJoin]]'s banded candidate
    * generation as a stateless stream-static join — the quarantine log
    * of a continuously-ingesting pipeline (the streaming face of
    * [[incrementalDedup]], as `contaminationAudit` is for
    * `ngramOverlap`). Each micro-batch signs and bands its documents
    * row-wise (the MinhashSig kernel is a per-row expression, so it
    * runs unchanged on a stream), joins the static banded reference,
    * and confirms exact Jaccard inline — no watermark, no state store,
    * nothing grows with stream length.
    *
    * Scoring uses the open-vocabulary sorted-hash-array representation
    * on BOTH sides: the closed-vocab bitmask needs a corpus probe job,
    * which a streaming plan cannot run. A (new_id, ref_id) pair is
    * emitted once per colliding band (multiplicity is the price of
    * statelessness; readers aggregate if they need distinct pairs).
    */
  def streamingNearDupProbe(stream: DataFrame, ref: DataFrame,
                            idCol: String, textCol: String,
                            bands: Int, rowsPerBand: Int,
                            num: Int, den: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    def banded(df: DataFrame, outId: String): (PairScorer, DataFrame) = {
      val toks = df.select(col(idCol).as("id"),
        TextFunctions.tokenSet(col(textCol)).as("toks"))
        .filter(col("toks").isNotNull)
      val ps = pairScorer(withMinhashSignature(toks, numHashes),
        assumeOpenVocab = true)
      (ps, ps.repr
        .select(col("id").as(outId), col("repr").as(s"__${outId}_repr"),
          explode(array(bandKeyStructs(bands, rowsPerBand): _*)).as("bk"))
        .select(col(outId), col(s"__${outId}_repr"),
          col("bk.band").as("band"), col("bk.sig").as("sig")))
    }
    val (ps, refSideRaw) = banded(ref, "ref_id")
    // stream pin: the banded reference is corpus-scale (sign + band
    // every reference doc) and would re-execute per micro-batch
    val refSide = registerStreamPin(refSideRaw)
    val (_, streamSide) = banded(stream, "new_id")
    streamSide.join(refSide, Seq("band", "sig"))
      .select(col("new_id"), col("ref_id"),
        ps.inter(col("__new_id_repr"), col("__ref_id_repr")).as("inter_size"),
        ps.union(col("__new_id_repr"), col("__ref_id_repr")).as("union_size"))
      .filter(col("inter_size") * den >= col("union_size") * num)
  }

  /** Incremental ingestion dedup: flag each NEW document against an
    * existing REFERENCE corpus — exact duplicates by content hash
    * (semi-join on md5), near-duplicates by [[minhashJoin]] at
    * Jaccard >= num/den — and emit one row per new doc with
    * (exact_dup, near_dup, is_kept). This is the nightly-crawl
    * contract: the reference corpus is never rewritten, only probed,
    * and the output is O(new batch), never pairwise.
    */
  def incrementalDedup(newDf: DataFrame, refDf: DataFrame,
                       idCol: String, textCol: String,
                       bands: Int, rowsPerBand: Int,
                       num: Int, den: Int): DataFrame = {
    val ex = newDf.select(col(idCol).as("doc_id"),
        HashFunctions.contentHash(col(textCol)).as("h"))
      .join(refDf.select(HashFunctions.contentHash(col(textCol)).as("h")).distinct(),
        Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("__ex", lit(true))
    val near = minhashJoin(newDf, idCol, textCol, refDf, idCol, textCol,
      bands, rowsPerBand, num, den)
      .select(col("left_id").as("doc_id")).distinct()
      .withColumn("__nr", lit(true))
    newDf.select(col(idCol).as("doc_id"))
      .join(ex, Seq("doc_id"), "left").join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__ex"), lit(false)).as("exact_dup"),
        coalesce(col("__nr"), lit(false)).as("near_dup"))
      .withColumn("is_kept", !col("exact_dup") && !col("near_dup"))
  }

  /** Cross-table fuzzy join (record linkage): LSH-prefiltered
    * levenshtein match of two DIFFERENT frames on a string column —
    * the entity-resolution primitive (link records across two
    * snapshots/providers without a cartesian product). Candidate
    * generation is the same banded char-shingle MinHash family as
    * [[editDistancePairs]], computed identically on both sides so a
    * true near-match collides in some band with the same s-curve
    * probability; candidates are a plain (band, sig) equi-join —
    * never all-pairs — and the exact `levenshtein` confirm runs
    * before the distinct, so the dedup shuffle carries only confirmed
    * links.
    *
    * Unlike the self-join there is no `a.id < b.id` constraint, so no
    * custom salting is needed: a hot band signature is an ordinary
    * skewed equi-join key, which AQE's skew-join split handles.
    */
  def editDistanceJoin(left: DataFrame, leftId: String, leftText: String,
                       right: DataFrame, rightId: String, rightText: String,
                       maxDist: Int, prefixLen: Int = 40, shingleK: Int = 5,
                       bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    // sub-shingle texts are excluded on BOTH sides for the same
    // NULL-signature reason as editDistancePairs
    def prep(df: DataFrame, id: String, text: String) = {
      val t = fanOut(df).select(col(id).as("id"),
        substring(col(text), 1, prefixLen).as("prefix"))
      val toks = t.select(col("id"), col("prefix"),
        TextFunctions.charShingles(col("prefix"), shingleK).as("toks"))
        .filter(size(col("toks")) > 0)
      withMinhashSignature(toks, bands * rowsPerBand).drop("toks")
        .select(col("id"), col("prefix"),
          explode(array(bandKeyStructs(bands, rowsPerBand): _*)).as("bk"))
        .select(col("id"), col("prefix"),
          col("bk.band").as("band"), col("bk.sig").as("sig"))
    }
    prep(left, leftId, leftText).as("a")
      .join(prep(right, rightId, rightText).as("b"), Seq("band", "sig"))
      .select(col("a.id").as("left_id"), col("b.id").as("right_id"),
        levenshtein(col("a.prefix"), col("b.prefix")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Winnowing fingerprints (the Schleimer/Wilkerson/Aiken scheme
    * behind MOSS): hash every positional character k-gram, keep the
    * minimum of each sliding window of `window` hashes, emit the
    * distinct (doc, fingerprint) set — density ~2/(window+1) of the
    * gram positions regardless of document length, and any shared
    * substring of length >= window + k - 1 contributes at least one
    * common fingerprint (the standard near-copy/provenance primitive).
    *
    * Shape: gram hashes are exploded with positions and the sliding
    * minimum is a windowed `min` over `rowsBetween(0, window-1)` —
    * one shuffle on the doc id, parallel across documents. The naive
    * expression form (`transform(..., j => array_min(slice(hs, ...)))`)
    * re-evaluates the whole hash array per window position inside the
    * lambda — O(n²) digests per document — which is why this is a
    * DataFrame operator, not a Column function. Documents shorter than
    * the window contribute their global min; shorter than k, nothing.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, window: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL-id docs excluded (fuzz r12): the sliding-minima window
    // partitions by doc_id, so every NULL-id document would share ONE
    // window partition and mix its hashes with every other id-less
    // document's — fingerprints keyed by nothing are meaningless anyway
    val exploded = fanOut(df.filter(col(idCol).isNotNull))
      .select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.gramHashes(col(textCol), k)).as(Seq("pos", "h")))
    val sliding = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, window - 1)
    val perDoc = Window.partitionBy("doc_id")
    exploded
      .withColumn("wmin", min("h").over(sliding))
      .withColumn("n", count(lit(1)).over(perDoc))
      // valid window starts: 0..n-window (0-based); short docs keep
      // only pos 0, whose clipped frame is the global min
      .filter(col("pos") <= greatest(col("n") - window, lit(0)))
      .select(col("doc_id"), col("wmin").as("fp"))
      .distinct()
  }

  /** Chunk-level exact dedup with document reconstruction (the
    * line-dedup stage of CCNet/RefinedWeb-style corpus prep, adapted to
    * fixed `chunkTokens`-token chunks because the synthetic corpus has
    * no newline structure): every chunk that already occurred earlier
    * in the corpus — "earlier" = smaller (doc_id, chunk_idx), a total
    * order — is dropped, and each document's surviving chunks are
    * re-joined in their original order. Unlike whole-document dedup
    * (exact/minhash), this removes boilerplate *inside* otherwise
    * unique documents.
    *
    * Scale shape: first-occurrence selection is a map-side-combinable
    * `min(struct(doc_id, chunk_idx))` per chunk hash — NOT a
    * `row_number` window, which would sort every occurrence of a hot
    * boilerplate chunk inside one task; the min aggregate combines
    * partially on the map side so a chunk appearing in half the corpus
    * still reduces to one row per partition before the shuffle. The
    * occurrence→owner join back on the hash is skew-handled by AQE
    * (one owner row per hash, occurrences split across tasks). The
    * occurrence frame feeds both the owner aggregate and the join, so
    * it is pinned once at the fan-out point (same single-pin rule as
    * [[saltedSelfJoin]] — an inner second pin would invalidate this
    * one, see SURVEY §8 round-4 cache note).
    *
    * Output: (doc_id, n_chunks, n_kept, dedup_text) — docs whose every
    * chunk was seen earlier come out with n_kept = 0 and empty text,
    * so the caller can drop or keep them by policy. NULL-text docs
    * cannot be chunked and are ABSENT from the output (the oracle
    * filters them identically); keep them upstream if they matter.
    */
  /** One row per `chunkTokens`-token chunk: (doc_id, chunk_idx, chunk,
    * h) — the shared chunking expression of [[chunkDedup]] and
    * [[streamingChunkProbe]] (pure per-row expressions, so it runs
    * unchanged on a stream).
    */
  private def chunkOccurrences(df: DataFrame, idCol: String, textCol: String,
                               c: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(col("toks").isNotNull)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), ((size(col("toks")) - 1) / c).cast("int")),
          i => array_join(slice(col("toks"), i * c + 1, lit(c)), " ")))
        .as(Seq("chunk_idx", "chunk")))
      .withColumn("h", md5(col("chunk")))

  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 20): DataFrame = {
    // NULL-id docs excluded (fuzz r12): "first occurrence" is the min
    // (doc_id, chunk_idx) struct, and engines order NULL struct fields
    // differently — an id-less doc must not own anyone's chunks
    val occ = registerPin(chunkOccurrences(
      fanOut(df.filter(col(idCol).isNotNull)), idCol, textCol, chunkTokens))
    val owners = occ.groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("w"))
    occ.join(owners, "h")
      .withColumn("is_first",
        col("doc_id") === col("w.doc_id") && col("chunk_idx") === col("w.chunk_idx"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("is_first"), 1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("is_first"),
            struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("dedup_text"))
  }

  /** STREAMING chunk-dedup probe: each micro-batch's documents are
    * chunked row-wise and probed against the STATIC reference corpus's
    * chunk-ownership table — the continuous-ingestion form of
    * [[chunkDedup]], as [[streamingNearDupProbe]] is for
    * [[incrementalDedup]]. Stateless: a stream-static left join, no
    * watermark, no state store, nothing grows with stream length.
    *
    * Output is one row per NEW chunk — (new_id, chunk_idx, h,
    * ref_doc_id, is_novel) — where `ref_doc_id` is the reference
    * owner (its first occurrence, [[chunkDedup]]'s min-struct owner
    * contract) and `is_novel` marks chunks absent from the reference.
    * Per-doc keep decisions aggregate downstream (per-key aggregation
    * on a stream needs a watermark policy, which belongs to the
    * caller); the flags themselves equal what batch [[chunkDedup]]
    * over reference+batch would mark as first-seen-in-reference
    * (StreamingSpec pins streaming == batch on the same prefix).
    */
  def streamingChunkProbe(stream: DataFrame, ref: DataFrame,
                          idCol: String, textCol: String,
                          chunkTokens: Int = 20): DataFrame = {
    // stream pin: the static side re-evaluates per trigger, and this
    // one is CORPUS-scale (the whole reference chunked + an ownership
    // shuffle) — unpinned, every micro-batch would pay it again
    val owners = registerStreamPin(
      chunkOccurrences(ref, idCol, textCol, chunkTokens)
        .groupBy("h").agg(min(struct(col("doc_id"), col("chunk_idx"))).as("w"))
        .select(col("h"), col("w.doc_id").as("ref_doc_id")))
    chunkOccurrences(stream, idCol, textCol, chunkTokens)
      .join(owners, Seq("h"), "left")
      .select(col("doc_id").as("new_id"), col("chunk_idx"), col("h"),
        col("ref_doc_id"), col("ref_doc_id").isNull.as("is_novel"))
  }

  /** Shared-substring provenance pairs: documents sharing at least
    * `minShared` winnowing fingerprints. Any common substring of
    * length >= window + k - 1 contributes at least one shared
    * fingerprint (the winnowing guarantee), so this is the scalable
    * Spark-first analogue of suffix-array substring dedup — quote and
    * boilerplate reuse surfaces WITHOUT any all-pairs text comparison.
    *
    * Scale shape: fingerprints occurring in more than `maxDf`
    * documents are dropped first (a map-side-combinable document-
    * frequency count — corpus-wide boilerplate like license headers
    * carries no provenance signal and would otherwise form the hottest
    * self-join buckets); the residual hot fingerprints are selectively
    * salted by [[saltedSelfJoin]]. The pair contract is quadratic only
    * in per-fingerprint multiplicity, bounded by `maxDf`.
    *
    * Size `maxDf` as a corpus FRACTION, not a constant: on templated
    * corpora a phrase's document frequency grows with the corpus, so a
    * fixed threshold that works at one scale gates every true shared
    * fingerprint at 10× (the SURVEY §5 scale probe held the oracled
    * query's ~13% fraction for exactly this reason). At 100 TB a sensible default
    * is maxDf ≈ the largest duplicate-cluster size you still care to
    * pair up — everything above it is boilerplate by definition.
    */
  def sharedSubstringPairs(df: DataFrame, idCol: String, textCol: String,
                           k: Int, window: Int,
                           minShared: Int, maxDf: Int = 64): DataFrame =
    substringPairsCore(df, idCol, textCol, k, window, minShared,
      rare => rare.filter(col("__df") <= maxDf))

  /** [[sharedSubstringPairs]] with the df gate expressed as a corpus
    * FRACTION (`df * dfDen <= corpus_size * dfNum`) — the form that
    * holds across scales on templated corpora, where any phrase's
    * absolute document frequency grows with the corpus. The corpus
    * size joins in as a broadcast one-row aggregate (no driver
    * action), and the comparison is integer math, so an external SQL
    * engine replays the gate exactly.
    */
  def sharedSubstringPairsRelative(df: DataFrame, idCol: String, textCol: String,
                                   k: Int, window: Int, minShared: Int,
                                   dfNum: Int = 1, dfDen: Int = 8): DataFrame = {
    val total = df.select(count(lit(1)).as("__n"))
    substringPairsCore(df, idCol, textCol, k, window, minShared,
      rare => rare.crossJoin(broadcast(total))
        .filter(col("__df") * dfDen <= col("__n") * dfNum))
  }

  /** Substring-provenance CLUSTERING: connected components over the
    * (doc, winnow-fingerprint) membership graph after the
    * corpus-relative df gate — O(n) output rows where
    * [[sharedSubstringPairsRelative]] is quadratic in fingerprint
    * multiplicity, mirroring [[minhashClusters]] vs [[minhashDedup]].
    * Docs whose fingerprints are all gated (or that have none — text
    * shorter than k) become their own singleton clusters, so every
    * input doc appears exactly once.
    */
  def substringClusters(df: DataFrame, idCol: String, textCol: String,
                        k: Int, window: Int,
                        dfNum: Int = 1, dfDen: Int = 8,
                        iterations: Int = 3): DataFrame = {
    // NULL-id docs are excluded end-to-end (winnowFingerprints drops
    // them from membership; the singleton branch must match — fuzz r12)
    val ids = df.filter(col(idCol).isNotNull).select(col(idCol).as("id"))
    // The winnow is the expensive leaf (positional k-gram hashes +
    // windowed minima over every document) and BOTH the df-count pass
    // and the membership need it. Pin it ONCE, and sever the membership
    // frame's lineage with an eager localCheckpoint before handing it
    // to propagation: a persist layered directly under the membership
    // pin changes that plan's canonicalized form (measured ~15% slower
    // in r4), but a checkpoint boundary makes the membership frame
    // lineage-free, so the two caches cannot interfere — and the
    // winnow now executes exactly once (it ran twice before, ~2s of
    // the sf0.1 clean run).
    // plain persist, NOT registerPin: the lifetime is managed manually
    // (unpersisted right after the checkpoint below), and a dead LRU
    // slot would evict a LIVE pin from another query early
    val fps = winnowFingerprints(df, idCol, textCol, k, window)
      .select(col("doc_id").as("id"), col("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = df.select(count(lit(1)).as("__n"))
    // df >= 2: a fingerprint seen in ONE document cannot connect
    // anything — dropping those (the overwhelming majority of
    // fingerprints) shrinks the propagation membership to just the
    // shared ones, with provably identical labels (a df-1 bucket's
    // min is the doc's own label, which its shared buckets already
    // contribute); docs left bucket-less fall to the singleton branch
    // with the same own-id label propagation would give them
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(total))
      .filter(col("__df") >= 2 &&
        col("__df") * dfDen <= col("__n") * dfNum).select("fp")
    val membership = fps.join(rare, "fp").select(col("id"), col("fp"))
      .localCheckpoint(true) // eager: materializes fps once, severs lineage
    fps.unpersist(blocking = false) // checkpoint holds the data now
    // The checkpoint's executor blocks stay allocated until the labels
    // pin leaves the LRU and the driver GCs the RDD (ContextCleaner) —
    // deliberately NOT released here: the checkpoint severed lineage,
    // so dropping its blocks early would make a labels-cache eviction
    // unrecoverable. The retained set is membership-sized (df>=2-gated,
    // far below corpus), the same order as the labels cache itself.
    val labels = registerPin(ConnectedComponents.propagateMinLabel(
      membership, Seq("fp"), iterations, pinMembership = false))
    val singletons = ids.join(labels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    labels.unionByName(singletons)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  private def substringPairsCore(df: DataFrame, idCol: String, textCol: String,
                                 k: Int, window: Int, minShared: Int,
                                 dfGate: DataFrame => DataFrame): DataFrame = {
    // Pinning is delegated to saltedSelfJoin's internal pin of the
    // GATED frame (counts pass + both join sides read it — without it
    // the winnow lineage runs 3x, measured 3.5s -> 17.5s at sf0.1).
    // Do NOT additionally pin this fps frame: a second cache layer
    // inside the pinned frame's lineage changes its canonicalized
    // plan between registration and execution, the joined pin stops
    // matching, and the whole query degrades to the no-pin 17.9s path
    // (measured; see SURVEY round 4). The substringClusters-style
    // pin-winnow + eager-localCheckpoint rewrite was ALSO measured
    // here and rejected: the checkpointed LogicalRDD feeds
    // saltedSelfJoin without stats, its salting/broadcast decisions
    // degrade, and the query went 6.3s -> 19.7s on the same box.
    // The gated pin's one extra winnow pass is the cheapest shape.
    val fps = winnowFingerprints(df, idCol, textCol, k, window)
      .select(col("doc_id").as("id"), col("fp"))
    // df >= 2 unconditionally: a fingerprint in one document forms no
    // a.id < b.id pair — dropping the (majority) unique fingerprints
    // shrinks the self-join input with identical output
    val rare = dfGate(fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= 2))
      .select("fp")
    saltedSelfJoin(fps.join(rare, "fp"), Seq("fp"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    * Pigeonhole banding: 56 bits in `maxHamming + 1` chunks — any pair
    * within the distance budget must agree exactly on at least one
    * chunk, so candidate generation is a shuffle keyed by
    * (chunk index, chunk value), never all-pairs, with NO recall loss.
    * The exact popcount(xor) filter runs *before* the distinct so the
    * dedup shuffle only carries surviving pairs.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame =
    hammingPairs(simhash(df, idCol, textCol)
      .select(col("id"), col("simhash").as("hash")), 56, maxHamming)

  /** Generic bit-sketch near-dup pairs: all (doc_a < doc_b) whose
    * `hash` values (any ≤63-bit packed fingerprint — simhash, image
    * dHash, audio chromaprint-style sketch) differ in at most
    * `maxHamming` bits, with the candidate join BANDED on
    * `maxHamming + 1` bit-chunks (pigeonhole: a qualifying pair
    * agrees exactly on at least one full chunk, so candidate
    * generation is a chunk-value equi-join — never all-pairs — and
    * the post-filter makes the result EXACT). Input `hashes`:
    * (id, hash). Output (doc_a, doc_b, hamming).
    */
  def hammingPairs(hashes: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    val chunks = hammingChunks(hashes, bits, maxHamming)
    saltedSelfJoin(chunks, Seq("chunk", "v"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        expr("bit_count(a.hash ^ b.hash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** (id, hash) → one row per bit-chunk (chunk, v) — the shared
    * banding of [[hammingPairs]] and [[streamingHammingProbe]].
    * Chunk widths spread evenly (floor + remainder): a uniform ceil
    * width would leave later chunks with few or ZERO real bits, whose
    * constant chunk values degenerate into an all-pairs join.
    */
  private def hammingChunks(hashes: DataFrame, bits: Int, maxHamming: Int): DataFrame = {
    val nChunks = maxHamming + 1
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    require(nChunks >= 1 && nChunks <= bits,
      s"maxHamming must be in [0, ${bits - 1}], got $maxHamming")
    val base = bits / nChunks; val rem = bits % nChunks
    val widths = (0 until nChunks).map(c => base + (if (c < rem) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val chunkStructs = (0 until nChunks).map { c =>
      struct(lit(c).as("chunk"),
        expr(s"(hash div ${1L << starts(c)}L) % ${1L << widths(c)}L").as("v"))
    }
    hashes.select(col("id"), col("hash"),
        explode(array(chunkStructs: _*)).as("ck"))
      .select(col("id"), col("hash"), col("ck.chunk").as("chunk"), col("ck.v").as("v"))
  }

  /** STREAMING bit-sketch near-dup probe: [[hammingPairs]]' banded
    * candidate generation as a stateless stream-static join — the
    * perceptual/simhash face of [[streamingNearDupProbe]]. Both sides
    * arrive pre-hashed as (id, hash) so the probe is decode-agnostic
    * (image dHash, simhash, any ≤63-bit sketch); the micro-batch
    * bands row-wise (pure expressions — they run unchanged on a
    * stream), joins the static banded reference, and confirms the
    * exact hamming distance inline. No watermark, no state store,
    * nothing grows with stream length. A (new_id, ref_id) pair is
    * emitted once per colliding chunk (multiplicity is the price of
    * statelessness; readers aggregate if they need distinct pairs).
    */
  def streamingHammingProbe(stream: DataFrame, ref: DataFrame,
                            bits: Int, maxHamming: Int): DataFrame = {
    // stream pin: the banded reference would re-execute per micro-batch
    val refSide = registerStreamPin(
      hammingChunks(ref, bits, maxHamming)
        .select(col("id").as("ref_id"), col("hash").as("__ref_hash"),
          col("chunk"), col("v")))
    hammingChunks(stream, bits, maxHamming)
      .select(col("id").as("new_id"), col("hash").as("__new_hash"),
        col("chunk"), col("v"))
      .join(refSide, Seq("chunk", "v"))
      .select(col("new_id"), col("ref_id"),
        expr("bit_count(__new_hash ^ __ref_hash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Golden-record construction (MDM survivorship): per
    * [[minhashClusters]] cluster, the field-level MAJORITY merge —
    * each listed field resolves to its most frequent non-NULL value
    * among the cluster's members, ties to the SMALLEST value (the
    * [[keepCanonical]] determinism rule, type-agnostic). Where
    * keepCanonical picks one whole ROW as canonical, this builds the
    * best COMPOSITE row — the standard entity-resolution step after
    * match/cluster. A field NULL across the whole cluster stays NULL
    * (absence survives; it is not invented).
    *
    * Scale shape: ONE membership join carries all fields; per field
    * the vote is two combinable aggregates (value counts per cluster,
    * then the max-count), with the tie broken by a min over the
    * null-safe maxima — never a per-cluster window or sort. The
    * membership frame is pinned once so the per-field chains share
    * its scan. Output: (cluster_id, n_members, fields…).
    */
  def goldenRecord(df: DataFrame, idCol: String, textCol: String,
                   fields: Seq[String], bands: Int, rowsPerBand: Int,
                   iterations: Int = 3): DataFrame = {
    require(fields.nonEmpty, "need at least one field to merge")
    require(fields.distinct.size == fields.size, "duplicate field")
    val clusters = minhashClusters(df, idCol, textCol, bands, rowsPerBand, iterations)
    val mem = registerPin(clusters.join(
      df.select(col(idCol).as("doc_id") +: fields.map(col): _*), "doc_id"))
    val base = mem.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    fields.foldLeft(base) { (acc, f) =>
      val cnt = mem.filter(col(f).isNotNull)
        .groupBy(col("cluster_id"), col(f)).agg(count(lit(1)).as("__c"))
      // the (max count, ties → min value) vote as ONE combinable
      // min_by over the cell table — the ordering key (−count, value)
      // is total because cells are distinct per value and count ≥ 1 is
      // never null; min_by's struct ordering handles ANY orderable
      // value type, so this keeps the type-agnostic contract the old
      // two-step (max join + min over null-safe maxima) existed for,
      // at one aggregation instead of agg + join + agg per field
      // (guide §1.3 — job count is these node-sized plans' wall clock)
      val pick = cnt.groupBy("cluster_id")
        .agg(min_by(col(f), struct((-col("__c")).as("nc"), col(f))).as(f))
      acc.join(pick, Seq("cluster_id"), "left")
    }
  }

  /** Content-defined chunking (CDC) boilerplate report — the
    * insertion-robust sibling of [[chunkDedup]]'s FIXED token chunks:
    * a chunk boundary falls after token i whenever the md5 hash of the
    * 3-token gram ending at i ≡ 0 (mod `modulus`), so inserting a
    * sentence shifts ONE chunk's content instead of re-phasing every
    * chunk after it (the rsync/LBFS argument, token-level). Chunks are
    * rebuilt by slicing the pinned token array with the span table
    * (never re-tokenized), hashed, and counted corpus-wide; per doc
    * the report says how much of it is chunk-level boilerplate.
    * Output: (doc_id, n_chunks, n_shared, shared_ratio) — n_shared
    * counts this doc's chunks whose content hash occurs ≥ 2 times in
    * the corpus (including within-doc repeats, which ARE boilerplate).
    *
    * Scale shape: gram hashing and the cut cumsum are windows
    * PARTITIONED by doc over exploded tokens; spans and occurrence
    * counts are combinable aggregations; the slice join is doc-keyed.
    * Expected chunk length = `modulus` tokens — size the modulus like
    * a chunker, not a sampler.
    */
  def cdcChunkReport(df: DataFrame, idCol: String, textCol: String,
                     modulus: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(modulus >= 2 && modulus <= 4096,
      s"modulus must be in [2, 4096], got $modulus")
    val toks = fanOut(df.filter(col(idCol).isNotNull && col(textCol).isNotNull))
      .select(col(idCol).as("doc_id"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint(true) // scanned twice: explode + the slice join
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val cuts = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .withColumn("__g", concat_ws("\u0001",
        lag(col("tok"), 2).over(w), lag(col("tok"), 1).over(w), col("tok")))
      .withColumn("__cut", when(col("pos") >= 2 &&
        graft.functions.HashFunctions.stableHash56(col("__g"))
          % modulus.toLong === 0L, 1L).otherwise(0L))
      .withColumn("chunk_id", coalesce(
        sum("__cut").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val spans = cuts.groupBy("doc_id", "chunk_id")
      .agg(min("pos").as("__start"), count(lit(1)).as("__len"))
    val chunks = spans.join(toks, "doc_id")
      .withColumn("__chunk", array_join(
        slice(col("toks"), col("__start") + 1, col("__len")), " "))
      .select(col("doc_id"), md5(col("__chunk")).as("h"))
    val occ = chunks.groupBy("h").agg(count(lit(1)).as("__n_occ"))
    chunks.join(occ, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        coalesce(sum(when(col("__n_occ") > 1, 1L).otherwise(0L)), lit(0L))
          .as("n_shared"))
      .withColumn("shared_ratio",
        col("n_shared").cast("double") / col("n_chunks").cast("double"))
  }
}
