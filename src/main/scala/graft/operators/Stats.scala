package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact hypothesis-test statistics over grouped fact data — the
  * experiment-analysis workload (A/B cohort independence, ranking
  * quality) built the repo way: every count and cross-product is exact
  * 64-bit integer arithmetic, and a float appears only as ONE IEEE
  * division (or multiply-then-divide) of exact integers at the very
  * end, so an external SQL engine replays every row bit-for-bit. A
  * textbook float implementation (running Σ(o−e)²/e, averaged ranks)
  * would drift with summation order across engines and partitionings.
  */
object Stats {

  /** Chi-square-of-independence decomposition for two categorical
    * columns: one output row per contingency cell carrying the
    * observed count, marginals, grand total, the expected count in
    * exact micro-units (`rt·ct·10⁶ div n` — integer floor division),
    * and the cell's χ² contribution `(o·n − rt·ct)² / (n·rt·ct)` as a
    * double produced by one multiply and one divide of exactly-
    * representable integers. Emitting per-cell rows (cells =
    * |A|·|B|, tiny) instead of Σ keeps the statistic order-free and
    * replayable; the caller sums `contrib` knowing its float caveat.
    * The cell spine is the FULL marginal cross product, so an
    * unobserved (a, b) combination still emits its row with o = 0 —
    * its contribution (0−e)²/e = e is part of the statistic, and
    * dropping it would underestimate χ² on sparse tables.
    *
    * Scale shape: the only fact-sized work is the combinable
    * (a, b) count; marginals reduce the cell table (broadcast-sized)
    * and the |A|·|B| spine is a broadcast nested-loop of two
    * broadcast-sized marginal tables. Exactness bound: |o·n − rt·ct|
    * ≤ n² must stay within 2^53 for the double path and `rt·ct·10⁶`
    * within int64 — holds through n ≈ 3·10⁶ rows per test, far past
    * any per-experiment cohort; shard bigger tests by experiment id.
    * The denominator n·rt·ct is formed in DOUBLE (each factor ≤ n is
    * exactly representable; the int64 product would wrap at skewed
    * marginals long before the double path loses anything).
    */
  def chiSquareCells(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("a"), bCol.as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy("a").agg(sum("o").as("rt"))
    val colTot = cells.groupBy("b").agg(sum("o").as("ct"))
    val grand = cells.agg(sum("o").as("n"))
    val d = col("o") * col("n") - col("rt") * col("ct")
    def dd(c: Column) = c.cast("double")
    rowTot.crossJoin(broadcast(colTot))
      .join(cells, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(grand))
      .withColumn("e_micro", expr("rt * ct * 1000000L div n"))
      .withColumn("contrib",
        (d.cast("double") * d.cast("double")) /
          (dd(col("n")) * dd(col("rt")) * dd(col("ct"))))
      .select("a", "b", "o", "rt", "ct", "n", "e_micro", "contrib")
  }

  /** Exact ROC-AUC of a score against a boolean label via the
    * Mann–Whitney U statistic, tie-corrected. Computed from the
    * per-DISTINCT-SCORE (pos, neg) table: with `below` = negatives
    * strictly below a score value, `2U = Σ_v pos_v · (2·below_v +
    * neg_v)` — ties contribute the conventional half credit without
    * any fractional rank. Output is one row: (n_pos, n_neg, u2, auc)
    * where `auc = u2 / (2·n_pos·n_neg)` is the single IEEE division.
    *
    * Scale shape: the fact table is reduced by ONE combinable
    * group-by on the score value; the window (cumulative negatives)
    * runs over DISTINCT score values only — score cardinality, not row
    * count — so a billion-row corpus with a bounded score domain never
    * funnels through one task. NULL scores and NULL labels are
    * excluded (they rank nowhere).
    */
  def rocAuc(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val g = df.select(scoreCol.as("s"), labelCol.as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
      .groupBy("s").agg(
        sum(when(col("y"), 1L).otherwise(0L)).as("pos"),
        sum(when(col("y"), 0L).otherwise(1L)).as("neg"))
    val (tally, Row(nScores: Long)) = Rounds.checkpoint(g, Nil, count(lit(1)))
    // below (exclusive negatives) = inclusive cumsum − own negatives:
    // exact long arithmetic, so the [[prefixSums]] size gate covers
    // this frame too (a continuous score domain makes it row-sized)
    prefixSums(tally, nScores, Seq(col("s")), (col("neg"), "__u"))
      .withColumn("below", col("__u") - col("neg"))
      .agg(
        sum("pos").as("n_pos"),
        sum("neg").as("n_neg"),
        sum(col("pos") * (lit(2) * col("below") + col("neg"))).as("u2"))
      .withColumn("auc",
        col("u2").cast("double") / (lit(2) * col("n_pos") * col("n_neg")).cast("double"))
  }

  /** Exact inclusive prefix sums of non-null long columns over a TOTAL
    * order — the one scale-safe spine of the ordered statistics: the
    * value-tally cumsums of [[spearmanMatrix]], [[kruskalWallis]],
    * [[wilcoxonSignedRank]], [[ansariBradley]], [[rocAuc]] and
    * [[moodMedianTest]]'s global median, the row ranks of
    * [[Analytics.exactNtile]] (a prefix sum of `lit(1L)`), and
    * [[averagePrecision]]'s rank plus positive prefix count. Each
    * `(column, name)` pair adds one output column.
    *
    * Size-dispatched on `n`, the caller's row count of `df`. Up to the
    * gate, ONE `Window.orderBy(order)` frame: a single bounded sort
    * task, the fastest plan at any bench scale. Above it, the SURVEY §5
    * 100 TB rule (no single-task global sort): range repartition on
    * `order`, partition ids pinned by an eager checkpoint (partition
    * ASSIGNMENT is not stable across recomputes — AQE may coalesce
    * each branch differently and the range-bound sampling reruns; the
    * r14 ntile scale probe caught an unpinned plan as a checksum
    * mismatch at 7M rows), per-partition inclusive sums, plus broadcast
    * per-partition offsets whose own cumulative window runs over
    * ≤ spark.sql.shuffle.partitions rows. Both paths cumulate the SAME
    * total order, so the dispatch is a plan choice, never a result
    * choice (Round15OptSpec and NtileSpec force the gate to 0).
    *
    * The gate is `spark.graft.tally.windowMax` (default 2M: the r14
    * probe timed both paths on seeded 32-core data at 2.6/3.9 s for 1M
    * rows, 2.1/1.7 at 2M, 4.4/1.8 at 4M, 8.8/4.9 at 7M and 35.5/7.6 at
    * 30M — the single sort task grows linearly while the distributed
    * form stays near-flat).
    */
  private[graft] def prefixSums(df: DataFrame, n: Long, order: Seq[Column],
                                sums: (Column, String)*): DataFrame = {
    val gate = df.sparkSession.conf.get("spark.graft.tally.windowMax", "2000000").toLong
    if (n <= gate) {
      val w = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sums.foldLeft(df) { case (d, (c, out)) => d.withColumn(out, sum(c).over(w)) }
    } else {
      val parted = Rounds.checkpoint(df.repartitionByRange(order: _*)
        .withColumn("__pid", spark_partition_id()), Nil)._1
      val offCols = sums.indices.map(i => s"__off$i")
      val perPart = sums.zip(offCols).map { case ((c, _), o) => sum(c).as(o) }
      val before = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
      val offs = parted.groupBy("__pid").agg(perPart.head, perPart.tail: _*)
        .select(col("__pid") +: offCols.map(o => coalesce(sum(o).over(before), lit(0L)).as(o)): _*)
      val w = Window.partitionBy("__pid").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sums.zip(offCols)
        .foldLeft(parted.join(broadcast(offs), "__pid")) { case (d, ((c, out), o)) =>
          d.withColumn(out, sum(c).over(w) + col(o))
        }
        .drop("__pid" +: offCols: _*)
    }
  }

  /** Exact Pearson correlation matrix over k integer-valued columns in
    * ONE fact scan: every Σx, Σx² and pairwise Σxy is an exact int64
    * sum from a single combinable global aggregation (k²/2 + 2k sums,
    * map-side partial), and the correlation itself is the textbook
    *   (n·Σxy − ΣxΣy) / (√(n·Σx²−(Σx)²) · √(n·Σy²−(Σy)²))
    * evaluated as a FIXED double expression over those exact integers
    * — IEEE multiply/divide/sqrt are correctly rounded, so identical
    * integer inputs give bit-identical doubles on any engine; only
    * float SUMMATION order drifts, and no float is ever summed here.
    *
    * Rows with a NULL in ANY listed column are dropped (complete-case
    * — one shared n keeps the matrix positive-semidefinite). Output:
    * one row per unordered pair in input order, carrying the shared n,
    * both moment sums, Σxy, and `corr` (NULL when a side is constant —
    * zero variance has no correlation, not a 0.0 one).
    *
    * Exactness bound (documented, same discipline as
    * [[chiSquareCells]]): each int64 SUM must stay ≤ 2^53 so its
    * double conversion is exact — values scaled to ≤10⁴ hold through
    * ~9·10⁷ rows per scan (Σx² ≤ n·v² ≤ 2^53); rescale coarser or
    * shard wider scans. The n·Σ products round in double on both engines
    * identically, so they carry no cross-engine bound.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(cols.map(_._1).distinct.size == cols.size, "duplicate column name")
    val named = df.select(cols.map { case (n, c) => c.cast("long").as(n) }: _*)
      .na.drop("any")
    val aggs =
      cols.map { case (n, _) => sum(col(n)).as(s"__s_$n") } ++
      cols.map { case (n, _) => sum(col(n) * col(n)).as(s"__q_$n") } ++
      cols.combinations(2).map { case Seq((a, _), (b, _)) =>
        sum(col(a) * col(b)).as(s"__p_${a}_$b") }.toSeq
    // one row; eagerly materialized so the per-pair projections below
    // share ONE fact scan instead of re-deriving the aggregation each
    val m = named.agg(count(lit(1)).as("n"), aggs: _*).localCheckpoint(true)
    // n·Σ products can exceed int64 — they are formed in DOUBLE from
    // the exact int64 sums (correctly-rounded multiply: deterministic
    // on any engine; an int64 product would overflow differently per
    // engine — DuckDB throws, Spark wraps)
    def d(c: Column) = c.cast("double")
    cols.combinations(2).map { case Seq((a, _), (b, _)) =>
      val va = d(col("n")) * d(col(s"__q_$a")) - d(col(s"__s_$a")) * d(col(s"__s_$a"))
      val vb = d(col("n")) * d(col(s"__q_$b")) - d(col(s"__s_$b")) * d(col(s"__s_$b"))
      val cov = d(col("n")) * d(col(s"__p_${a}_$b")) - d(col(s"__s_$a")) * d(col(s"__s_$b"))
      m.select(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
        col(s"__s_$a").as("sum_a"), col(s"__s_$b").as("sum_b"),
        col(s"__q_$a").as("sumsq_a"), col(s"__q_$b").as("sumsq_b"),
        col(s"__p_${a}_$b").as("sum_ab"),
        when(va > 0 && vb > 0, cov / (sqrt(va) * sqrt(vb))).as("corr"))
    }.reduce(_.unionByName(_))
  }

  /** Benford first-significant-digit audit: the observed count of each
    * leading digit 1–9 against the Benford expectation — the classic
    * fabricated-numbers screen for financial and measurement columns.
    * The expectation log₁₀(1+1/d) is irrational, so it ships as NINE
    * INTEGER CONSTANTS in micro-units (they sum to exactly 10⁶),
    * making every output column exact integer arithmetic: expected
    * counts in micro-row units (`n·C_d`) and the signed deviation
    * `n_d·10⁶ − n·C_d` — no engine-side log, no float anywhere.
    *
    * Scale shape: leading-digit extraction is per-row arithmetic
    * (repeated div-by-10 via floor(log10) would need a float — instead
    * the digit comes from string truncation of the integer part, exact
    * for any magnitude) and the reduction is one combinable 9-group
    * count. Values < 1 or NULL are excluded (no leading digit). Output
    * is always all NINE digits (a digit nobody used carries n_d = 0
    * and its full negative deviation), except on empty input → empty.
    * Exactness bound: n·10⁶ within int64 → n ≤ 9·10¹². */
  def benfordDigits(df: DataFrame, valueCol: Column): DataFrame = {
    val micro = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val expect = map(micro.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(i + 1L), lit(c)) }: _*)
    // ≤9 rows, eagerly materialized: the grand total below reuses it
    // instead of re-deriving the digit counts (a second fact scan)
    val d = df.select(floor(valueCol).cast("long").as("v"))
      .filter(col("v") >= 1)
      .select(substring(col("v").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_d"))
      .localCheckpoint(true)
    // full 1..9 spine: a digit with ZERO observations still owes its
    // row — its deviation −n·C_d is evidence, not absence (empty
    // input stays empty: the NULL-total filter drops the spine)
    val spine = d.agg(sum("n_d").as("n"))
      .filter(col("n").isNotNull)
      .select(explode(sequence(lit(1L), lit(9L))).as("digit"), col("n"))
    spine.join(d, Seq("digit"), "left")
      .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
      .withColumn("expected_micro", col("n") * expect(col("digit")))
      .withColumn("dev_micro", col("n_d") * lit(1000000L) - col("expected_micro"))
      .select("digit", "n_d", "n", "expected_micro", "dev_micro")
  }

  /** k-anonymity audit over a quasi-identifier column set — the
    * privacy/data-governance gate before a dataset ships: every
    * distinct quasi-identifier combination with its group size, an
    * `at_risk` flag for combinations smaller than `k` (those records
    * are re-identifiable by the quasi-identifiers alone), and the
    * global exposure totals (distinct at-risk combinations, records
    * inside them) repeated from a one-row broadcast so the report is
    * self-contained. NULL quasi-values form their own group (SQL GROUP
    * BY semantics on both engines) — absent is itself an identifier.
    *
    * Scale shape: ONE combinable aggregation over the facts into
    * combination-cardinality rows; the exposure totals fold from that
    * table (never a second fact pass) and broadcast back.
    */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2, s"need quasi columns and k >= 2, got $k")
    val combos = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", col("n") < k)
      .localCheckpoint(true) // the exposure totals reuse it
    val tot = combos.agg(
      sum(when(col("at_risk"), 1L).otherwise(0L)).as("combos_at_risk"),
      sum(when(col("at_risk"), col("n")).otherwise(0L)).as("records_at_risk"))
    combos.crossJoin(broadcast(tot))
  }

  /** CUPED variance-reduced A/B means (Deng et al. 2013, "Improving
    * the Sensitivity of Online Controlled Experiments"): each unit's
    * metric Y is adjusted by its PRE-EXPERIMENT covariate X,
    * `Ŷ = Y − θ·(X − E[X])` with `θ = cov(X,Y)/var(X)` pooled across
    * arms — the industry-standard way to shrink experiment confidence
    * intervals without touching the treatment effect (E[Ŷ] = E[Y]
    * because θ·E[X − E[X]] = 0).
    *
    * Exactness: unit-level (x, y) must be integers; θ and the adjusted
    * means are fixed double expressions over the exact pooled int64
    * moments (n·Σ products formed in double — the
    * [[correlationMatrix]] overflow rule). Per arm the output carries
    * the exact n/Σx/Σy plus raw_mean, and
    * `adj_mean = raw_mean − θ·(mean_x − grand_mean_x)` with every
    * operand deterministic. Zero covariate variance → θ undefined →
    * adj_mean NULL (a constant covariate cannot adjust anything).
    *
    * Scale shape: one combinable unit-level aggregation (the caller
    * builds units), one one-row pooled-moment aggregate broadcast
    * back, one arm-level combinable aggregation. Nothing fact-sized
    * shuffles twice.
    */
  def cupedMeans(units: DataFrame, armCol: Column, xCol: Column,
                 yCol: Column): DataFrame = {
    val base = units.select(armCol.as("arm"), xCol.cast("long").as("x"),
        yCol.cast("long").as("y"))
      .filter(col("arm").isNotNull && col("x").isNotNull && col("y").isNotNull)
      .localCheckpoint(true) // pooled and per-arm aggs share one pass
    def d(c: Column) = c.cast("double")
    val pooled = base.agg(count(lit(1)).as("np"), sum("x").as("sxp"),
      sum("y").as("syp"), sum(col("x") * col("x")).as("sxxp"),
      sum(col("x") * col("y")).as("sxyp"))
    val arms = base.groupBy("arm").agg(count(lit(1)).as("n"),
      sum("x").as("sum_x"), sum("y").as("sum_y"))
    val vx = d(col("np")) * d(col("sxxp")) - d(col("sxp")) * d(col("sxp"))
    val cov = d(col("np")) * d(col("sxyp")) - d(col("sxp")) * d(col("syp"))
    arms.crossJoin(broadcast(pooled))
      .withColumn("theta", when(vx > 0, cov / vx))
      .withColumn("raw_mean", d(col("sum_y")) / d(col("n")))
      .withColumn("adj_mean", col("raw_mean") -
        col("theta") * (d(col("sum_x")) / d(col("n")) - d(col("sxp")) / d(col("np"))))
      .select("arm", "n", "sum_x", "sum_y", "theta", "raw_mean", "adj_mean")
  }

  /** Welch's unequal-variance two-sample t statistic over unit-level
    * integer metrics — the A/B significance primitive: per arm the
    * exact int64 (n, Σy, Σy²), then
    *
    *   t  = (m₁ − m₀) / √(v₁/n₁ + v₀/n₀)
    *   df = (v₁/n₁ + v₀/n₀)² / ((v₁/n₁)²/(n₁−1) + (v₀/n₀)²/(n₀−1))
    *
    * with vᵢ the unbiased sample variance `(nΣy² − (Σy)²)/(n(n−1))` —
    * every float a fixed expression over exact integers. Output is ONE
    * row carrying both arms' exact moments beside t and df, so a
    * downstream consumer re-derives anything (CIs, p-values against
    * its own t-table) from the integers. Arms are the two DISTINCT
    * values of `armCol` ordered ascending (arm₀ = lower); requires
    * exactly 2 arms with ≥2 units each, else a named error.
    *
    * Scale shape: one combinable unit aggregation into two rows, then
    * a two-row pivot — nothing else touches the units.
    */
  def welchTTest(units: DataFrame, armCol: Column, yCol: Column): DataFrame = {
    val base = units.select(armCol.as("arm"), yCol.cast("long").as("y"))
      .filter(col("arm").isNotNull && col("y").isNotNull)
    // tiny; the guards' probes ride its checkpoint, the pivot reuses it
    val (arms, guard) = Rounds.checkpoint(base.groupBy("arm").agg(count(lit(1)).as("n"),
      sum("y").as("s"), sum(col("y") * col("y")).as("q")), Nil, count(lit(1)), min("n"))
    val got = guard.getLong(0)
    require(got == 2, s"welchTTest needs exactly 2 arms, got $got")
    require(guard.getLong(1) >= 2, "welchTTest needs >= 2 units per arm")
    def d(c: Column) = c.cast("double")
    // two-row pivot via conditional aggregation against the min arm
    val piv = arms.crossJoin(broadcast(arms.agg(min(col("arm")).as("__lo"))))
      .groupBy()
      .agg(
        max(when(col("arm") === col("__lo"), col("arm"))).as("arm0"),
        max(when(col("arm") =!= col("__lo"), col("arm"))).as("arm1"),
        max(when(col("arm") === col("__lo"), col("n"))).as("n0"),
        max(when(col("arm") =!= col("__lo"), col("n"))).as("n1"),
        max(when(col("arm") === col("__lo"), col("s"))).as("sum0"),
        max(when(col("arm") =!= col("__lo"), col("s"))).as("sum1"),
        max(when(col("arm") === col("__lo"), col("q"))).as("sumsq0"),
        max(when(col("arm") =!= col("__lo"), col("q"))).as("sumsq1"))
    def v(n: Column, s: Column, q: Column) =
      (d(n) * d(q) - d(s) * d(s)) / (d(n) * (d(n) - lit(1.0)))
    val v0 = v(col("n0"), col("sum0"), col("sumsq0")) / d(col("n0"))
    val v1 = v(col("n1"), col("sum1"), col("sumsq1")) / d(col("n1"))
    piv
      .withColumn("mean_diff", d(col("sum1")) / d(col("n1")) - d(col("sum0")) / d(col("n0")))
      .withColumn("se2", v1 + v0)
      .withColumn("t_stat", when(col("se2") > 0, col("mean_diff") / sqrt(col("se2"))))
      .withColumn("welch_df", when(col("se2") > 0,
        col("se2") * col("se2") /
          (v1 * v1 / (d(col("n1")) - lit(1.0)) + v0 * v0 / (d(col("n0")) - lit(1.0)))))
      .select("arm0", "arm1", "n0", "n1", "sum0", "sum1", "sumsq0", "sumsq1",
        "mean_diff", "t_stat", "welch_df")
  }

  /** Two-proportion z-test — the conversion-rate significance
    * primitive ([[welchTTest]] covers means; rates get the pooled
    * z): per arm the exact (n, conversions), then
    *
    *   z = (p₁ − p₀) / √(p̂(1−p̂)(1/n₀ + 1/n₁)),  p̂ pooled
    *
    * every float a fixed expression over exact int64s, the one output
    * row carrying the integers so a consumer re-derives CIs itself.
    * Degenerate pools (p̂ of 0 or 1 — zero variance) report NULL z.
    * Requires exactly 2 arms with ≥1 unit each, else a named error.
    * Scale shape: one combinable unit aggregation into two rows, then
    * the two-row pivot.
    */
  def propZTest(units: DataFrame, armCol: Column, convCol: Column): DataFrame = {
    val base = units.select(armCol.as("arm"), convCol.cast("boolean").as("c"))
      .filter(col("arm").isNotNull && col("c").isNotNull)
    val (arms, Row(got: Long)) = Rounds.checkpoint(base.groupBy("arm").agg(
      count(lit(1)).as("n"), sum(when(col("c"), 1L).otherwise(0L)).as("conv")),
      Nil, count(lit(1)))
    require(got == 2, s"propZTest needs exactly 2 arms, got $got")
    def d(c: Column) = c.cast("double")
    val piv = arms.crossJoin(broadcast(arms.agg(min(col("arm")).as("__lo"))))
      .groupBy()
      .agg(
        max(when(col("arm") === col("__lo"), col("arm"))).as("arm0"),
        max(when(col("arm") =!= col("__lo"), col("arm"))).as("arm1"),
        max(when(col("arm") === col("__lo"), col("n"))).as("n0"),
        max(when(col("arm") =!= col("__lo"), col("n"))).as("n1"),
        max(when(col("arm") === col("__lo"), col("conv"))).as("conv0"),
        max(when(col("arm") =!= col("__lo"), col("conv"))).as("conv1"))
    val p0 = d(col("conv0")) / d(col("n0"))
    val p1 = d(col("conv1")) / d(col("n1"))
    val phat = d(col("conv0") + col("conv1")) / d(col("n0") + col("n1"))
    val se2 = phat * (lit(1.0) - phat) * (lit(1.0) / d(col("n0")) + lit(1.0) / d(col("n1")))
    piv
      .withColumn("rate0", p0).withColumn("rate1", p1)
      .withColumn("rate_diff", p1 - p0)
      .withColumn("z", when(se2 > 0, (p1 - p0) / sqrt(se2)))
      .select("arm0", "arm1", "n0", "n1", "conv0", "conv1",
        "rate0", "rate1", "rate_diff", "z")
  }

  /** Difference-in-differences estimator over unit-period integer
    * metrics — the quasi-experimental effect size when treatment
    * wasn't randomized: with arms t (treated = the HIGHER arm value)
    * and c, `did = (m_t_post − m_t_pre) − (m_c_post − m_c_pre)`, which
    * cancels both the arms' level difference and the common time
    * trend. One output row carries all four cells' exact int64
    * (n, Σy) beside the four means and the estimate — every float a
    * fixed expression over exact integers. Requires exactly 2 arms and
    * at least one unit in each (arm, period) cell, else a named error.
    *
    * Scale shape: one combinable (arm, post) aggregation into four
    * rows, then a four-row pivot; nothing else touches units.
    */
  def diffInDiff(units: DataFrame, armCol: Column, postCol: Column,
                 yCol: Column): DataFrame = {
    val base = units.select(armCol.as("arm"), postCol.cast("boolean").as("post"),
        yCol.cast("long").as("y"))
      .filter(col("arm").isNotNull && col("post").isNotNull && col("y").isNotNull)
    // two rows per arm value, four on valid input (so the collect_set
    // probe stays small); the guards' probes ride its checkpoint, the
    // pivot reuses it
    val (cells, Row(arms: Int, nCells: Long)) = Rounds.checkpoint(
      base.groupBy("arm", "post").agg(count(lit(1)).as("n"), sum("y").as("s")),
      Nil, size(collect_set(col("arm"))), count(lit(1)))
    require(arms == 2, s"diffInDiff needs exactly 2 arms, got $arms")
    require(nCells == 4, "diffInDiff needs units in all four (arm, period) cells")
    def d(c: Column) = c.cast("double")
    def cell(treated: Boolean, post: Boolean, c: String) = {
      val armPick = if (treated) col("arm") =!= col("__lo") else col("arm") === col("__lo")
      max(when(armPick && col("post") === post, col(c)))
    }
    val piv = cells.crossJoin(broadcast(cells.agg(min(col("arm")).as("__lo"))))
      .groupBy()
      .agg(
        max(when(col("arm") === col("__lo"), col("arm"))).as("arm_c"),
        max(when(col("arm") =!= col("__lo"), col("arm"))).as("arm_t"),
        cell(false, false, "n").as("n_c_pre"), cell(false, false, "s").as("sum_c_pre"),
        cell(false, true, "n").as("n_c_post"), cell(false, true, "s").as("sum_c_post"),
        cell(true, false, "n").as("n_t_pre"), cell(true, false, "s").as("sum_t_pre"),
        cell(true, true, "n").as("n_t_post"), cell(true, true, "s").as("sum_t_post"))
    def m(s: String, n: String) = d(col(s)) / d(col(n))
    piv
      .withColumn("m_c_pre", m("sum_c_pre", "n_c_pre"))
      .withColumn("m_c_post", m("sum_c_post", "n_c_post"))
      .withColumn("m_t_pre", m("sum_t_pre", "n_t_pre"))
      .withColumn("m_t_post", m("sum_t_post", "n_t_post"))
      .withColumn("did", (col("m_t_post") - col("m_t_pre")) -
        (col("m_c_post") - col("m_c_pre")))
      .select("arm_c", "arm_t", "n_c_pre", "n_c_post", "n_t_pre", "n_t_post",
        "sum_c_pre", "sum_c_post", "sum_t_pre", "sum_t_post",
        "m_c_pre", "m_c_post", "m_t_pre", "m_t_post", "did")
  }

  /** Per-group simple ordinary-least-squares fit y ~ a + b·x from
    * EXACT int64 moment sums — the per-segment trend/elasticity
    * estimator, computed the [[correlationMatrix]] way: one combinable
    * fact aggregation produces (n, Σx, Σy, Σx², Σxy, Σy²) exactly;
    * slope, intercept and R² are fixed double expressions over those
    * integers (correctly-rounded IEEE multiply/divide — bit-identical
    * on any engine), with the n·Σ cross-products formed in DOUBLE
    * because an int64 product would overflow differently per engine.
    *
    *   slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
    *   intercept = (Σy − slope·Σx) / n
    *   r2 = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))
    *
    * Zero-variance x → NULL slope/intercept/r2 (no fit exists);
    * zero-variance y with varying x → slope 0, r2 NULL (convention:
    * 0/0). Complete-case rows only. Exactness bound as
    * [[correlationMatrix]]: values ≤10⁴ keep every Σ within 2^53
    * through ~9·10⁷ rows PER GROUP.
    */
  def olsPerGroup(df: DataFrame, groupCol: Column, xCol: Column,
                  yCol: Column): DataFrame = {
    val base = df.select(groupCol.as("g"), xCol.cast("long").as("x"),
        yCol.cast("long").as("y"))
      .filter(col("g").isNotNull && col("x").isNotNull && col("y").isNotNull)
    val m = base.groupBy("g").agg(
      count(lit(1)).as("n"),
      sum("x").as("sum_x"), sum("y").as("sum_y"),
      sum(col("x") * col("x")).as("sum_xx"),
      sum(col("x") * col("y")).as("sum_xy"),
      sum(col("y") * col("y")).as("sum_yy"))
    def d(c: Column) = c.cast("double")
    val vx = d(col("n")) * d(col("sum_xx")) - d(col("sum_x")) * d(col("sum_x"))
    val vy = d(col("n")) * d(col("sum_yy")) - d(col("sum_y")) * d(col("sum_y"))
    val cov = d(col("n")) * d(col("sum_xy")) - d(col("sum_x")) * d(col("sum_y"))
    m.withColumn("slope", when(vx > 0, cov / vx))
      .withColumn("intercept",
        when(vx > 0, (d(col("sum_y")) - col("slope") * d(col("sum_x"))) / d(col("n"))))
      .withColumn("r2", when(vx > 0 && vy > 0, (cov / vx) * (cov / vy)))
      .select("g", "n", "sum_x", "sum_y", "sum_xx", "sum_xy", "sum_yy",
        "slope", "intercept", "r2")
  }

  /** Calibration / reliability table of an INTEGER score against a
    * boolean label: equal-width bins over the observed [min, max]
    * assigned by pure int64 arithmetic
    * `bin = min(nBins−1, (s − mn)·nBins div (mx − mn + 1))` — no float
    * ever decides membership, so binning replays exactly on any
    * engine (the classic float-binning failure is a boundary score
    * landing in different bins per engine). Per bin: row count,
    * positive count, exact score sum, the bin's value bounds, and the
    * two diagnostic rates (observed positive rate, mean score) as one
    * IEEE division each — what a reliability diagram plots to decide
    * whether a quality classifier's scores can be thresholded as
    * probabilities.
    *
    * Scale shape: ONE combinable fact aggregation keyed by the bin id
    * after a broadcast join of the one-row (mn, mx) bounds; output is
    * exactly nBins rows — an empty bin (including bins structurally
    * unreachable when the value range spans fewer than nBins integers)
    * carries zero counts and NULL rates instead of vanishing from the
    * reliability table. Empty input → empty output. Degenerate
    * all-one-score input lands in bin 0.
    */
  def calibrationBins(df: DataFrame, scoreCol: Column, labelCol: Column,
                      nBins: Int): DataFrame = {
    require(nBins >= 2, s"need at least 2 bins, got $nBins")
    val base = df.select(scoreCol.cast("long").as("s"),
        labelCol.cast("boolean").as("pos"))
      .filter(col("s").isNotNull && col("pos").isNotNull)
    val bounds = base.agg(min("s").as("mn"), max("s").as("mx"))
    val agg = base.crossJoin(broadcast(bounds))
      .withColumn("bin", least(lit(nBins - 1L),
        expr(s"(s - mn) * $nBins div (mx - mn + 1)")))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("s")).as("sum_score"))
    val spine = bounds.filter(col("mn").isNotNull)
      .select(explode(sequence(lit(0L), lit(nBins - 1L))).as("bin"),
        col("mn"), col("mx"))
    spine.join(agg, Seq("bin"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("n_pos", coalesce(col("n_pos"), lit(0L)))
      .withColumn("sum_score", coalesce(col("sum_score"), lit(0L)))
      .withColumn("bin_lo", col("mn") + expr(s"bin * (mx - mn + 1) div $nBins"))
      .withColumn("bin_hi", col("mn") + expr(s"(bin + 1) * (mx - mn + 1) div $nBins") - 1)
      .withColumn("pos_rate", when(col("n") > 0,
        col("n_pos").cast("double") / col("n").cast("double")))
      .withColumn("mean_score", when(col("n") > 0,
        col("sum_score").cast("double") / col("n").cast("double")))
      .select("bin", "bin_lo", "bin_hi", "n", "n_pos", "sum_score",
        "pos_rate", "mean_score")
  }

  /** Per-group winsorized AND trimmed robust statistics over an
    * integer measure, exactly — the outlier-taming prep step
    * (clip-at-percentile) for training targets and metrics. Bounds
    * are the DISCRETE percentiles (k-th smallest member value,
    * k = ceil(p·n) — an actual member, never an interpolated float),
    * so clipping stays in int64 and both means are one exact sum into
    * one final IEEE division. The percentiles arrive as RATIONALS
    * (pLoNum/pDen, pHiNum/pDen) and k is the integer ceiling division
    * `(pNum·n + pDen − 1) div pDen` — a float ceil(p·n) can land one
    * rank past the exact cutoff when the double product rounds just
    * above an integer (0.07·100 → 7.000000000000001 → ceil 8), so no
    * float ever decides a rank. Ties need no tiebreak: the k-th
    * smallest VALUE of a multiset and the sum over sorted positions
    * [kLo, kHi] are deterministic however equal values are ordered.
    *
    * One pass, no clip-join: the winsorized sum has the closed form
    *   trim_sum + (kLo−1)·lo + (n−kHi)·hi
    * (every value below position kLo clips to lo, above kHi to hi),
    * so ONE per-group window (row_number + count on the same
    * partition) and ONE combinable aggregation produce everything —
    * no second fact scan to apply the bounds.
    *
    * Scale shape: the window partitions by group and orders one
    * group's rows (the [[Analytics]] per-group discipline, never a
    * global sort); everything after is hash aggregation. Output:
    * (group, n, lo, hi, trim_n, trim_sum, wins_sum, trim_mean,
    * wins_mean).
    *
    * r15 note — tally-interval form measured and REJECTED: rewriting
    * the rank window as interval arithmetic over the (g, v) tally
    * (value v owns sorted positions [cum−c+1, cum]; ties need no
    * tiebreak) is row-identical, but the registered query winsorizes
    * near-continuous price cents per SUPPLIER: cells ≈ rows, so the
    * tally adds a full (g, v) exchange + totals join while the
    * cumulative window still walks row-sized cells — controlled A/B
    * 0.28 → 0.87 s (−67%). The rank form's funnel risk needs FEW fat
    * groups AND heavy ties, which no registered caller has; revisit
    * only with such a caller.
    */
  def winsorizedStats(df: DataFrame, groupCol: Column, valueCol: Column,
                      pLoNum: Int, pHiNum: Int, pDen: Int): DataFrame = {
    require(pDen >= 1 && 0 <= pLoNum && pLoNum < pHiNum && pHiNum <= pDen,
      s"need 0 <= pLoNum < pHiNum <= pDen >= 1, got ($pLoNum, $pHiNum, $pDen)")
    val base = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val byV = Window.partitionBy("g").orderBy("v")
    val whole = Window.partitionBy("g")
    val t = base
      .withColumn("rnk", row_number().over(byV))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("kLo", greatest(lit(1L), expr(
        s"($pLoNum * n + ${pDen - 1}) div $pDen")))
      .withColumn("kHi", expr(s"($pHiNum * n + ${pDen - 1}) div $pDen"))
    t.groupBy(col("g"))
      .agg(
        max(col("n")).as("n"),
        max(col("kLo")).as("__kLo"),
        max(col("kHi")).as("__kHi"),
        max(when(col("rnk") === col("kLo"), col("v"))).as("lo"),
        max(when(col("rnk") === col("kHi"), col("v"))).as("hi"),
        sum(when(col("rnk").between(col("kLo"), col("kHi")), 1L)).as("trim_n"),
        sum(when(col("rnk").between(col("kLo"), col("kHi")), col("v"))).as("trim_sum"))
      .withColumn("wins_sum", col("trim_sum") +
        (col("__kLo") - 1) * col("lo") + (col("n") - col("__kHi")) * col("hi"))
      .withColumn("trim_mean",
        col("trim_sum").cast("double") / col("trim_n").cast("double"))
      .withColumn("wins_mean",
        col("wins_sum").cast("double") / col("n").cast("double"))
      .select("g", "n", "lo", "hi", "trim_n", "trim_sum", "wins_sum",
        "trim_mean", "wins_mean")
  }

  /** Spearman rank-correlation matrix: Pearson over tie-averaged ranks,
    * the distribution-free complement to [[correlationMatrix]] (a
    * monotone-but-nonlinear relationship Pearson underreports scores
    * |ρ| → 1 here). Exactness: ranks are DOUBLED average ranks — for a
    * run of `cnt` equal values ending at cumulative position `w`, the
    * averaged rank (w−cnt+1+w)/2 doubles to the integer `2w−cnt+1` —
    * so every Σr/Σr²/Σr_ar_b is an exact integer (DECIMAL(38,0) sums:
    * doubled ranks are O(n), their squares O(n²), and int64 would wrap
    * past n ≈ 1.3M rows; decimal128 holds to n ≈ 10¹²), and ρ is the
    * one fixed double formula over those exact sums.
    *
    * Scale shape: ONE combinable joint value tally (cells ≤ rows) is
    * the only row-sized shuffle; each column's rank map is built on
    * its DISTINCT-value marginal of the cells (groupBy value, then a
    * cumulative window over values — value-cardinality, not
    * row-cardinality) and hash-joined back onto the CELL table; the
    * pair sums are one cell-sized combinable aggregation weighted by
    * the cell counts. Rows with a NULL in ANY column are excluded
    * first so all columns rank the same row set.
    */
  def spearmanMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    val names = cols.map(_._1)
    val rows = df.select(cols.map { case (n, c) => c.cast("long").as(n) }: _*)
      .filter(names.map(col(_).isNotNull).reduce(_ && _))
    // JOINT value tally first (guide §2.3 — shuffle tallies, not rows):
    // cells ≤ rows always, and for the discrete columns this operator
    // targets it is orders of magnitude smaller, so the single
    // combinable groupBy here replaces k row-sized rank joins + one
    // row-sized final aggregation with cell-sized everything. Each
    // column's rank map is the same distinct-value cumulative the old
    // shape used (marginalized from the cells), joined back onto the
    // CELL table; every Σ is weighted by the cell count — identical
    // exact integers, k·(k−1)/2 pair sums unchanged.
    // checkpoint once, counting in the same job: the count feeds
    // [[prefixSums]]' size gate for every column's rank map (each
    // marginal has ≤ nCells rows), and the checkpoint stops the k
    // rank-map subtrees + the join spine from re-running the row-sized
    // tally aggregation
    val (cells, Row(nCells: Long)) = Rounds.checkpoint(rows.groupBy(names.map(col): _*)
      .agg(count(lit(1)).as("__cnt")), Nil, count(lit(1)))
    var t = cells
    for (n <- names) {
      val marg = cells.groupBy(col(n).as("__v")).agg(sum("__cnt").as("__c"))
      val ranks = prefixSums(marg, nCells, Seq(col("__v")), (col("__c"), "__w"))
        .select(col("__v").as(n), (lit(2) * col("__w") - col("__c") + 1).as(s"__r_$n"))
      t = t.join(ranks, n)
    }
    def dec(c: Column) = c.cast("decimal(18,0)")
    def dec38(c: Column) = c.cast("decimal(38,0)")
    val cnt = dec(col("__cnt"))
    val sums = names.flatMap { n =>
      Seq(sum(dec38(dec(col(s"__r_$n")) * cnt)).as(s"s_$n"),
        sum(dec38(dec38(dec(col(s"__r_$n")) * dec(col(s"__r_$n"))) * cnt))
          .as(s"q_$n"))
    } ++ names.combinations(2).map { case Seq(a, b) =>
      sum(dec38(dec38(dec(col(s"__r_$a")) * dec(col(s"__r_$b"))) * cnt))
        .as(s"p_${a}_$b")
    }
    val allAggs = sum(col("__cnt")).as("n") +: sums
    val m = t.agg(allAggs.head, allAggs.tail: _*)
    def dd(c: Column) = c.cast("double")
    val pairs = names.combinations(2).map { case Seq(a, b) =>
      val va = dd(col("n")) * dd(col(s"q_$a")) - dd(col(s"s_$a")) * dd(col(s"s_$a"))
      val vb = dd(col("n")) * dd(col(s"q_$b")) - dd(col(s"s_$b")) * dd(col(s"s_$b"))
      val cv = dd(col("n")) * dd(col(s"p_${a}_$b")) - dd(col(s"s_$a")) * dd(col(s"s_$b"))
      m.select(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
        when(va > 0 && vb > 0, cv / (sqrt(va) * sqrt(vb))).as("rho"))
    }
    pairs.reduce(_.unionByName(_))
  }

  /** Cramér's V association strength for two categorical columns: the
    * [0,1]-normalized chi-square `V = √(χ² / (n·(min(r,c)−1)))` — the
    * "is this association big, not just significant" companion to
    * [[chiSquareCells]], which supplies the per-cell decomposition
    * (full marginal spine, zero-observed cells included). χ² is
    * summed in integer micro-units — each cell's deterministic double
    * contribution floored at 2²⁰ then integer-summed, so the total is
    * order-free (a straight float Σ would drift with partitioning).
    * Output is one row: (n, r_levels, c_levels, chi2_q, cramers_v);
    * a 1-level margin (min(r,c) = 1) yields NULL V.
    */
  def cramersV(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = chiSquareCells(df, aCol, bCol)
      .withColumn("__q", floor(col("contrib") * (1L << 20)).cast("long"))
    cells.agg(min("n").as("n"),
        countDistinct(col("a")).as("r_levels"),
        countDistinct(col("b")).as("c_levels"),
        sum("__q").as("chi2_q"))
      .withColumn("__k",
        least(col("r_levels"), col("c_levels")).cast("long") - 1)
      .withColumn("cramers_v", when(col("__k") > 0,
        sqrt(col("chi2_q").cast("double") / (1L << 20).toDouble /
          (col("n").cast("double") * col("__k").cast("double")))))
      .select("n", "r_levels", "c_levels", "chi2_q", "cramers_v")
  }

  /** Poisson-bootstrap confidence interval for a mean (Chamandy et al.
    * 2012, "Estimating Uncertainty for Massive Data Streams" — the
    * resampling scheme built FOR this execution model): classic
    * bootstrap resampling needs n draws per replicate coordinated
    * across the cluster; the Poisson approximation gives every row an
    * iid Poisson(1) multiplicity per replicate, so B replicates are
    * ONE stateless map (row → B weighted copies) + ONE combinable
    * aggregation — no global coordination, no second scan.
    *
    * Determinism: the replicate-b weight of row `id` inverts the
    * Poisson(1) CDF at a 20-bit uniform carved from
    * `md5(id:b)` (the repo's portable-hash idiom), thresholds
    * pre-scaled to 2²⁰ integers — both engines draw the identical
    * weight. Replicate sums are exact int64; each mean is one IEEE
    * division; `rank_asc` orders the B means (ties by replicate id)
    * so the 2.5%/97.5% CI reads off ranks 1 and B directly.
    * Output: one row per replicate — (replicate, n_eff, sum_cents,
    * mean_cents, rank_asc).
    */
  def poissonBootstrap(df: DataFrame, idCol: Column, centsCol: Column,
                       replicates: Int = 32): DataFrame = {
    require(replicates >= 2 && replicates <= 256,
      s"replicates must be in [2, 256], got $replicates")
    // P(X <= k) for X ~ Poisson(1), scaled to 2^20 and floored
    val cum = Seq(385749L, 771498L, 964372L, 1028664L, 1044738L,
      1047952L, 1048488L, 1048565L, 1048574L)
    val rows = df.select(idCol.cast("string").as("id"), centsCol.cast("long").as("x"))
      .filter(col("id").isNotNull && col("x").isNotNull)
      .withColumn("b", explode(sequence(lit(0), lit(replicates - 1))))
      .withColumn("u", conv(substring(
        md5(concat(col("id"), lit(":"), col("b").cast("string"))), 1, 5), 16, 10)
        .cast("long"))
    val weight = cum.zipWithIndex.foldRight(lit(cum.length.toLong): Column) {
      case ((thr, k), rest) => when(col("u") < thr, k.toLong).otherwise(rest)
    }
    val reps = rows.withColumn("w", weight)
      .groupBy(col("b").cast("long").as("replicate"))
      .agg(sum("w").as("n_eff"), sum(col("w") * col("x")).as("sum_cents"))
      .withColumn("mean_cents", when(col("n_eff") > 0,
        col("sum_cents").cast("double") / col("n_eff").cast("double")))
    reps.withColumn("rank_asc", row_number().over(
        Window.orderBy(col("mean_cents").asc_nulls_last, col("replicate"))).cast("long"))
      .select("replicate", "n_eff", "sum_cents", "mean_cents", "rank_asc")
  }

  /** One-way ANOVA F-statistic — "do the group means differ more than
    * chance": between/within sum-of-squares decomposition over exact
    * integer moments. Cross-engine exactness needs ORDER-FREE sums, so
    * the per-group rational S_g²/n_g is floor-quantized to the integer
    * `S_g² div n_g` BEFORE summation (the documented contract —
    * truncation error ≤ k units against sums of ~N·var, invisible at
    * any real effect size): `ssb_q = Σ_g(S_g² div n_g) − S² div N`,
    * `ssw_q = ΣX² − Σ_g(S_g² div n_g)`, F one double expression.
    * Bound: S_g² must stay in int64 → Σ_g x ≲ 3·10⁹ per group (shard
    * by a secondary key past that). Degenerate inputs (k < 2 or
    * ssw_q ≤ 0) report NULL F. Output one row:
    * (k_groups, n, ssb_q, ssw_q, df_between, df_within, f_stat).
    * Scale shape: one combinable per-group aggregation, one k-row
    * reduction — nothing else.
    */
  def oneWayAnova(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val g = df.select(groupCol.as("g"), valueCol.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)
      .groupBy("g")
      .agg(count(lit(1)).as("n_g"), sum("x").as("s_g"),
        sum(col("x") * col("x")).as("q_g"))
      .withColumn("term", expr("s_g * s_g div n_g"))
    def dd(c: Column) = c.cast("double")
    g.agg(count(lit(1)).as("k_groups"), sum("n_g").as("n"),
        sum("s_g").as("s"), sum("q_g").as("q"), sum("term").as("tsum"))
      .withColumn("ssb_q", col("tsum") - expr("s * s div n"))
      .withColumn("ssw_q", col("q") - col("tsum"))
      .withColumn("df_between", col("k_groups") - 1)
      .withColumn("df_within", col("n") - col("k_groups"))
      .withColumn("f_stat", when(
        col("df_between") > 0 && col("df_within") > 0 && col("ssw_q") > 0,
        (dd(col("ssb_q")) / dd(col("df_between"))) /
          (dd(col("ssw_q")) / dd(col("df_within")))))
      .select("k_groups", "n", "ssb_q", "ssw_q", "df_between", "df_within",
        "f_stat")
  }

  /** Cohen's kappa — inter-rater agreement corrected for chance (the
    * classifier-vs-ground-truth QA number a labeling pipeline
    * reports). From exact integer counts only:
    * `κ = (agree·n − Σ_c m1_c·m2_c) / (n² − Σ_c m1_c·m2_c)` — the
    * n-scaled form of (p_o − p_e)/(1 − p_e), one IEEE division at the
    * end. NULL ratings are excluded pairwise (a rating of NULL is "no
    * rating", not a category). Perfect chance agreement (pe = n²)
    * reports NULL. Bound: n² in int64 → n ≲ 3·10⁹ pairs.
    * Output one row: (n, agree, pe_q, kappa).
    */
  def cohensKappa(df: DataFrame, rater1: Column, rater2: Column): DataFrame = {
    val pairs = df.select(rater1.as("r1"), rater2.as("r2"))
      .filter(col("r1").isNotNull && col("r2").isNotNull)
    val agree = pairs.agg(count(lit(1)).as("n"),
      sum(when(col("r1") === col("r2"), 1L).otherwise(0L)).as("agree"))
    val m1 = pairs.groupBy(col("r1").as("c")).agg(count(lit(1)).as("m1"))
    val m2 = pairs.groupBy(col("r2").as("c")).agg(count(lit(1)).as("m2"))
    val pe = m1.join(m2, "c")
      .agg(coalesce(sum(col("m1") * col("m2")), lit(0L)).as("pe_q"))
    agree.crossJoin(broadcast(pe))
      .withColumn("kappa", when(col("n") * col("n") =!= col("pe_q"),
        (col("agree") * col("n") - col("pe_q")).cast("double") /
          (col("n") * col("n") - col("pe_q")).cast("double")))
      .select("n", "agree", "pe_q", "kappa")
  }

  /** A/B power analysis — the required per-arm sample size to detect a
    * `mdePct`% lift on a unit-level metric at α = 0.05 (two-sided) /
    * 80% power: `n = ⌈(z_{α/2} + z_β)² · 2σ² / δ²⌉` with
    * z constants as literals (1.959964 + 0.841621, squared in-engine
    * so both sides run the identical double ops). μ and σ² come from
    * exact integer moments over the unit metric (one combinable
    * aggregation); δ = mdePct% of μ. Degenerate inputs (μ ≤ 0 or zero
    * variance) report NULL. Output one row:
    * (n_units, sum_v, sumsq_v, mean_v, var_v, mde_v, n_required).
    */
  def powerSampleSize(units: DataFrame, valueCol: Column,
                      mdePct: Int = 5): DataFrame = {
    require(mdePct >= 1 && mdePct <= 100, s"mdePct in [1,100], got $mdePct")
    def dd(c: Column) = c.cast("double")
    units.select(valueCol.cast("long").as("v")).filter(col("v").isNotNull)
      .agg(count(lit(1)).as("n_units"), sum("v").as("sum_v"),
        sum(col("v") * col("v")).as("sumsq_v"))
      .withColumn("mean_v", dd(col("sum_v")) / dd(col("n_units")))
      .withColumn("var_v",
        (dd(col("n_units")) * dd(col("sumsq_v")) - dd(col("sum_v")) * dd(col("sum_v"))) /
          (dd(col("n_units")) * dd(col("n_units"))))
      .withColumn("mde_v", col("mean_v") * lit(mdePct / 100.0))
      .withColumn("n_required", when(col("mean_v") > 0 && col("var_v") > 0,
        ceil(lit(1.959964 + 0.841621) * lit(1.959964 + 0.841621) *
          lit(2.0) * col("var_v") / (col("mde_v") * col("mde_v")))))
      .select("n_units", "sum_v", "sumsq_v", "mean_v", "var_v", "mde_v",
        "n_required")
  }

  /** First-order partial correlation ρ_xy·z — the association of x and
    * y with z "held constant", the confounder screen:
    * `(ρxy − ρxz·ρyz) / √((1−ρxz²)(1−ρyz²))` over the three pairwise
    * Pearsons, each the fixed double formula over exact int64 moments
    * from ONE fact scan (the [[correlationMatrix]] discipline). NULL
    * when any marginal variance is zero or a denominator term
    * vanishes. Output one row: (n, r_xy, r_xz, r_yz, partial_r).
    */
  def partialCorrelation(df: DataFrame, xCol: (String, Column),
                         yCol: (String, Column), zCol: (String, Column)): DataFrame = {
    val base = df.select(xCol._2.cast("long").as("x"), yCol._2.cast("long").as("y"),
        zCol._2.cast("long").as("z"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("z").isNotNull)
    val m = base.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
      sum(col("x") * col("x")).as("qx"), sum(col("y") * col("y")).as("qy"),
      sum(col("z") * col("z")).as("qz"),
      sum(col("x") * col("y")).as("pxy"), sum(col("x") * col("z")).as("pxz"),
      sum(col("y") * col("z")).as("pyz"))
    def dd(c: Column) = c.cast("double")
    def r(p: Column, sa: Column, sb: Column, qa: Column, qb: Column) = {
      val va = dd(col("n")) * dd(qa) - dd(sa) * dd(sa)
      val vb = dd(col("n")) * dd(qb) - dd(sb) * dd(sb)
      when(va > 0 && vb > 0,
        (dd(col("n")) * dd(p) - dd(sa) * dd(sb)) / (sqrt(va) * sqrt(vb)))
    }
    m.withColumn("r_xy", r(col("pxy"), col("sx"), col("sy"), col("qx"), col("qy")))
      .withColumn("r_xz", r(col("pxz"), col("sx"), col("sz"), col("qx"), col("qz")))
      .withColumn("r_yz", r(col("pyz"), col("sy"), col("sz"), col("qy"), col("qz")))
      .withColumn("partial_r", when(
        col("r_xy").isNotNull && col("r_xz").isNotNull && col("r_yz").isNotNull &&
          (lit(1.0) - col("r_xz") * col("r_xz")) * (lit(1.0) - col("r_yz") * col("r_yz")) > 0,
        (col("r_xy") - col("r_xz") * col("r_yz")) /
          sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
            (lit(1.0) - col("r_yz") * col("r_yz")))))
      .select("n", "r_xy", "r_xz", "r_yz", "partial_r")
  }

  /** Exact 1-D earth mover's distance per group vs the whole corpus —
    * the INTEGRAL companion to [[Analytics.ksDrift]]'s max-deviation
    * (KS is blind to how long a small CDF gap persists; EMD = ∫|F_g −
    * F_corpus| dv charges for it). Same cross-multiplied-rational
    * discipline as ksDrift: at each support value,
    * dev = |n_corp·cum_g − n_g·cum_corp| (exact int), weighted by the
    * gap to the NEXT support value (both CDFs are flat between support
    * points, and both reach 1 after the last — the last point carries
    * no gap), `emd_num = Σ dev·gap` exact, emd = one division by
    * n_corp·n_g. Output per group: (group, n_group, n_total, emd_num,
    * emd). Bound: dev ≤ n_corp·n_g and Σgap = range, so emd_num ≤
    * n_corp·n_g·range — int64-safe for value ranges ≲ 10⁴ at 10⁷ rows;
    * quantize wider domains first.
    * Scale shape: ksDrift's — per-(group, value) combinable counts,
    * a support×groups cumulative window (value-cardinality), one
    * group-keyed reduction.
    */
  def emd1d(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val vals = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
    val sCounts = vals.groupBy("grp", "v").agg(count(lit(1)).as("n_sv"))
    val groups = vals.groupBy("grp").agg(count(lit(1)).as("n_s"))
    val support = vals.select("v").distinct()
    val total = vals.agg(count(lit(1)).as("n_g")) // one row, broadcast
    val run = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nxt = Window.partitionBy("grp").orderBy("v")
    val cum = groups.crossJoin(broadcast(support))
      .join(sCounts, Seq("grp", "v"), "left")
      .withColumn("cum_s", sum(coalesce(col("n_sv"), lit(0L))).over(run))
      .withColumn("gap", coalesce(lead(col("v"), 1).over(nxt) - col("v"), lit(0L)))
    val gcum = cum.groupBy("v").agg(sum("cum_s").as("cum_g"))
    cum.join(gcum, "v").crossJoin(broadcast(total))
      .withColumn("dev", abs(col("n_g") * col("cum_s") - col("n_s") * col("cum_g")))
      .groupBy(col("grp").as(groupCol))
      .agg(min("n_s").as("n_group"), min("n_g").as("n_total"),
        sum(col("dev") * col("gap")).as("emd_num"))
      .withColumn("emd", col("emd_num").cast("double") /
        (col("n_total") * col("n_group")).cast("double"))
  }

  /** Kruskal–Wallis H — the rank-based one-way ANOVA ("do the group
    * DISTRIBUTIONS differ", robust to non-normal values): tie-averaged
    * ranks via the value-cardinality rank table ([[spearmanMatrix]]'s
    * cumulative-count construction — never a row window), per-group
    * double-rank sums S_g exact int64, Σ S_g²/n_g floor-quantized per
    * group in DECIMAL(38,0) before the integer sum (order-free; the
    * ≤k-units truncation is invisible at any real H), and the tie
    * correction Σ(t³−t) summed in decimal. H and the tie-adjusted
    * H/C are fixed double expressions over those exact integers
    * (the N³-scale internals stay decimal and are NOT emitted — the
    * registry-wide no-decimal-in-the-emitted-row convention).
    * Output one row: (n, k_groups, h_stat, h_adj).
    * Scale shape: one combinable (group, value) count, a
    * value-cardinality rank table, k-row reductions — no row windows.
    */
  def kruskalWallis(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val rows = df.select(groupCol.as("g"), round(valueCol).cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val cells = rows.groupBy("g", "v").agg(count(lit(1)).as("m"))
    // checkpoint once, counting in the same job: gate for the
    // size-dispatched cumsum, and the ranked/tieSum branches read the
    // tally instead of re-aggregating the fact table
    val (perValue, Row(nValues: Long)) = Rounds.checkpoint(
      cells.groupBy("v").agg(sum("m").as("t")), Nil, count(lit(1)))
    // double-rank dr(v) = 2·avgrank = 2w − t + 1 over the value table
    val ranked = prefixSums(perValue, nValues, Seq(col("v")), (col("t"), "w"))
      .select(col("v"), (lit(2) * col("w") - col("t") + 1).as("dr"))
    val perGroup = cells.join(ranked, "v")
      .groupBy("g")
      .agg(sum("m").as("n_g"), sum(col("m") * col("dr")).as("s_g"))
    val tieSum = perValue.agg(
      coalesce(sum((col("t").cast(dec) * col("t") * col("t") - col("t"))
        .cast(dec)), lit(0).cast(dec)).cast(dec).as("tie_cub"))
    def dd(c: Column) = c.cast("double")
    perGroup.agg(
        sum("n_g").as("n"), count(lit(1)).as("k_groups"),
        // floor(S_g²/n_g) per group, integer-summed — order-free
        sum(org.apache.spark.sql.graftbridge.Bridge.column(
          new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
            org.apache.spark.sql.graftbridge.Bridge.expression(
              (col("s_g").cast(dec) * col("s_g").cast(dec)).cast(dec)),
            org.apache.spark.sql.graftbridge.Bridge.expression(
              col("n_g").cast(dec)))).cast(dec)).cast(dec).as("rank_t"))
      .crossJoin(broadcast(tieSum))
      .withColumn("h_stat", when(col("n") > 1,
        lit(3.0) * dd(col("rank_t")) / (dd(col("n")) * (dd(col("n")) + 1.0)) -
          lit(3.0) * (dd(col("n")) + 1.0)))
      .withColumn("h_adj", when(col("n") > 2 &&
          dd(col("tie_cub")) < dd(col("n")) * dd(col("n")) * dd(col("n")) - dd(col("n")),
        col("h_stat") / (lit(1.0) - dd(col("tie_cub")) /
          (dd(col("n")) * dd(col("n")) * dd(col("n")) - dd(col("n"))))))
      .select(col("n"), col("k_groups"), col("h_stat"), col("h_adj"))
  }

  /** McNemar's test for paired binary outcomes ("did the treatment
    * flip answers asymmetrically"): the discordant-pair counts b (yes
    * under A only) and c (yes under B only) are exact int64 sums; the
    * continuity-corrected statistic (|b−c|−1)²/(b+c) is one fixed
    * double expression. Output one row: (n_pairs, b_only, c_only,
    * chi2) — chi2 NULL when b+c = 0 (no discordance, nothing to test).
    * Scale shape: one combinable aggregation over the unit frame.
    */
  def mcnemar(units: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val u = units.select(aCol.cast("boolean").as("a"), bCol.cast("boolean").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    u.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("b_only"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("c_only"))
      .withColumn("chi2", when(col("b_only") + col("c_only") > 0,
        (abs(col("b_only") - col("c_only")) - lit(1)).cast("double") *
          (abs(col("b_only") - col("c_only")) - lit(1)).cast("double") /
          (col("b_only") + col("c_only")).cast("double")))
  }

  /** Murphy decomposition of the Brier score — reliability −
    * resolution + uncertainty, the "is the forecast sharp AND
    * calibrated" companion to [[calibrationBins]] (same min-max
    * integer binning over the score column). Every term is a fixed
    * double expression over exact per-bin integers: with the score
    * normalized to p = (s−mn)/(mx−mn+1−1)… kept as the bin's exact
    * mean score over the integer score domain, reliability =
    * Σ n_b(p̄_b − ȳ_b)²/N, resolution = Σ n_b(ȳ_b − ȳ)²/N,
    * uncertainty = ȳ(1−ȳ). Per-bin doubles are floor-quantized at
    * 2²⁰ and integer-summed, so the totals are order-free. Output one
    * row: (n, n_bins_used, rel_q, res_q, reliability, resolution,
    * uncertainty, brier).
    */
  def brierDecomposition(df: DataFrame, scoreCol: Column, labelCol: Column,
                         nBins: Int): DataFrame = {
    require(nBins >= 2, s"need at least 2 bins, got $nBins")
    val base = df.select(scoreCol.cast("long").as("s"),
        labelCol.cast("boolean").as("pos"))
      .filter(col("s").isNotNull && col("pos").isNotNull)
    val bounds = base.agg(min("s").as("mn"), max("s").as("mx"))
    def dd(c: Column) = c.cast("double")
    val binned = base.crossJoin(broadcast(bounds))
      .withColumn("bin", least(lit(nBins - 1L),
        org.apache.spark.sql.graftbridge.Bridge.column(
          new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
            org.apache.spark.sql.graftbridge.Bridge.expression(
              (col("s") - col("mn")) * nBins),
            org.apache.spark.sql.graftbridge.Bridge.expression(
              col("mx") - col("mn") + 1)))))
      // p = score scaled into [0,1] over the integer domain
      .withColumn("p", (col("s") - col("mn")).cast("double") /
        (col("mx") - col("mn") + 1).cast("double"))
    val bins = binned.groupBy("bin")
      .agg(count(lit(1)).as("n_b"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("pos_b"),
        sum((col("s") - col("mn"))).as("ss_b"))
    val tot = bins.agg(sum("n_b").as("n"), sum("pos_b").as("n_pos"),
      count(lit(1)).as("n_bins_used"))
    val span = bounds.select((col("mx") - col("mn") + 1).cast("double").as("dspan"))
    val terms = bins.crossJoin(broadcast(tot)).crossJoin(broadcast(span))
      .withColumn("pbar", dd(col("ss_b")) / (dd(col("n_b")) * col("dspan")))
      .withColumn("ybar_b", dd(col("pos_b")) / dd(col("n_b")))
      .withColumn("ybar", dd(col("n_pos")) / dd(col("n")))
      // per-bin floor-quantized contributions — order-free int sums
      .withColumn("rel_t", floor(dd(col("n_b")) *
        (col("pbar") - col("ybar_b")) * (col("pbar") - col("ybar_b")) *
        1048576.0).cast("long"))
      .withColumn("res_t", floor(dd(col("n_b")) *
        (col("ybar_b") - col("ybar")) * (col("ybar_b") - col("ybar")) *
        1048576.0).cast("long"))
    terms.agg(min("n").as("n"), min("n_bins_used").as("n_bins_used"),
        min("n_pos").as("n_pos"),
        sum("rel_t").as("rel_q"), sum("res_t").as("res_q"))
      .withColumn("reliability", dd(col("rel_q")) / (dd(col("n")) * 1048576.0))
      .withColumn("resolution", dd(col("res_q")) / (dd(col("n")) * 1048576.0))
      .withColumn("uncertainty", dd(col("n_pos")) / dd(col("n")) *
        (lit(1.0) - dd(col("n_pos")) / dd(col("n"))))
      .withColumn("brier",
        col("reliability") - col("resolution") + col("uncertainty"))
      .select("n", "n_bins_used", "n_pos", "rel_q", "res_q",
        "reliability", "resolution", "uncertainty", "brier")
  }

  /** Mutual information between two categorical columns in integer
    * micro-nats — the dependence-strength companion to
    * [[chiSquareCells]]/[[cramersV]] that answers "how many nats does
    * knowing A tell you about B". Exactness contract =
    * `groupEntropy`'s: each CELL's ln term is floor-quantized at 2²⁰
    * (a deterministic double per cell), weighted by the exact cell
    * count and integer-summed — order-free; `mi_q = Σ n_ab ·
    * floor(ln(n_ab·N/(n_a·n_b))·2²⁰) div N` (micro-nat-ish 2⁻²⁰ nat
    * units). Bound: n_a·n_b ≤ N² must stay double-exact → N ≤ ~9·10⁷
    * per scan (shard past that). Output one row:
    * (n, a_levels, b_levels, mi_q).
    */
  def mutualInformation(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val base = df.select(aCol.as("a"), bCol.as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val cells = base.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
    val ma = cells.groupBy("a").agg(sum("n_ab").as("n_a"))
    val mb = cells.groupBy("b").agg(sum("n_ab").as("n_b"))
    val nn = cells.agg(sum("n_ab").as("n"),
      countDistinct("a").as("a_levels"), countDistinct("b").as("b_levels"))
    def dd(c: Column) = c.cast("double")
    cells.join(broadcast(ma), "a").join(broadcast(mb), "b")
      .crossJoin(broadcast(nn))
      .withColumn("term", col("n_ab") *
        floor(log(dd(col("n_ab")) * dd(col("n")) /
          (dd(col("n_a")) * dd(col("n_b")))) * 1048576).cast("long"))
      .agg(min("n").as("n"), min("a_levels").as("a_levels"),
        min("b_levels").as("b_levels"),
        expr("sum(term) div min(n)").as("mi_q"))
  }

  /** Kendall's τ-b rank correlation (r12) — the third correlation
    * beside Pearson (correlationMatrix) and Spearman (spearmanMatrix),
    * the one that stays meaningful under heavy ties. Computed EXACTLY
    * over the joint frequency table: with V distinct (x, y) cells the
    * concordant/discordant/tie pair counts come from a V² cell
    * self-join, never an n² row join — V is domain-bounded (quantity ×
    * discount is ≤ 50·11 cells at any corpus size), so the plan is one
    * combinable count + a broadcast-sized join however large the fact
    * table. Pair counts are DECIMAL(38,0) INTERNALLY (n(n−1)/2
    * overflows int64 past ~4.3e9 rows, the same bound Spearman's rank
    * squares hit) but EMITTED as BIGINT behind a named overflow guard —
    * the registry-wide convention is no decimal in the emitted row (the
    * r12 gate proved the driver's hash canonicalization diverges on
    * DECIMAL columns even when values are bit-exact), and int64 pair
    * counts hold to ~4.3e9 input rows, beyond any verify/bench scale.
    *
    * τ-b = (C − D) / √((n0 − n1)(n0 − n2)), n0 = n(n−1)/2, n1/n2 the
    * tie-pair counts per x / per y — one fixed double expression over
    * the exact decimals; NULL when either margin is fully tied.
    */
  def kendallTau(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    // round before the long cast: a raw fractional column (e.g. an
    // un-scaled l_discount) must not silently truncate toward zero and
    // collapse its domain — match the oracle's round(...)::BIGINT.
    val cells = df.filter(xCol.isNotNull && yCol.isNotNull)
      .groupBy(round(xCol).cast("long").as("x"),
        round(yCol).cast("long").as("y"))
      .agg(count(lit(1)).as("m"))
    // every unordered cell pair once: (a.x, a.y) < (b.x, b.y) lexicographic
    val pairs = cells.as("a").join(cells.as("b"),
      col("a.x") < col("b.x") ||
        (col("a.x") === col("b.x") && col("a.y") < col("b.y")))
    val prod = (col("a.m").cast(dec) * col("b.m").cast(dec))
    val pairAgg = pairs.agg(
      coalesce(sum(when((col("b.x") - col("a.x")) * (col("b.y") - col("a.y")) > 0, prod)
        .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).cast(dec).as("c_pairs"),
      coalesce(sum(when((col("b.x") - col("a.x")) * (col("b.y") - col("a.y")) < 0, prod)
        .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).cast(dec).as("d_pairs"))
    // t(t−1) is always even, so the /2 is exact in decimal
    def tiePairs(k: String, out: String) = cells.groupBy(col(k))
      .agg(sum("m").as("t"))
      .agg(sum((col("t").cast(dec) * (col("t") - 1).cast(dec) / 2).cast(dec))
        .cast(dec).as(out))
    val margins = df.filter(xCol.isNotNull && yCol.isNotNull)
      .agg(count(lit(1)).as("n"))
      .withColumn("n0",
        (col("n").cast(dec) * (col("n") - 1).cast(dec) / 2).cast(dec))
    val txDf = tiePairs("x", "ties_x")
    val tyDf = tiePairs("y", "ties_y")
    // tau is computed over the exact decimals; the pair counts are
    // then narrowed to BIGINT behind a named guard (they fit int64
    // whenever n < ~4.3e9 — the guard names the operator so an
    // overflow at extreme scale fails loudly, never wraps).
    def asLong(name: String): Column = guardedLong(name, "kendallTau")
    margins.crossJoin(pairAgg).crossJoin(broadcast(txDf)).crossJoin(broadcast(tyDf))
      .withColumn("tau",
        when((col("n0") > col("ties_x")) && (col("n0") > col("ties_y")),
          (col("c_pairs") - col("d_pairs")).cast("double") /
            sqrt((col("n0") - col("ties_x")).cast("double") *
              (col("n0") - col("ties_y")).cast("double"))))
      .select(col("n"), asLong("c_pairs"), asLong("d_pairs"),
        asLong("ties_x"), asLong("ties_y"), col("tau"))
  }

  /** Narrow an internal DECIMAL(38,0) to the registry's emitted BIGINT
    * behind a named overflow guard (the kendallTau convention): values
    * fit int64 at every verify/bench scale, and an overflow at extreme
    * scale fails loudly with the operator's name, never wraps.
    */
  private[graft] def guardedLong(name: String, op: String): Column = {
    val maxLong = lit("9223372036854775807").cast("decimal(38,0)")
    when(col(name) > maxLong, raise_error(concat(
      lit(s"graft.$op: $name overflows BIGINT at this scale ("),
      col(name).cast("string"), lit(") — widen the emitted type"))))
      .otherwise(col(name).cast("long")).as(name)
  }

  /** Cochran's Q test for k related binary treatments ("did the same
    * units respond differently across the k conditions") — the
    * k-treatment generalization of [[mcnemar]]. With column totals
    * C_j, row totals R_i, grand total N over n complete units:
    * Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²), χ²(k−1) under H0.
    * Every sum is an exact int64 aggregate; Q is one fixed double
    * expression (the k-term ΣC_j² is a written-order fold of exact
    * integers, identical in the oracle). Units with any NULL treatment
    * are excluded (listwise complete — Q requires complete blocks).
    * Output one row: (n_units, k_treat, n_yes, r_sq, q_stat) —
    * q_stat NULL when the denominator k·N − ΣR_i² = 0 (all rows
    * all-yes or all-no: nothing varies within units).
    *
    * Scale shape: ONE combinable aggregation over the unit frame.
    */
  def cochranQ(units: DataFrame, treatments: Seq[(String, Column)]): DataFrame = {
    require(treatments.size >= 2, s"cochranQ needs >= 2 treatments, got ${treatments.size}")
    val k = treatments.size
    val u = units.select(treatments.map { case (n, c) => c.cast("boolean").as(n) }: _*)
      .filter(treatments.map { case (n, _) => col(n).isNotNull }.reduce(_ && _))
    val rowSum = treatments.map { case (n, _) => when(col(n), 1L).otherwise(0L) }
      .reduce(_ + _)
    val aggs = Seq(count(lit(1)).as("n_units"),
      coalesce(sum(rowSum), lit(0L)).as("n_yes"),
      coalesce(sum(rowSum * rowSum), lit(0L)).as("r_sq")) ++
      treatments.map { case (n, _) =>
        coalesce(sum(when(col(n), 1L).otherwise(0L)), lit(0L)).as(s"__c_$n") }
    def dd(c: Column) = c.cast("double")
    val cSqDouble = treatments
      .map { case (n, _) => dd(col(s"__c_$n")) * dd(col(s"__c_$n")) }
      .reduce(_ + _)
    u.agg(aggs.head, aggs.tail: _*)
      .withColumn("k_treat", lit(k.toLong))
      .withColumn("q_stat",
        when(lit(k.toLong) * col("n_yes") - col("r_sq") > 0,
          lit((k - 1).toDouble) * (lit(k.toDouble) * cSqDouble -
            dd(col("n_yes")) * dd(col("n_yes"))) /
            dd(lit(k.toLong) * col("n_yes") - col("r_sq"))))
      .select(col("n_units"), col("k_treat"), col("n_yes"), col("r_sq"),
        col("q_stat"))
  }

  /** Wilcoxon signed-rank test for paired integer measurements: drop
    * zero differences, tie-average the ranks of |d| via the
    * value-cardinality double-rank table (the [[kruskalWallis]]
    * construction — dr(v) = 2·avgrank = 2w − t + 1, so every rank sum
    * is an exact integer), W⁺ in 2×-rank units, and the normal
    * approximation z = (2W⁺ − n(n+1)/2) / √(n(n+1)(2n+1)/6 − Στ/12)
    * with tie correction Στ = Σ(t³ − t) — one fixed double expression
    * over the exact sums. Στ is DECIMAL(38,0) internally (t³ passes
    * int64 near t ≈ 2·10⁶ equal diffs) and emitted as a guarded
    * BIGINT. Output one row: (n_pairs, n_zero, n_eff, w_plus2,
    * tie_cub, z_stat) — z NULL when n_eff = 0 or the variance is 0.
    *
    * Scale shape: one combinable pair reduction, then everything runs
    * on the |d|-value-cardinality cell table.
    */
  def wilcoxonSignedRank(units: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val diffs = units
      .select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .select((col("x") - col("y")).as("diff"))
    val counts = diffs.agg(count(lit(1)).as("n_pairs"),
      coalesce(sum(when(col("diff") === 0L, 1L).otherwise(0L)), lit(0L)).as("n_zero"))
    val (cells, Row(nCells: Long)) = Rounds.checkpoint(diffs.filter(col("diff") =!= 0L)
      .groupBy(abs(col("diff")).as("a"))
      .agg(count(lit(1)).as("t"),
        sum(when(col("diff") > 0, 1L).otherwise(0L)).as("p")), Nil, count(lit(1)))
    val ranked = prefixSums(cells, nCells, Seq(col("a")), (col("t"), "w"))
      .withColumn("dr", lit(2) * col("w") - col("t") + 1)
    def dd(c: Column) = c.cast("double")
    ranked.agg(
        coalesce(sum("t"), lit(0L)).as("n_eff"),
        coalesce(sum(col("p") * col("dr")), lit(0L)).as("w_plus2"),
        coalesce(sum((col("t").cast(dec) * col("t") * col("t") - col("t")).cast(dec)),
          lit(0).cast(dec)).cast(dec).as("tie_cub"))
      .crossJoin(broadcast(counts))
      .withColumn("__var4",
        dd(col("n_eff")) * (dd(col("n_eff")) + 1.0) *
          (lit(2.0) * dd(col("n_eff")) + 1.0)
          / 6.0 - dd(col("tie_cub")) / 12.0)
      .withColumn("z_stat", when(col("n_eff") > 0 && col("__var4") > 0,
        (dd(col("w_plus2")) - dd(col("n_eff")) * (dd(col("n_eff")) + 1.0) / 2.0) /
          sqrt(col("__var4"))))
      .select(col("n_pairs"), col("n_zero"), col("n_eff"), col("w_plus2"),
        guardedLong("tie_cub", "wilcoxonSignedRank"), col("z_stat"))
  }

  /** Friedman rank test over COMPLETE blocks (every block carries a
    * value for every treatment — the caller zero-fills; a ragged
    * frame raises a named error rather than silently mis-ranking):
    * tie-averaged within-block double-ranks from the per-(block,
    * value) tally table, per-treatment rank sums R2_j = 2·ΣR_j exact
    * int64, and the tie-general statistic
    * χ² = (k−1)·(ΣR2_j² − n²k(k+1)²) / (A4 − nk(k+1)²) with
    * A4 = Σ over all cells of dr² (= 4·Σr²) — one fixed double
    * expression (ΣR2_j² folds k written-order double terms in the
    * oracle too). Output one row per treatment: (treat, n_blocks,
    * r2_sum, chi2) — chi2 identical on every row, NULL when the
    * denominator is 0 (all values tied within every block).
    *
    * Scale shape: ranking runs on per-block value tallies (≤ k cells
    * per block, window PARTITIONED by block); the statistic reduces
    * the treatment table (k rows).
    */
  def friedmanTest(cells: DataFrame, blockCol: Column, treatCol: Column,
                   valueCol: Column): DataFrame = {
    val rows = cells.select(blockCol.as("b"), treatCol.cast("string").as("j"),
        valueCol.cast("long").as("v"))
      .filter(col("b").isNotNull && col("j").isNotNull && col("v").isNotNull)
    val vc = rows.groupBy("b", "v").agg(count(lit(1)).as("t"))
    val rk = vc
      .withColumn("w", sum("t").over(Window.partitionBy("b").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("b"), col("v"), (lit(2) * col("w") - col("t") + 1).as("dr"))
    val dr = rows.join(rk, Seq("b", "v"))
    // completeness guard: every block must have the same treatment
    // count, no duplicate (block, treatment) rows, AND every block's
    // treatments must be the SAME set — uniform per-block distinct
    // count alone admits equal-sized blocks drawn from different
    // treatment subsets (b1={a,b}, b2={b,c}), whose rank sums are
    // incomparable; requiring the GLOBAL distinct-treatment count to
    // equal the per-block count pins every block to the full set
    val kGlobal = rows.agg(countDistinct("j").as("k_global"))
    val shape = rows.groupBy("b")
      .agg(count(lit(1)).as("sz"), countDistinct("j").as("ts"))
      .agg(count(lit(1)).as("n_blocks"),
        countDistinct("sz").as("n_sizes"), min("sz").as("k_sz"),
        coalesce(sum(when(col("sz") =!= col("ts"), 1L).otherwise(0L)), lit(0L))
          .as("n_dup"))
      .crossJoin(broadcast(kGlobal))
      .select(col("n_blocks"),
        when(col("n_sizes") > 1 || col("n_dup") > 0 ||
            col("k_global") =!= col("k_sz"), raise_error(lit(
          "graft.friedmanTest: blocks are not complete/unique — zero-fill " +
            "every (block, treatment) cell exactly once")))
          .otherwise(col("k_sz")).as("k_treat"))
    val perTreat = dr.groupBy("j").agg(count(lit(1)).as("n_blocks_t"),
      coalesce(sum("dr"), lit(0L)).as("r2_sum"))
    def dd(c: Column) = c.cast("double")
    val stat = perTreat.agg(
        coalesce(sum((col("r2_sum").cast("decimal(38,0)") * col("r2_sum"))
          .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("__rsq0"))
      .withColumn("__rsq", col("__rsq0").cast("double"))
      .crossJoin(broadcast(dr.agg(
        coalesce(sum(col("dr") * col("dr")), lit(0L)).as("__a4"))))
      .crossJoin(broadcast(shape))
      .withColumn("__kp1sq", (dd(col("k_treat")) + 1.0) * (dd(col("k_treat")) + 1.0))
      .withColumn("__den", dd(col("__a4")) -
        dd(col("n_blocks")) * dd(col("k_treat")) * col("__kp1sq"))
      .withColumn("chi2", when(col("__den") > 0,
        (dd(col("k_treat")) - 1.0) * (col("__rsq") -
          dd(col("n_blocks")) * dd(col("n_blocks")) * dd(col("k_treat")) *
            col("__kp1sq")) / col("__den")))
      .select(col("n_blocks"), col("k_treat"), col("chi2"))
    perTreat.select(col("j").as("treat"), col("n_blocks_t"), col("r2_sum"))
      .crossJoin(broadcast(stat))
  }

  /** Cohen's d standardized effect size between two arms (pooled-SD
    * form) with the small-sample Hedges' g correction
    * g = d·(1 − 3/(4(n1+n2) − 9)): counts and value sums exact int64,
    * squared sums DECIMAL(38,0) internal, d and g fixed double
    * expressions over them. Output one row: (n1, n2, s1, s2, d_stat,
    * g_stat) — NULL when either arm is empty or the pooled variance
    * is 0. The significance companion is [[welchTTest]] /
    * [[permutationTest]]; d answers "how big", not "how sure".
    */
  def cohensD(units: DataFrame, armCol: Column, valueCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val u = units.select(armCol.cast("boolean").as("g"), valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    def dd(c: Column) = c.cast("double")
    u.agg(
        coalesce(sum(when(col("g"), 1L).otherwise(0L)), lit(0L)).as("n1"),
        coalesce(sum(when(!col("g"), 1L).otherwise(0L)), lit(0L)).as("n2"),
        coalesce(sum(when(col("g"), col("v")).otherwise(0L)), lit(0L)).as("s1"),
        coalesce(sum(when(!col("g"), col("v")).otherwise(0L)), lit(0L)).as("s2"),
        coalesce(sum(when(col("g"), col("v").cast(dec) * col("v"))
          .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).cast(dec).as("__q1"),
        coalesce(sum(when(!col("g"), col("v").cast(dec) * col("v"))
          .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).cast(dec).as("__q2"))
      .withColumn("__pooled", when(col("n1") > 0 && col("n2") > 0 &&
          col("n1") + col("n2") > 2,
        (dd(col("__q1")) - dd(col("s1")) * dd(col("s1")) / dd(col("n1")) +
          dd(col("__q2")) - dd(col("s2")) * dd(col("s2")) / dd(col("n2"))) /
          (dd(col("n1")) + dd(col("n2")) - 2.0)))
      .withColumn("d_stat", when(col("n1") > 0 && col("n2") > 0 && col("__pooled") > 0,
        (dd(col("s1")) / dd(col("n1")) - dd(col("s2")) / dd(col("n2"))) /
          sqrt(col("__pooled"))))
      .withColumn("g_stat", col("d_stat") *
        (lit(1.0) - lit(3.0) / (lit(4.0) * (dd(col("n1")) + dd(col("n2"))) - 9.0)))
      .select(col("n1"), col("n2"), col("s1"), col("s2"), col("d_stat"),
        col("g_stat"))
  }

  /** 2×2 exposure/outcome association battery: the exact cell counts
    * (a = exposed∧outcome, b = exposed∧¬outcome, c, d), odds ratio
    * ad/bc, relative risk (a/(a+b))/(c/(c+d)), and the Woolf 95% CI
    * for the OR — exp(ln(OR) ± 1.96·√(1/a+1/b+1/c+1/d)). Cells are
    * one combinable int64 aggregation; every ratio is a fixed double
    * expression of exact integers (ln/exp/√ of identical doubles —
    * engine-deterministic within the hash's float contract). OR/RR/CI
    * NULL when any cell is 0 (the estimates are undefined; callers
    * wanting Haldane's +0.5 can add it to the cells themselves).
    * Output one row: (n_units, a, b, c, d, odds_ratio, risk_ratio,
    * or_ci_lo, or_ci_hi).
    */
  def oddsRatio(units: DataFrame, expCol: Column, outCol: Column): DataFrame = {
    val u = units.select(expCol.cast("boolean").as("e"), outCol.cast("boolean").as("o"))
      .filter(col("e").isNotNull && col("o").isNotNull)
    def dd(c: Column) = c.cast("double")
    val anyZero = col("a") === 0L || col("b") === 0L || col("c") === 0L ||
      col("d") === 0L
    u.agg(count(lit(1)).as("n_units"),
        coalesce(sum(when(col("e") && col("o"), 1L).otherwise(0L)), lit(0L)).as("a"),
        coalesce(sum(when(col("e") && !col("o"), 1L).otherwise(0L)), lit(0L)).as("b"),
        coalesce(sum(when(!col("e") && col("o"), 1L).otherwise(0L)), lit(0L)).as("c"),
        coalesce(sum(when(!col("e") && !col("o"), 1L).otherwise(0L)), lit(0L)).as("d"))
      .withColumn("odds_ratio", when(!anyZero,
        dd(col("a")) * dd(col("d")) / (dd(col("b")) * dd(col("c")))))
      .withColumn("risk_ratio", when(!anyZero,
        dd(col("a")) * (dd(col("c")) + dd(col("d"))) /
          (dd(col("c")) * (dd(col("a")) + dd(col("b"))))))
      .withColumn("__se", when(!anyZero,
        sqrt(lit(1.0) / dd(col("a")) + lit(1.0) / dd(col("b")) +
          lit(1.0) / dd(col("c")) + lit(1.0) / dd(col("d")))))
      .withColumn("or_ci_lo", exp(log(col("odds_ratio")) - lit(1.96) * col("__se")))
      .withColumn("or_ci_hi", exp(log(col("odds_ratio")) + lit(1.96) * col("__se")))
      .select(col("n_units"), col("a"), col("b"), col("c"), col("d"),
        col("odds_ratio"), col("risk_ratio"), col("or_ci_lo"), col("or_ci_hi"))
  }

  /** Per-class one-vs-rest classifier evaluation battery from
    * (actual, predicted) label pairs: exact confusion cells (tp, and
    * fp/fn/tn via the broadcast marginals), precision/recall/F1/MCC
    * per class, plus the global accuracy repeated on every row — the
    * full eval table a model card needs, derivable ONLY from counts
    * so the whole thing replays bit-exactly. The class spine is the
    * UNION of actual and predicted labels, so a class the model never
    * predicts (or invents) still gets its row. Ratios are NULL when
    * their denominator is 0 (e.g. precision of a never-predicted
    * class). Output per class: (cls, tp, fp, fn, tn, n_actual,
    * n_pred, precision, recall, f1, mcc, accuracy).
    *
    * Scale shape: ONE combinable (actual, pred) count over the fact
    * table; everything after runs on the |classes|²-bounded cell
    * table (checkpointed so the scan runs once).
    */
  def confusionStats(df: DataFrame, actualCol: Column, predCol: Column): DataFrame = {
    val p = df.select(actualCol.cast("string").as("actual"),
        predCol.cast("string").as("pred"))
      .filter(col("actual").isNotNull && col("pred").isNotNull)
    val cells = p.groupBy("actual", "pred").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tot = cells.agg(coalesce(sum("n"), lit(0L)).as("total"),
      coalesce(sum(when(col("actual") === col("pred"), col("n")).otherwise(0L)),
        lit(0L)).as("correct"))
    val classes = cells.select(col("actual").as("cls"))
      .union(cells.select(col("pred").as("cls"))).distinct()
    val tp = cells.filter(col("actual") === col("pred"))
      .select(col("actual").as("cls"), col("n").as("tp0"))
    val act = cells.groupBy(col("actual").as("cls")).agg(sum("n").as("n_actual0"))
    val prd = cells.groupBy(col("pred").as("cls")).agg(sum("n").as("n_pred0"))
    def dd(c: Column) = c.cast("double")
    classes.join(tp, Seq("cls"), "left").join(act, Seq("cls"), "left")
      .join(prd, Seq("cls"), "left").crossJoin(broadcast(tot))
      .withColumn("tp", coalesce(col("tp0"), lit(0L)))
      .withColumn("n_actual", coalesce(col("n_actual0"), lit(0L)))
      .withColumn("n_pred", coalesce(col("n_pred0"), lit(0L)))
      .withColumn("fp", col("n_pred") - col("tp"))
      .withColumn("fn", col("n_actual") - col("tp"))
      .withColumn("tn", col("total") - col("n_actual") - col("n_pred") + col("tp"))
      .withColumn("precision", when(col("n_pred") > 0, dd(col("tp")) / dd(col("n_pred"))))
      .withColumn("recall", when(col("n_actual") > 0, dd(col("tp")) / dd(col("n_actual"))))
      .withColumn("f1", when(col("n_pred") + col("n_actual") > 0,
        lit(2.0) * dd(col("tp")) / (dd(col("n_pred")) + dd(col("n_actual")))))
      .withColumn("__mden", sqrt((dd(col("tp")) + dd(col("fp"))) *
        (dd(col("tp")) + dd(col("fn"))) * (dd(col("tn")) + dd(col("fp"))) *
        (dd(col("tn")) + dd(col("fn")))))
      .withColumn("mcc", when(col("__mden") > 0,
        (dd(col("tp")) * dd(col("tn")) - dd(col("fp")) * dd(col("fn"))) /
          col("__mden")))
      .withColumn("accuracy", when(col("total") > 0,
        dd(col("correct")) / dd(col("total"))))
      .select(col("cls"), col("tp"), col("fp"), col("fn"), col("tn"),
        col("n_actual"), col("n_pred"), col("precision"), col("recall"),
        col("f1"), col("mcc"), col("accuracy"))
  }

  /** Exact average precision (the PR-curve area under the standard
    * AP definition): rank the scored set by (score DESC, id ASC — a
    * total order, so ties are engine-identical), AP =
    * (1/n_pos)·Σ_{positive ranks r} cumPos(r)/r. Per-positive terms
    * are floor-quantized integrals (cumPos·2²⁰ div r) and
    * integer-summed — order-free. The ROC companion is [[rocAuc]];
    * AP weights early precision, the retrieval-facing metric.
    * Output one row: (n, n_pos, ap_q, avg_precision).
    *
    * Scale shape: the rank (a prefix sum of 1) and the positive
    * prefix count come from ONE [[prefixSums]] call over the total
    * order, so this statistic shares the rank statistics' size gate:
    * one bounded window up to it, the range-partitioned form above.
    * `n` is counted by the job that checkpoints the scored rows.
    */
  def averagePrecision(df: DataFrame, idCol: Column, scoreCol: Column,
                       labelCol: Column): DataFrame = {
    val (rows, Row(n: Long)) = Rounds.checkpoint(
      df.select(idCol.as("id"), scoreCol.cast("long").as("s"),
          labelCol.cast("boolean").as("y"))
        .filter(col("id").isNotNull && col("s").isNotNull && col("y").isNotNull),
      Nil, count(lit(1)))
    val terms = prefixSums(rows, n, Seq(col("s").desc, col("id").asc),
        (lit(1L), "__r"), (when(col("y"), 1L).otherwise(0L), "__cp"))
      .filter(col("y"))
      .select(expr("(__cp * 1048576) div __r").as("term"))
    def dd(c: Column) = c.cast("double")
    terms.agg(count(lit(1)).as("n_pos"),
        coalesce(sum("term"), lit(0L)).as("ap_q"))
      .withColumn("avg_precision", when(col("n_pos") > 0,
        dd(col("ap_q")) / (dd(col("n_pos")) * 1048576.0)))
      .select(lit(n).as("n"), col("n_pos"), col("ap_q"), col("avg_precision"))
  }

  /** Exact lower weighted median per group (the first value whose
    * cumulative weight reaches half the total — the standard
    * inventory/latency percentile when rows carry multiplicity):
    * per-(group, value) weight tallies, a PARTITIONED cumulative
    * window, and min(v) over the qualifying tail. All int64;
    * non-positive and NULL weights are excluded. Output per group:
    * (g, w_median, total_weight, n_values).
    */
  def weightedMedian(df: DataFrame, groupCol: Column, valueCol: Column,
                     weightCol: Column): DataFrame = {
    val rows = df.select(groupCol.as("g"), valueCol.cast("long").as("v"),
        weightCol.cast("long").as("w"))
      .filter(col("g").isNotNull && col("v").isNotNull &&
        col("w").isNotNull && col("w") > 0)
    val cells = rows.groupBy("g", "v").agg(sum("w").as("wv"))
    val tot = cells.groupBy("g").agg(sum("wv").as("total_weight"),
      count(lit(1)).as("n_values"))
    cells
      .withColumn("cw", sum("wv").over(Window.partitionBy("g").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(tot, "g")
      .filter(col("cw") * 2 >= col("total_weight"))
      .groupBy("g").agg(min("v").as("w_median"),
        min("total_weight").as("total_weight"), min("n_values").as("n_values"))
  }

  /** Seeded permutation test for a difference in arm means — the
    * distribution-free significance companion to [[cohensD]] /
    * [[welchTTest]]: `reps` label reassignments, each unit's replica-r
    * arm from the engine-portable md5 hash of (id, r), per-replica
    * mean difference from exact int64 sums, and the standard
    * add-one p-value p = (1 + #{r : |Δ_r| ≥ |Δ_obs|}) / (reps + 1).
    * Replica diffs and the observed diff are identical fixed double
    * expressions of exact integers, so the ≥ comparison is
    * engine-deterministic. Replicas with an empty side yield NULL Δ_r
    * and never count as extreme. Output one row:
    * (n_units, reps, obs_diff, n_ge, p_value).
    *
    * Scale shape: the exploded units×reps frame reduces through ONE
    * map-side-combinable aggregation to `reps` rows (the
    * [[poissonBootstrap]] shape) — no per-replica scans, no
    * driver-side loop.
    */
  def permutationTest(units: DataFrame, idCol: Column, armCol: Column,
                      valueCol: Column, reps: Int = 199): DataFrame = {
    require(reps >= 1 && reps <= 100000, s"reps must be in [1, 100000], got $reps")
    val u = units.select(idCol.cast("string").as("id"),
        armCol.cast("boolean").as("arm"), valueCol.cast("long").as("v"))
      .filter(col("id").isNotNull && col("arm").isNotNull && col("v").isNotNull)
      .localCheckpoint(true)
    def dd(c: Column) = c.cast("double")
    def diffOf(n1: Column, s1: Column, n0: Column, s0: Column): Column =
      when(n1 > 0 && n0 > 0, dd(s1) / dd(n1) - dd(s0) / dd(n0))
    val obs = u.agg(
        count(lit(1)).as("n_units"),
        coalesce(sum(when(col("arm"), 1L).otherwise(0L)), lit(0L)).as("__n1"),
        coalesce(sum(when(col("arm"), col("v")).otherwise(0L)), lit(0L)).as("__s1"),
        coalesce(sum(when(!col("arm"), 1L).otherwise(0L)), lit(0L)).as("__n0"),
        coalesce(sum(when(!col("arm"), col("v")).otherwise(0L)), lit(0L)).as("__s0"))
      .withColumn("obs_diff",
        diffOf(col("__n1"), col("__s1"), col("__n0"), col("__s0")))
      .select("n_units", "obs_diff")
    val perRep = u
      .select(col("id"), col("v"),
        explode(sequence(lit(1), lit(reps))).as("rep"))
      .withColumn("__arm_r",
        graft.functions.HashFunctions.stableHash56(
          concat(col("id"), lit(":"), col("rep"))) % 2L === 1L)
      .groupBy("rep")
      .agg(coalesce(sum(when(col("__arm_r"), 1L).otherwise(0L)), lit(0L)).as("__n1"),
        coalesce(sum(when(col("__arm_r"), col("v")).otherwise(0L)), lit(0L)).as("__s1"),
        coalesce(sum(when(!col("__arm_r"), 1L).otherwise(0L)), lit(0L)).as("__n0"),
        coalesce(sum(when(!col("__arm_r"), col("v")).otherwise(0L)), lit(0L)).as("__s0"))
      .select(diffOf(col("__n1"), col("__s1"), col("__n0"), col("__s0")).as("rdiff"))
    // aggregate the replica frame FIRST, then attach the (always
    // one-row) observed frame — an empty unit set must still emit one
    // row with n_units = 0 on both engines
    val ge = perRep.crossJoin(broadcast(obs))
      .agg(coalesce(sum(when(abs(col("rdiff")) >= abs(col("obs_diff")), 1L)
        .otherwise(0L)), lit(0L)).as("n_ge"))
    ge.crossJoin(broadcast(obs))
      .withColumn("reps", lit(reps.toLong))
      .withColumn("p_value", when(col("obs_diff").isNotNull,
        (dd(col("n_ge")) + 1.0) / (lit(reps.toDouble) + 1.0)))
      .select(col("n_units"), col("reps"), col("obs_diff"), col("n_ge"),
        col("p_value"))
  }

  /** Information-gain feature ranking: for each candidate categorical
    * feature, IG = H(label) − H(label | feature) and the gain ratio
    * IG / H(feature) — the decision-tree split criterion as a
    * feature-selection report. All entropies live in exact
    * N-scaled 2⁻²⁰-nat integer units (the q_entropy idiom:
    * x·qln(x) with qln(x) = floor(ln x · 2²⁰), integer-summed —
    * order-free): Hl_q = N·qln(N) − Σ_l c_l·qln(c_l), per feature
    * Hf_q = N·qln(N) − Σ_v n_v·qln(n_v) and
    * Hcond_q = Σ_v n_v·qln(n_v) − Σ_{v,l} c_vl·qln(c_vl); quantization
    * may leave IG a hair negative on independent columns — emitted as
    * computed. Output per feature: (feature, n, hl_q, hf_q, hcond_q,
    * ig_q, gain_ratio) — gain_ratio NULL when Hf_q = 0 (constant
    * feature).
    *
    * Scale shape: the features stack into ONE combinable
    * (feature, value, label) count — one fact scan for ALL features;
    * every later frame is cell-cardinality. Exactness bound:
    * Σ c·qln(c) ≤ N·qln(N) stays in int64 through N ≈ 4·10¹¹ rows.
    */
  def infoGain(df: DataFrame, labelCol: Column,
               features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "infoGain needs at least one feature")
    def qln(c: Column) = floor(log(c.cast("double")) * 1048576).cast("long")
    val stacked = features.map { case (fname, fcol) =>
      df.select(labelCol.cast("string").as("l"), lit(fname).as("f"),
        fcol.cast("string").as("v"))
    }.reduce(_ unionAll _)
      .filter(col("l").isNotNull && col("v").isNotNull)
    val cells = stacked.groupBy("f", "v", "l").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val perVal = cells.groupBy("f", "v").agg(sum("c").as("nv"))
    val perFeat = cells.groupBy("f").agg(
      coalesce(sum(col("c") * qln(col("c"))), lit(0L)).as("cell_t"),
      sum("c").as("n"))
    val valT = perVal.groupBy("f").agg(
      coalesce(sum(col("nv") * qln(col("nv"))), lit(0L)).as("val_t"))
    // per-FEATURE label counts: each feature's IG is computed over its
    // own non-null rows (listwise per feature), so the label entropy
    // must come from the same row set — a shared label table would
    // mix null-rate-dependent denominators
    val labT = cells.groupBy("f", "l").agg(sum("c").as("cl"))
      .groupBy("f")
      .agg(coalesce(sum(col("cl") * qln(col("cl"))), lit(0L)).as("lab_t"))
    def dd(c: Column) = c.cast("double")
    perFeat.join(valT, "f").join(labT, "f")
      .withColumn("__nqn", col("n") * qln(col("n")))
      .withColumn("hl_q", col("__nqn") - col("lab_t"))
      .withColumn("hf_q", col("__nqn") - col("val_t"))
      .withColumn("hcond_q", col("val_t") - col("cell_t"))
      .withColumn("ig_q", col("hl_q") - col("hcond_q"))
      .withColumn("gain_ratio", when(col("hf_q") > 0,
        dd(col("ig_q")) / dd(col("hf_q"))))
      .select(col("f").as("feature"), col("n"), col("hl_q"), col("hf_q"),
        col("hcond_q"), col("ig_q"), col("gain_ratio"))
  }

  /** Sample-ratio-mismatch guardrail for a deterministic 1:1 hash
    * split — THE first check on any experiment readout: arm counts
    * exact, the 1-df chi-square (n1 − n0)²/N one fixed double, and
    * the standard α = 0.05 flag (χ²₁ critical value 3.841). A true
    * SRM means the assignment or logging pipeline is broken and every
    * downstream lift number is suspect. Output one row:
    * (n0, n1, chi2, srm_flag).
    */
  def srmCheck(units: DataFrame, armCol: Column): DataFrame = {
    val u = units.select(armCol.cast("boolean").as("arm"))
      .filter(col("arm").isNotNull)
    def dd(c: Column) = c.cast("double")
    u.agg(coalesce(sum(when(!col("arm"), 1L).otherwise(0L)), lit(0L)).as("n0"),
        coalesce(sum(when(col("arm"), 1L).otherwise(0L)), lit(0L)).as("n1"))
      .withColumn("chi2", when(col("n0") + col("n1") > 0,
        (dd(col("n1")) - dd(col("n0"))) * (dd(col("n1")) - dd(col("n0"))) /
          (dd(col("n0")) + dd(col("n1")))))
      .withColumn("srm_flag", col("chi2") > 3.841)
      .select(col("n0"), col("n1"), col("chi2"), col("srm_flag"))
  }

  /** Cochran–Armitage trend test: is a binary outcome rate
    * MONOTONICALLY associated with an ordered category (dose, tier,
    * priority) — more powerful than the omnibus chi-square (row 225)
    * when the alternative is a trend. With integer scores s_i, group
    * sizes n_i, successes r_i, N = Σn, R = Σr:
    * z = (N·Σs·r − R·Σs·n) · √N / √(R(N−R)(N·Σs²n − (Σsn)²)) — every
    * sum an exact int64 aggregate over the ≤|categories| cell table,
    * z one fixed double. Output one row: (n, r, k_levels, z_stat) —
    * NULL when the outcome or the scores are constant.
    */
  def cochranArmitage(units: DataFrame, scoreCol: Column,
                      outCol: Column): DataFrame = {
    val u = units.select(scoreCol.cast("long").as("s"),
        outCol.cast("boolean").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
    val cellsT = u.groupBy("s").agg(count(lit(1)).as("n_i"),
      coalesce(sum(when(col("y"), 1L).otherwise(0L)), lit(0L)).as("r_i"))
    def dd(c: Column) = c.cast("double")
    cellsT.agg(
        coalesce(sum("n_i"), lit(0L)).as("n"),
        coalesce(sum("r_i"), lit(0L)).as("r"),
        count(lit(1)).as("k_levels"),
        coalesce(sum(col("s") * col("n_i")), lit(0L)).as("__sn"),
        coalesce(sum(col("s") * col("r_i")), lit(0L)).as("__sr"),
        coalesce(sum(col("s") * col("s") * col("n_i")), lit(0L)).as("__ssn"))
      .withColumn("__var", dd(col("r")) * (dd(col("n")) - dd(col("r"))) *
        (dd(col("n")) * dd(col("__ssn")) - dd(col("__sn")) * dd(col("__sn"))))
      .withColumn("z_stat", when(col("__var") > 0,
        (dd(col("n")) * dd(col("__sr")) - dd(col("r")) * dd(col("__sn"))) *
          sqrt(dd(col("n"))) / sqrt(col("__var"))))
      .select(col("n"), col("r"), col("k_levels"), col("z_stat"))
  }

  /** OLS of quantized ln(y) on quantized ln(x) per group — the
    * log-log power-law fit behind price elasticity, Zipf exponents
    * and allometric scaling: logs floor-quantized at 2²⁰ (the
    * entropy idiom) so every sum is an exact DECIMAL(38,0) aggregate
    * (the int64 [[olsPerGroup]] would wrap on Σ(qln)² past ~40k
    * points per group); slope / intercept / r² fixed doubles over the
    * double-cast exact sums. Requires x > 0, y > 0 (non-positive
    * observations are excluded — no log domain error, ever). Output
    * per group: (g, n_points, slope, intercept_nats, r2).
    */
  def quantLogFit(df: DataFrame, groupCol: Column, xCol: Column,
                  yCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    def qln(c: Column) = floor(log(c.cast("double")) * 1048576).cast("long")
    val pts = df.select(groupCol.as("g"), xCol.cast("long").as("xr"),
        yCol.cast("long").as("yr"))
      .filter(col("g").isNotNull && col("xr").isNotNull && col("yr").isNotNull &&
        col("xr") > 0 && col("yr") > 0)
      .select(col("g"), qln(col("xr")).as("x"), qln(col("yr")).as("y"))
    def dsum(c: Column) =
      coalesce(sum(c.cast(dec)).cast(dec), lit(0).cast(dec)).cast(dec)
    def dd(c: Column) = c.cast("double")
    pts.groupBy("g")
      .agg(count(lit(1)).as("n_points"),
        dsum(col("x")).as("__sx"), dsum(col("y")).as("__sy"),
        dsum((col("x").cast(dec) * col("y")).cast(dec)).as("__sxy"),
        dsum((col("x").cast(dec) * col("x")).cast(dec)).as("__sxx"),
        dsum((col("y").cast(dec) * col("y")).cast(dec)).as("__syy"))
      .withColumn("__num", dd(col("n_points")) * dd(col("__sxy")) -
        dd(col("__sx")) * dd(col("__sy")))
      .withColumn("__dx", dd(col("n_points")) * dd(col("__sxx")) -
        dd(col("__sx")) * dd(col("__sx")))
      .withColumn("__dy", dd(col("n_points")) * dd(col("__syy")) -
        dd(col("__sy")) * dd(col("__sy")))
      .withColumn("slope", when(col("n_points") > 1 && col("__dx") > 0,
        col("__num") / col("__dx")))
      .withColumn("intercept_nats", when(col("slope").isNotNull,
        (dd(col("__sy")) - col("slope") * dd(col("__sx"))) /
          (dd(col("n_points")) * 1048576.0)))
      .withColumn("r2", when(col("slope").isNotNull && col("__dy") > 0,
        col("__num") * col("__num") / (col("__dx") * col("__dy"))))
      .select(col("g"), col("n_points"), col("slope"), col("intercept_nats"),
        col("r2"))
  }

  /** Exact per-group mode with the deterministic (count DESC, value
    * ASC) tie-break — the missing member of the descriptive family
    * beside [[weightedMedian]] and the profiling rows: one combinable
    * (group, value) count, then a rank window over the
    * value-cardinality cell table PARTITIONED by group. Output per
    * group: (g, mode_value, mode_count, n_distinct, n_rows).
    */
  def modePerGroup(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val cells = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    // argmax by (count DESC, value ASC) as one combinable struct max
    // (negated value in exact decimal — -Long.MinValue would wrap),
    // fused into the same aggregation as the totals: the former rank
    // window + join back cost an extra shuffle and sorted whole groups
    // in #groups tasks.
    cells.groupBy("g")
      .agg(count(lit(1)).as("n_distinct"), sum("c").as("n_rows"),
        max(struct(col("c").as("c"),
          (-col("v").cast("decimal(20,0)")).as("nv"))).as("__k"))
      .select(col("g"), (-col("__k.nv")).cast("long").as("mode_value"),
        col("__k.c").as("mode_count"), col("n_distinct"), col("n_rows"))
  }

  /** Exact per-group LOWER median of an integer column from the
    * value-tally table: the smallest value whose cumulative count
    * reaches ceil(n/2) — the same deterministic convention
    * [[weightedMedian]] uses (no interpolation, so the result is a
    * value the group actually contains and replays exactly in SQL).
    * Returns (g, med) — the shared primitive under
    * [[brownForsythe]] / [[moodMedianTest]].
    */
  private def groupLowerMedian(vals: DataFrame): DataFrame = {
    val cells = vals.groupBy("g", "v").agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum", sum("c").over(wc))
      .withColumn("n", sum("c").over(Window.partitionBy("g")))
      .filter(col("cum") * 2 >= col("n"))
      .groupBy("g").agg(min("v").as("med"))
  }

  /** GLOBAL lower median over (v) rows — [[groupLowerMedian]]'s
    * window degenerates to a partition-less one when a caller passes
    * a single literal group ([[moodMedianTest]] did exactly that), so
    * the global form runs the same cells → cumsum → first-qualifying
    * shape on [[prefixSums]]' size-dispatched spine instead. Same
    * output contract: one (med) row per non-empty input, zero rows on
    * empty input (the groupBy-on-a-literal preserves the empty →
    * empty behavior the group form had).
    */
  private def globalLowerMedian(vals: DataFrame): DataFrame = {
    val (cells, Row(nCells: Long)) = Rounds.checkpoint(
      vals.groupBy("v").agg(count(lit(1)).as("c")), Nil, count(lit(1)))
    val tot = cells.agg(coalesce(sum("c"), lit(0L)).as("n"))
    prefixSums(cells, nCells, Seq(col("v")), (col("c"), "cum"))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 2 >= col("n"))
      .select(lit("__all").as("g"), col("v"))
      .groupBy("g").agg(min("v").as("med"))
      .select(col("med"))
  }

  /** Brown–Forsythe test (the robust Levene variant): "do the groups
    * have the same SPREAD" — the variance-homogeneity gate that
    * belongs in front of every [[oneWayAnova]]/[[welchTTest]] read.
    * Each observation becomes its absolute deviation from its group's
    * exact LOWER median (integer — the median-centered form is the
    * outlier-robust one Brown & Forsythe 1974 recommend), then the
    * one-way ANOVA F over those deviations IS the statistic, computed
    * by the same exact int64 moment sums as [[oneWayAnova]].
    *
    * Scale shape: one (group, value) tally shuffle + a group-windowed
    * cumsum for the medians (cells, not rows), one broadcast-sized
    * median join back, one combinable moment aggregation. Output one
    * row: (k_groups, n, ssb_q, ssw_q, df_between, df_within, f_stat).
    */
  def brownForsythe(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val vals = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val med = groupLowerMedian(vals)
    val dev = vals.join(broadcast(med), "g")
      .select(col("g"), abs(col("v") - col("med")).as("z"))
    oneWayAnova(dev, col("g"), col("z"))
  }

  /** Bartlett's test for equal variances — the higher-power,
    * normality-assuming sibling of [[brownForsythe]]:
    * χ² = [(N−k)·ln(s_p²) − Σ(n_i−1)·ln(s_i²)] / C with the standard
    * correction C = 1 + (Σ1/(n_i−1) − 1/(N−k)) / (3(k−1)).
    *
    * Cross-engine exactness: per-group variances come from exact
    * DECIMAL(38,0) moment sums ((n·q − s²) / (n·(n−1)) — both factors
    * exact integers, ONE IEEE division each), each ln() is
    * floor-quantized at 2²⁰ (the repo's qln convention) and the
    * quantized logs are INTEGER-summed — order-free where a raw
    * double Σ ln would drift with aggregation order. Groups with
    * n_i < 2 or zero variance are excluded and reported in
    * n_degenerate (ln(0) is a hard error in any engine). Output one
    * row: (k_groups, n, n_degenerate, lnsp_q, sum_ln_q, chi2_uncorr,
    * chi2) — NULLs when fewer than 2 admissible groups.
    */
  def bartlettTest(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    def dd(c: Column) = c.cast("double")
    val g0 = df.select(groupCol.as("g"), valueCol.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)
      .groupBy("g")
      .agg(count(lit(1)).as("n_g"),
        sum(col("x").cast(dec)).cast(dec).as("s_g"),
        sum((col("x").cast(dec) * col("x")).cast(dec)).cast(dec).as("q_g"))
      .withColumn("m2", (col("n_g").cast(dec) * col("q_g") -
        col("s_g") * col("s_g")).cast(dec))
    val adm = g0.filter(col("n_g") >= 2 && col("m2") > 0)
      // s_i² = m2 / (n·(n−1)): both operands exact, one IEEE division,
      // then the quantized log — identical arithmetic in the oracle
      .withColumn("ln_q", floor(log(dd(col("m2")) /
        (dd(col("n_g")) * (dd(col("n_g")) - 1.0))) * 1048576).cast("long"))
    val degen = g0.agg(coalesce(sum(when(col("n_g") < 2 || col("m2") <= 0, 1L)
      .otherwise(0L)), lit(0L)).as("n_degenerate"))
    adm.agg(count(lit(1)).as("k_groups"), sum("n_g").as("n"),
        coalesce(sum((col("n_g") - 1) * col("ln_q")), lit(0L)).as("sum_ln_q"),
        // Σ 1/(n_i−1) quantized at 2²⁰ by integer division — exact,
        // order-free (the correction term's only group-indexed sum)
        coalesce(sum(expr("1048576L div (n_g - 1)")), lit(0L)).as("inv_q"),
        // pooled numerator Σ(n_i−1)s_i² = Σ m2_i/n_i: each group's
        // term is one IEEE division of exact values, floor-quantized
        // at 2²⁰ so the cross-group sum is order-free int64
        coalesce(sum(floor((dd(col("m2")) / dd(col("n_g"))) * 1048576)
          .cast("long")), lit(0L)).as("ssw_q2"))
      .crossJoin(broadcast(degen))
      .withColumn("lnsp_q", when(col("k_groups") >= 2 && col("n") > col("k_groups") &&
          col("ssw_q2") > 0,
        floor(log((dd(col("ssw_q2")) / 1048576.0) /
          (dd(col("n")) - dd(col("k_groups")))) * 1048576).cast("long")))
      .withColumn("chi2_uncorr", when(col("lnsp_q").isNotNull,
        ((dd(col("n")) - dd(col("k_groups"))) * dd(col("lnsp_q")) -
          dd(col("sum_ln_q"))) / 1048576.0))
      .withColumn("chi2", when(col("chi2_uncorr").isNotNull && col("k_groups") > 1,
        col("chi2_uncorr") / (lit(1.0) +
          (dd(col("inv_q")) / 1048576.0 -
            lit(1.0) / (dd(col("n")) - dd(col("k_groups")))) /
          (lit(3.0) * (dd(col("k_groups")) - 1.0)))))
      .select(col("k_groups"), col("n"), col("n_degenerate"),
        col("lnsp_q"), col("sum_ln_q"), col("chi2_uncorr"), col("chi2"))
  }

  /** Jarque–Bera normality screen per group: JB = n/6·(g1² + g2²/4)
    * from exact raw-moment sums in DECIMAL(38,0). The n-scaled central
    * moments M2 = nΣx²−(Σx)², M3 = n²Σx³−3nΣxΣx²+2(Σx)³,
    * M4 = n³Σx⁴−4n²Σx³Σx+6n(Σx)²Σx²−3(Σx)⁴ are EXACT decimals
    * (bound: |Σx|⁴ < 10³⁸ → |Σx| < 3·10⁹ — quantity-scaled columns
    * hold through sf100; an exact-integer-to-double conversion is
    * deterministic IEEE on both engines), skewness g1 = √n·M3/M2^1.5
    * and excess kurtosis g2 = n·M4/M2² − 3 are fixed double
    * expressions. Output per group:
    * (g, n, skewness, kurtosis_excess, jb_stat); zero variance → NULLs.
    */
  def jarqueBera(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    def dd(c: Column) = c.cast("double")
    df.select(groupCol.as("g"), valueCol.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)
      .groupBy("g")
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x").cast(dec)).cast(dec).as("s1"),
        sum((col("x").cast(dec) * col("x")).cast(dec)).cast(dec).as("s2"),
        sum((col("x").cast(dec) * col("x") * col("x")).cast(dec)).cast(dec).as("s3"),
        sum((col("x").cast(dec) * col("x") * col("x") * col("x")).cast(dec))
          .cast(dec).as("s4"))
      .withColumn("m2", (col("n") * col("s2") - col("s1") * col("s1")).cast(dec))
      .withColumn("m3", (col("n") * col("n") * col("s3") -
        lit(3).cast(dec) * col("n") * col("s1") * col("s2") +
        lit(2).cast(dec) * col("s1") * col("s1") * col("s1")).cast(dec))
      .withColumn("m4", (col("n") * col("n") * col("n") * col("s4") -
        lit(4).cast(dec) * col("n") * col("n") * col("s3") * col("s1") +
        lit(6).cast(dec) * col("n") * col("s1") * col("s1") * col("s2") -
        lit(3).cast(dec) * col("s1") * col("s1") * col("s1") * col("s1")).cast(dec))
      .withColumn("skewness", when(col("m2") > 0,
        sqrt(dd(col("n"))) * dd(col("m3")) / pow(dd(col("m2")), 1.5)))
      .withColumn("kurtosis_excess", when(col("m2") > 0,
        dd(col("n")) * dd(col("m4")) / (dd(col("m2")) * dd(col("m2"))) - 3.0))
      .withColumn("jb_stat", when(col("m2") > 0,
        dd(col("n")) / 6.0 * (col("skewness") * col("skewness") +
          col("kurtosis_excess") * col("kurtosis_excess") / 4.0)))
      .select(col("g"), col("n").cast("long").as("n"), col("skewness"),
        col("kurtosis_excess"), col("jb_stat"))
  }

  /** Grubbs' test per group: the single most extreme observation's
    * studentized distance G = max|x−x̄| / s, with the suspect value
    * reported. The numerator max|n·x − Σx| and its arg are exact
    * int64 (tie-break: smaller value); G is one fixed double from the
    * exact moment sums: G = (maxdev/n) / √((nΣx²−(Σx)²)/(n(n−1))).
    * Output per group: (g, n, suspect_value, maxdev_n, g_stat) —
    * NULL g_stat when n < 3 or zero variance.
    */
  def grubbsTest(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    def dd(c: Column) = c.cast("double")
    val vals = df.select(groupCol.as("g"), valueCol.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)
    val mom = vals.groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("x").cast(dec)).cast(dec).as("s"),
        sum((col("x").cast(dec) * col("x")).cast(dec)).cast(dec).as("q"))
    val dev = vals.join(broadcast(mom), "g")
      // n·x − Σx in DECIMAL — |·| ≤ n·|x|, exact at any group size
      .withColumn("d", abs((col("n").cast(dec) * col("x").cast(dec) -
        col("s")).cast(dec)))
    // argmax by (d DESC, x ASC) as ONE combinable max over a packed
    // struct (negated x turns the ASC tie-break into a max; decimal
    // negation is exact where -Long.MinValue would wrap). The former
    // row_number window partitioned by g sorted whole groups in
    // #groups tasks — a §2.5 skew funnel when groups are few and fat;
    // the struct max is map-side combinable and fully parallel.
    val suspect = dev
      .groupBy("g")
      .agg(max(struct(col("d").as("d"),
        (-col("x").cast("decimal(20,0)")).as("nx"))).as("__k"))
      .select(col("g"), (-col("__k.nx")).cast("long").as("suspect_value"),
        col("__k.d").as("maxdev_n"))
    suspect.join(broadcast(mom), "g")
      .withColumn("g_stat", when(col("n") >= 3 &&
          (col("n").cast(dec) * col("q") - col("s") * col("s")) > 0,
        (dd(col("maxdev_n")) / dd(col("n"))) /
          sqrt(dd((col("n").cast(dec) * col("q") - col("s") * col("s")).cast(dec)) /
            (dd(col("n")) * (dd(col("n")) - 1.0)))))
      .select(col("g"), col("n"), col("suspect_value"),
        col("maxdev_n").cast("long").as("maxdev_n"), col("g_stat"))
  }

  /** Fleiss' kappa — chance-corrected agreement for N items each
    * rated by the SAME number of raters n into k categories (the
    * multi-rater generalization of [[cohensKappa]], the QA gate on a
    * crowd-labeling pipeline). Items whose rating count differs from
    * the modal count are EXCLUDED and tallied (Fleiss requires
    * constant n; the modal-n rule makes the operator total on dirty
    * data instead of erroring). P̄−P_e needs only exact integer sums:
    * Σ_ij n_ij², category marginals c_j, N, n —
    * κ = (A − B) / (C − B) with A = n·N·(Σn_ij² − N·n),
    * scaled to the common denominator N·n·(n−1)·(N·n)² … computed as
    * the standard two-ratio form in ONE fixed double expression from
    * the exact int64 terms. Output one row:
    * (n_items, n_raters, k_cats, n_excluded, sum_sq, pbar, pe, kappa).
    */
  def fleissKappa(ratings: DataFrame, itemCol: Column, catCol: Column): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val r = ratings.select(itemCol.as("i"), catCol.cast("string").as("c"))
      .filter(col("i").isNotNull && col("c").isNotNull)
    val perItem = r.groupBy("i").agg(count(lit(1)).as("n_i"))
    // modal rating count (tie-break: larger n — more raters wins)
    val modal = perItem.groupBy("n_i").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("n_i").desc).limit(1)
      .select(col("n_i").as("n_r"))
    val kept = r.join(broadcast(perItem), "i")
      .join(broadcast(modal), col("n_i") === col("n_r"))
    val cells = kept.groupBy("i", "c").agg(count(lit(1)).as("n_ij"))
    val sums = cells.agg(
      countDistinct("i").as("n_items"),
      coalesce(sum(col("n_ij") * col("n_ij")), lit(0L)).as("sum_sq"))
    val marg = cells.groupBy("c").agg(sum("n_ij").as("c_j"))
      .agg(count(lit(1)).as("k_cats"),
        coalesce(sum(col("c_j") * col("c_j")), lit(0L)).as("marg_sq"))
    val excluded = perItem.join(broadcast(modal),
        col("n_i") =!= col("n_r"), "left_semi")
      .agg(count(lit(1)).as("n_excluded"))
    sums.crossJoin(broadcast(marg)).crossJoin(broadcast(modal))
      .crossJoin(broadcast(excluded))
      .withColumn("pbar", when(col("n_items") > 0 && col("n_r") >= 2,
        (dd(col("sum_sq")) - dd(col("n_items")) * dd(col("n_r"))) /
          (dd(col("n_items")) * dd(col("n_r")) * (dd(col("n_r")) - 1.0))))
      .withColumn("pe", when(col("n_items") > 0,
        dd(col("marg_sq")) /
          (dd(col("n_items")) * dd(col("n_r")) * dd(col("n_items")) * dd(col("n_r")))))
      .withColumn("kappa", when(col("pbar").isNotNull && col("pe") < 1.0,
        (col("pbar") - col("pe")) / (lit(1.0) - col("pe"))))
      .select(col("n_items"), col("n_r").as("n_raters"), col("k_cats"),
        col("n_excluded"), col("sum_sq"), col("pbar"), col("pe"), col("kappa"))
  }

  /** G-test of independence (the log-likelihood-ratio sibling of
    * [[chiSquareCells]] — additive across partitions of the table,
    * which χ² is not): G = 2·Σ O·ln(O·N / (R·C)) over nonzero cells.
    * Each cell's ln is one IEEE log of a ratio of exact int64
    * products (bounds: O·N and R·C < 2⁶³ → N < ~3·10⁹ rows),
    * floor-quantized at 2²⁰ and INTEGER-weighted-summed (order-free);
    * G is the one final double. Output one row:
    * (n, k_a, k_b, df, g_q, g_stat).
    */
  def gTest(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val pairs = df.select(aCol.cast("string").as("a"), bCol.cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val cells = pairs.groupBy("a", "b").agg(count(lit(1)).as("o"))
    val ra = cells.groupBy("a").agg(sum("o").as("r"))
    val cb = cells.groupBy("b").agg(sum("o").as("c"))
    val n = cells.agg(sum("o").as("n"), count(lit(1)).as("n_cells"))
    val ka = ra.agg(count(lit(1)).as("k_a"))
    val kb = cb.agg(count(lit(1)).as("k_b"))
    cells.join(broadcast(ra), "a").join(broadcast(cb), "b")
      .crossJoin(broadcast(n))
      .withColumn("q", floor(log((dd(col("o")) * dd(col("n"))) /
        (dd(col("r")) * dd(col("c")))) * 1048576).cast("long"))
      .agg(max("n").as("n"),
        coalesce(sum(col("o") * col("q")), lit(0L)).as("g_q"))
      .crossJoin(broadcast(ka)).crossJoin(broadcast(kb))
      .withColumn("df", (col("k_a") - 1) * (col("k_b") - 1))
      .withColumn("g_stat", lit(2.0) * dd(col("g_q")) / 1048576.0)
      .select(col("n"), col("k_a"), col("k_b"), col("df"), col("g_q"),
        col("g_stat"))
  }

  /** Mood's median test: "do the groups share a common median" — the
    * distribution-free coarse sibling of [[kruskalWallis]] (it only
    * looks at above/below, so it survives arbitrary outliers). The
    * GLOBAL lower median splits every group into ≤/> counts; the
    * statistic is the standard χ² over the k×2 table, computed from
    * exact integer margins in one fixed double sum per group then
    * integer-quantized … χ² here is Σ (O−E)²/E over 2k cells with
    * E = row·col/N: each group's two terms are a fixed double
    * expression of exact ints, floor-quantized at 2²⁰ and summed as
    * int64 (order-free). Output per group:
    * (g, n_le, n_gt, chi2_q, chi2, global_median) — chi2 identical on
    * every row, NULL when either global side is empty.
    */
  def moodMedianTest(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val vals = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val gm = globalLowerMedian(vals.select(col("v")))
      .select(col("med").as("gmed"))
    val perG = vals.crossJoin(broadcast(gm))
      .groupBy("g")
      .agg(sum(when(col("v") <= col("gmed"), 1L).otherwise(0L)).as("n_le"),
        sum(when(col("v") > col("gmed"), 1L).otherwise(0L)).as("n_gt"),
        max("gmed").as("global_median"))
    val tot = perG.agg(sum("n_le").as("t_le"), sum("n_gt").as("t_gt"),
      (sum("n_le") + sum("n_gt")).as("nn"))
    val terms = perG.crossJoin(broadcast(tot))
      .withColumn("__tq", when(col("t_le") > 0 && col("t_gt") > 0, floor((
        (dd(col("n_le")) - dd(col("n_le") + col("n_gt")) * dd(col("t_le")) / dd(col("nn"))) *
        (dd(col("n_le")) - dd(col("n_le") + col("n_gt")) * dd(col("t_le")) / dd(col("nn"))) /
          (dd(col("n_le") + col("n_gt")) * dd(col("t_le")) / dd(col("nn"))) +
        (dd(col("n_gt")) - dd(col("n_le") + col("n_gt")) * dd(col("t_gt")) / dd(col("nn"))) *
        (dd(col("n_gt")) - dd(col("n_le") + col("n_gt")) * dd(col("t_gt")) / dd(col("nn"))) /
          (dd(col("n_le") + col("n_gt")) * dd(col("t_gt")) / dd(col("nn")))
        ) * 1048576).cast("long")))
    val chi = terms.agg(sum("__tq").as("chi2_q"))
      .withColumn("chi2", dd(col("chi2_q")) / 1048576.0)
    perG.crossJoin(broadcast(chi))
      .select(col("g"), col("n_le"), col("n_gt"), col("chi2_q"), col("chi2"),
        col("global_median"))
  }

  /** Bowker's symmetry test over PAIRED categorical readings (the k×k
    * generalization of [[mcnemar]]): for every unordered category
    * pair {i, j}, χ² accumulates (n_ij − n_ji)² / (n_ij + n_ji) —
    * "did the re-rating move mass asymmetrically anywhere". Each
    * pair's term is one fixed double from two exact int64 counts,
    * floor-quantized at 2²⁰ and integer-summed; df counts the
    * discordant pairs (n_ij + n_ji > 0, i ≠ j). Output one row:
    * (n_units, k_cats, df, chi2_q, chi2).
    */
  def bowkerTest(units: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val pairs = units.select(aCol.cast("string").as("a"), bCol.cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val cells = pairs.groupBy("a", "b").agg(count(lit(1)).as("o"))
    val n = pairs.agg(count(lit(1)).as("n_units"))
    val k = pairs.select(col("a").as("c")).unionByName(pairs.select(col("b").as("c")))
      .agg(countDistinct("c").as("k_cats"))
    val sym = cells.filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("o").as("n_ij"))
      .join(cells.filter(col("a") > col("b"))
        .select(col("b").as("a"), col("a").as("b"), col("o").as("n_ji")),
        Seq("a", "b"), "full_outer")
      .na.fill(0L, Seq("n_ij", "n_ji"))
      .filter(col("n_ij") + col("n_ji") > 0)
      .withColumn("__tq", floor(
        (dd(col("n_ij")) - dd(col("n_ji"))) * (dd(col("n_ij")) - dd(col("n_ji"))) /
          (dd(col("n_ij")) + dd(col("n_ji"))) * 1048576).cast("long"))
    sym.agg(count(lit(1)).as("df"),
        coalesce(sum("__tq"), lit(0L)).as("chi2_q"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(k))
      .withColumn("chi2", dd(col("chi2_q")) / 1048576.0)
      .select(col("n_units"), col("k_cats"), col("df"), col("chi2_q"),
        col("chi2"))
  }

  /** Page's trend test for ORDERED alternatives over complete blocks
    * — [[friedmanTest]]'s directional sibling ("are the treatments
    * not just different but MONOTONE in the hypothesized order"):
    * L = Σ_j rank(j)·R_j with treatments ordered ascending by name
    * (the hypothesized order is the caller's column encoding). Uses
    * the same tie-averaged double-ranks and the same completeness
    * guard as Friedman, so L2 = Σ j·R2_j stays exact int64; the
    * large-sample z uses the NO-TIES null moments
    * E[L] = n·k(k+1)²/4, Var[L] = n·k²(k+1)(k²−1)/144 (the standard
    * tabulated form), one fixed double expression. Output one row:
    * (n_blocks, k_treat, l2_sum, z_stat).
    */
  def pageTrendTest(cells: DataFrame, blockCol: Column, treatCol: Column,
                    valueCol: Column): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val rows = cells.select(blockCol.as("b"), treatCol.cast("string").as("j"),
        valueCol.cast("long").as("v"))
      .filter(col("b").isNotNull && col("j").isNotNull && col("v").isNotNull)
    val vc = rows.groupBy("b", "v").agg(count(lit(1)).as("t"))
    val rk = vc
      .withColumn("w", sum("t").over(Window.partitionBy("b").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("b"), col("v"), (lit(2) * col("w") - col("t") + 1).as("dr"))
    val dr = rows.join(rk, Seq("b", "v"))
    val kGlobal = rows.agg(countDistinct("j").as("k_global"))
    val shape = rows.groupBy("b")
      .agg(count(lit(1)).as("sz"), countDistinct("j").as("ts"))
      .agg(count(lit(1)).as("n_blocks"),
        countDistinct("sz").as("n_sizes"), min("sz").as("k_sz"),
        coalesce(sum(when(col("sz") =!= col("ts"), 1L).otherwise(0L)), lit(0L))
          .as("n_dup"))
      .crossJoin(broadcast(kGlobal))
      .select(col("n_blocks"),
        when(col("n_sizes") > 1 || col("n_dup") > 0 ||
            col("k_global") =!= col("k_sz"), raise_error(lit(
          "graft.pageTrendTest: blocks are not complete/unique — zero-fill " +
            "every (block, treatment) cell exactly once")))
          .otherwise(col("k_sz")).as("k_treat"))
    val perTreat = dr.groupBy("j").agg(coalesce(sum("dr"), lit(0L)).as("r2_sum"))
    // the hypothesized order: treatments ascending by name — rank them
    val ranked = perTreat
      .withColumn("jr", row_number().over(Window.orderBy("j")).cast("long"))
    ranked.agg(coalesce(sum(col("jr") * col("r2_sum")), lit(0L)).as("l2_sum"))
      .crossJoin(broadcast(shape))
      .withColumn("z_stat", when(col("n_blocks") > 0 && col("k_treat") > 1,
        (dd(col("l2_sum")) / 2.0 -
          dd(col("n_blocks")) * dd(col("k_treat")) *
            (dd(col("k_treat")) + 1.0) * (dd(col("k_treat")) + 1.0) / 4.0) /
          sqrt(dd(col("n_blocks")) * dd(col("k_treat")) * dd(col("k_treat")) *
            (dd(col("k_treat")) + 1.0) *
            (dd(col("k_treat")) * dd(col("k_treat")) - 1.0) / 144.0)))
      .select(col("n_blocks"), col("k_treat"), col("l2_sum"), col("z_stat"))
  }

  /** Jonckheere–Terpstra test for ORDERED group alternatives — the
    * between-groups sibling of [[pageTrendTest]] ("do the groups not
    * just differ but INCREASE in the hypothesized order", groups
    * ordered ascending by name): J = Σ_{i<j} [#(x_i < x_j) + ½·ties].
    * Computed on the (group, value) TALLY table, so the pairwise
    * work is value-cardinality², never rows² — doubled to stay
    * integer (j2 = 2J exact int64), with the NO-TIES null moments
    * E[2J] = (n² − Σn_i²)/2 and Var[J] = (n²(2n+3) − Σn_i²(2n_i+3))/72
    * (the standard tabulated form; document ties via the tie counts
    * the tally already carries). Output one row:
    * (k_groups, n, j2, e2, z_stat).
    */
  def jonckheereTerpstra(df: DataFrame, groupCol: Column,
                         valueCol: Column): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val cells = df.select(groupCol.cast("string").as("g"),
        valueCol.cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val dec = "decimal(38,0)"
    // dominance counts and the cubic null moments accumulate in
    // DECIMAL(38,0): n_g²(2n_g+3) wraps int64 already at ~1.7M-row
    // groups, and Σ pair products crosses 2⁶³ past ~3e9 rows — the
    // kendallTau convention, with the same guarded-BIGINT emission
    val j2 = cells.as("a").join(cells.as("b"), col("a.g") < col("b.g"))
      .agg(coalesce(sum(
        when(col("a.v") < col("b.v"),
          (lit(2).cast(dec) * col("a.c") * col("b.c")).cast(dec))
          .when(col("a.v") === col("b.v"),
            (col("a.c").cast(dec) * col("b.c")).cast(dec))
          .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).cast(dec).as("j2"))
    val sizes = cells.groupBy("g").agg(sum("c").as("n_g"))
      .agg(count(lit(1)).as("k_groups"), sum("n_g").as("n"),
        sum((col("n_g").cast(dec) * col("n_g")).cast(dec)).cast(dec).as("sum_sq"),
        sum((col("n_g").cast(dec) * col("n_g") *
          (lit(2).cast(dec) * col("n_g") + lit(3).cast(dec))).cast(dec))
          .cast(dec).as("sum_sq3"))
    j2.crossJoin(broadcast(sizes))
      .withColumn("e2", (col("n").cast(dec) * col("n") - col("sum_sq"))
        .cast(dec).cast("double") / lit(2.0))
      .withColumn("__var", (dd(col("n")) * dd(col("n")) *
        (lit(2.0) * dd(col("n")) + 3.0) - dd(col("sum_sq3"))) / 72.0)
      .withColumn("z_stat", when(col("__var") > 0,
        (dd(col("j2")) / 2.0 - col("e2") / 2.0) / sqrt(col("__var"))))
      .select(col("k_groups"), col("n"), guardedLong("j2", "jonckheereTerpstra"),
        (col("e2") / 2.0).as("e_j"), col("z_stat"))
  }

  /** Cliff's delta ordinal effect size between TWO arms — "how often
    * does a draw from arm 1 exceed a draw from arm 0" minus the
    * reverse, the distribution-free magnitude companion to
    * [[cohensD]] (which assumes interval scale) and the effect-size
    * view of [[mannWhitney]]-style dominance. Tally-based like
    * [[jonckheereTerpstra]] (value-cardinality² cell pairs, never
    * rows²), exact int64 dominance counts, delta = (gt − lt)/(n1·n0)
    * one fixed double. Output one row:
    * (n0, n1, n_gt, n_lt, n_tie, delta).
    */
  def cliffsDelta(df: DataFrame, armCol: Column, valueCol: Column): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val cells = df.select(armCol.cast("boolean").as("arm"),
        valueCol.cast("long").as("v"))
      .filter(col("arm").isNotNull && col("v").isNotNull)
      .groupBy("arm", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val a1 = cells.filter(col("arm")).select(col("v").as("v1"), col("c").as("c1"))
    val a0 = cells.filter(!col("arm")).select(col("v").as("v0"), col("c").as("c0"))
    val sizes = cells.agg(
      coalesce(sum(when(!col("arm"), col("c")).otherwise(lit(0L))), lit(0L)).as("n0"),
      coalesce(sum(when(col("arm"), col("c")).otherwise(lit(0L))), lit(0L)).as("n1"))
    // value-cardinality² cell pairs via a non-equi join — bounded by
    // the tally, not the rows; the BNLJ build side is the smaller
    // tally table (PlanShapeSpec's ≤64k driver-rows contract)
    val dec = "decimal(38,0)"
    // DECIMAL dominance sums (pair counts cross 2⁶³ past ~3e9 rows),
    // guarded-BIGINT emission — the kendallTau convention
    a1.join(broadcast(a0), lit(true))
      .agg(coalesce(sum(when(col("v1") > col("v0"),
          (col("c1").cast(dec) * col("c0")).cast(dec))
          .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).cast(dec).as("n_gt"),
        coalesce(sum(when(col("v1") < col("v0"),
          (col("c1").cast(dec) * col("c0")).cast(dec))
          .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).cast(dec).as("n_lt"),
        coalesce(sum(when(col("v1") === col("v0"),
          (col("c1").cast(dec) * col("c0")).cast(dec))
          .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).cast(dec).as("n_tie"))
      .crossJoin(broadcast(sizes))
      .withColumn("delta", when(col("n0") > 0 && col("n1") > 0,
        (col("n_gt").cast("double") - col("n_lt").cast("double")) /
          (dd(col("n1")) * dd(col("n0")))))
      .select(col("n0"), col("n1"), guardedLong("n_gt", "cliffsDelta"),
        guardedLong("n_lt", "cliffsDelta"), guardedLong("n_tie", "cliffsDelta"),
        col("delta"))
  }

  /** ε-differentially-private group counts by seeded inverse-CDF
    * Laplace noise — the release gate beside the audit rails
    * ([[kAnonymityAudit]], l-diversity, t-closeness): each group's
    * count is perturbed by Lap(1/ε) derived DETERMINISTICALLY from
    * the md5 of its key and a caller seed (a keyed PRF standing in
    * for the sampler — the point here is the release PIPELINE:
    * noise scale, post-processing floor, replayability; a production
    * deployment swaps the PRF for a CSPRNG draw). u ∈ (−½, ½) comes
    * from 52 md5 bits (exact dyadic rational — both engines convert
    * it to the identical double), noise = −sign(u)·(1/ε)·ln(1−2|u|)
    * floor-quantized at 2²⁰, released = max(0, n + round(noise)).
    * Output per group: (g, n_true…only for the spec; emitted columns
    * are the RELEASABLE set) → (g, n_released, noise_q, epsilon_micro).
    */
  def dpNoisyCounts(df: DataFrame, groupCol: Column, seed: Int,
                    epsilonMicro: Long = 1000000L): DataFrame = {
    require(epsilonMicro > 0, s"epsilonMicro must be > 0, got $epsilonMicro")
    def dd(c: Column) = c.cast("double")
    df.select(groupCol.cast("string").as("g"))
      .filter(col("g").isNotNull)
      .groupBy("g").agg(count(lit(1)).as("n"))
      // 52 bits of md5(seed || key) → u52 ∈ [0, 2^52); the +½ centers
      // each lattice cell so u ∈ (−½, ½) strictly — ln(1−2|u|) can
      // never hit ln(0). Every quantity is an exact dyadic double on
      // both engines.
      .withColumn("__u52", graft.functions.HashFunctions.stableHash52(
        concat(lit(s"dp:$seed:"), col("g"))))
      .withColumn("__u",
        (dd(col("__u52")) + lit(0.5)) / lit(4503599627370496.0) - lit(0.5))
      .withColumn("noise_q", floor(
        when(col("__u") >= 0, lit(-1.0)).otherwise(lit(1.0)) *
          (lit(1000000.0) / dd(lit(epsilonMicro))) *
          log(lit(1.0) - lit(2.0) * abs(col("__u"))) * 1048576).cast("long"))
      // round(noise) = floor(noise + ½) — floorDiv, NOT truncDiv:
      // truncation toward zero would bias negative noise upward
      .withColumn("n_released", greatest(lit(0L),
        col("n") + graft.functions.TimeFunctions.floorDiv(
          col("noise_q") + lit(524288L), 1048576L)))
      .select(col("g"), col("n_released"), col("noise_q"),
        lit(epsilonMicro).as("epsilon_micro"))
  }
  // ===== round 14 wave 2 =====

  /** Group-weighted spatial autocorrelation — Moran's I and Geary's C
    * with the membership weight matrix w_ij = 1 iff i ≠ j share a
    * group (the "same nation / same shard / same cell" contiguity
    * surrogate; reference analogue: the partition-local aggregation
    * the QPU index classes do per shard): the classic "is the value
    * clustered by geography" screen. Exactness: with T = Σx and
    * centered values scaled by N (Z_i = N·x_i − T, so z_i = Z_i/N and
    * every N² cancels inside both ratios), the quadratic forms are
    * DECIMAL(38,0) tallies of per-group moments —
    *   Σ_w Z_i Z_j      = Σ_g (S_g² − Q_g)
    *   Σ_w (Z_i − Z_j)² = Σ_g 2(m_g·Q_g − S_g²)
    *   Σ Z_i²           = Σ_g Q_g            (S_g = ΣZ, Q_g = ΣZ²)
    * and each statistic is ONE fixed float expression over their
    * decimal→double casts: I = N·Σ_w ZZ / (W·Q),
    * C = (N−1)·Σ_w ΔZ² / (2W·Q), E[I] = −1/(N−1), W = Σ m_g(m_g−1).
    * Bound: |Z| ≤ 2N·max|x| keeps Q ≤ 4N³·max|x|² — inside
    * DECIMAL(38,0) through ~10⁸ rows of 10⁷-unit values; shard the
    * test by region beyond that.
    *
    * Scale shape: one combinable per-group moment pass over the fact
    * table plus a broadcast one-row total on each side — no pair join
    * ever forms; the weight matrix exists only algebraically.
    */
  def spatialAutocorr(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    def dd(c: Column) = c.cast("double")
    val v = df.select(groupCol.as("g"), valueCol.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)
    val tot = v.agg(count(lit(1)).as("n"),
      coalesce(sum(col("x").cast(dec)), lit(0).cast(dec)).cast(dec).as("t"))
    val perG = v.crossJoin(broadcast(tot))
      .withColumn("z", (col("n").cast(dec) * col("x") - col("t")).cast(dec))
      .groupBy("g").agg(count(lit(1)).as("m"),
        sum(col("z")).cast(dec).as("s"),
        sum((col("z") * col("z")).cast(dec)).cast(dec).as("q"),
        max("n").as("n"))
    perG.agg(
        max("n").as("n"),
        count(lit(1)).as("n_groups"),
        coalesce(sum((col("m").cast(dec) * (col("m") - 1)).cast(dec)),
          lit(0).cast(dec)).cast(dec).as("w_pairs"),
        coalesce(sum((col("s") * col("s") - col("q")).cast(dec)),
          lit(0).cast(dec)).cast(dec).as("num_i"),
        coalesce(sum((lit(2).cast(dec) *
          (col("m").cast(dec) * col("q") - col("s") * col("s"))).cast(dec)),
          lit(0).cast(dec)).cast(dec).as("num_c"),
        coalesce(sum(col("q")), lit(0).cast(dec)).cast(dec).as("den_q"))
      .select(col("n"), col("n_groups"),
        guardedLong("w_pairs", "spatialAutocorr"),
        dd(col("num_i")).as("num_i"), dd(col("num_c")).as("num_c"),
        dd(col("den_q")).as("den_q"))
      .withColumn("moran_i", when(col("w_pairs") > 0 && col("den_q") > 0,
        dd(col("n")) * col("num_i") / (dd(col("w_pairs")) * col("den_q"))))
      .withColumn("geary_c", when(col("w_pairs") > 0 && col("den_q") > 0,
        (dd(col("n")) - 1.0) * col("num_c") /
          (lit(2.0) * dd(col("w_pairs")) * col("den_q"))))
      .withColumn("e_i", when(col("n") > 1, lit(-1.0) / (dd(col("n")) - 1.0)))
  }

  /** Ordinal–ordinal association battery from one concordance tally:
    * Goodman–Kruskal gamma, Somers' d_yx / d_xy, and Stuart's tau-c —
    * the three standard companions to [[kendallTau]]'s tau-b, all
    * derived from the same four DECIMAL pair counts (concordant C,
    * discordant D, tied-on-x-only T_x, tied-on-y-only T_y):
    * gamma = (C−D)/(C+D), d_yx = (C−D)/(C+D+T_y),
    * d_xy = (C−D)/(C+D+T_x), tau_c = 2m(C−D)/(n²(m−1)), m = min(kx, ky).
    * One value-cell join bounded by band cardinality² (never rows²);
    * guarded-BIGINT emission per the kendallTau convention.
    */
  def ordinalAssociation(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    def dd(c: Column) = c.cast("double")
    val cells = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy("x", "y").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val sz = cells.agg(coalesce(sum("c"), lit(0L)).as("n"),
      countDistinct("x").as("kx"), countDistinct("y").as("ky"))
    val a = cells.select(col("x").as("x1"), col("y").as("y1"), col("c").as("c1"))
    val b = cells.select(col("x").as("x2"), col("y").as("y2"), col("c").as("c2"))
    def tally(cond: Column) = coalesce(sum(when(cond,
      (col("c1").cast(dec) * col("c2")).cast(dec)).otherwise(lit(0).cast(dec))),
      lit(0).cast(dec)).cast(dec)
    // each unordered pair of distinct cells meets exactly once
    a.join(broadcast(b),
        col("x1") < col("x2") || (col("x1") === col("x2") && col("y1") < col("y2")))
      .agg(
        tally(col("x1") < col("x2") && col("y1") < col("y2")).as("n_conc"),
        tally(col("x1") < col("x2") && col("y1") > col("y2")).as("n_disc"),
        tally(col("x1") < col("x2") && col("y1") === col("y2")).as("t_y"),
        tally(col("x1") === col("x2")).as("t_x"))
      .crossJoin(broadcast(sz))
      .select(col("n"), col("kx"), col("ky"),
        guardedLong("n_conc", "ordinalAssociation"),
        guardedLong("n_disc", "ordinalAssociation"),
        guardedLong("t_x", "ordinalAssociation"),
        guardedLong("t_y", "ordinalAssociation"))
      .withColumn("gamma", when(col("n_conc") + col("n_disc") > 0,
        (dd(col("n_conc")) - dd(col("n_disc"))) /
          (dd(col("n_conc")) + dd(col("n_disc")))))
      .withColumn("somers_dyx",
        when(col("n_conc") + col("n_disc") + col("t_y") > 0,
          (dd(col("n_conc")) - dd(col("n_disc"))) /
            (dd(col("n_conc")) + dd(col("n_disc")) + dd(col("t_y")))))
      .withColumn("somers_dxy",
        when(col("n_conc") + col("n_disc") + col("t_x") > 0,
          (dd(col("n_conc")) - dd(col("n_disc"))) /
            (dd(col("n_conc")) + dd(col("n_disc")) + dd(col("t_x")))))
      .withColumn("tau_c", when(col("n") > 0 && least(col("kx"), col("ky")) > 1,
        lit(2.0) * dd(least(col("kx"), col("ky"))) *
          (dd(col("n_conc")) - dd(col("n_disc"))) /
          (dd(col("n")) * dd(col("n")) * (dd(least(col("kx"), col("ky"))) - 1.0))))
  }

  /** Cohen's weighted kappa with quadratic weights in DISAGREEMENT
    * form — the inter-rater agreement statistic for ORDINAL ratings
    * (beside [[fleissKappa]]'s nominal multi-rater form and the plain
    * kappa of row 281): because quadratic weights are
    * w_ij = 1 − (i−j)²/(k−1)², the normalizer cancels and
    * κ_w = 1 − N·Σ(i−j)²·n_ij / Σ(i−j)²·r_i·c_j — pure integer
    * numerator and denominator (DECIMAL tallies: observed over the
    * cell table, expected over the marginal product), ONE final IEEE
    * division. Marginal cross product is broadcast-sized (k² cells).
    */
  def weightedKappa(units: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    def dd(c: Column) = c.cast("double")
    val cells = units.select(aCol.cast("long").as("a"), bCol.cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val n = cells.agg(coalesce(sum("c"), lit(0L)).as("n"),
      countDistinct("a").as("k_a"), countDistinct("b").as("k_b"))
    val disObs = cells.agg(coalesce(sum(((col("a") - col("b")) * (col("a") - col("b"))
      .cast(dec) * col("c")).cast(dec)), lit(0).cast(dec)).cast(dec).as("dis_obs"))
    val ra = cells.groupBy("a").agg(sum("c").as("ra"))
    val cb = cells.groupBy("b").agg(sum("c").as("cb"))
    val disExp = ra.join(broadcast(cb), lit(true))
      .agg(coalesce(sum(((col("a") - col("b")) * (col("a") - col("b"))).cast(dec)
        * col("ra") * col("cb")), lit(0).cast(dec)).cast(dec).as("dis_exp"))
    broadcast(n).crossJoin(broadcast(disObs)).crossJoin(disExp)
      .select(col("n"), col("k_a"), col("k_b"),
        guardedLong("dis_obs", "weightedKappa"), dd(col("dis_exp")).as("dis_exp"))
      .withColumn("kappa_w", when(col("dis_exp") > 0,
        lit(1.0) - dd(col("n")) * dd(col("dis_obs")) / col("dis_exp")))
  }

  /** Cronbach's alpha internal-consistency reliability over K fixed
    * item columns per unit (complete-case): α = K/(K−1)·(1 − ΣV_i/V_T)
    * where every variance NUMERATOR V = n·Σx² − (Σx)² is an exact
    * DECIMAL(38,0) moment (the shared n(n−1) denominator cancels in
    * the ratio), so α is one fixed float expression over exact
    * integers. One combinable moment pass; item count is the schema,
    * not data.
    */
  def cronbachAlpha(units: DataFrame, items: Seq[(String, Column)]): DataFrame = {
    require(items.size >= 2, s"cronbachAlpha needs >= 2 items, got ${items.size}")
    val dec = "decimal(38,0)"
    def dd(c: Column) = c.cast("double")
    val sel = units.select(items.map { case (nm, c) => c.cast("long").as(nm) }: _*)
      .filter(items.map { case (nm, _) => col(nm).isNotNull }.reduce(_ && _))
      .withColumn("__tot", items.map { case (nm, _) => col(nm) }.reduce(_ + _))
    def vnum(s: Column, q: Column, n: Column): Column =
      (n.cast(dec) * q - s * s).cast(dec)
    val aggs: Seq[Column] =
      items.flatMap { case (nm, _) => Seq(
        coalesce(sum(col(nm).cast(dec)), lit(0).cast(dec)).cast(dec).as(s"__s_$nm"),
        coalesce(sum((col(nm).cast(dec) * col(nm)).cast(dec)),
          lit(0).cast(dec)).cast(dec).as(s"__q_$nm"))
      } ++ Seq(
        coalesce(sum(col("__tot").cast(dec)), lit(0).cast(dec)).cast(dec).as("__s_tot"),
        coalesce(sum((col("__tot").cast(dec) * col("__tot")).cast(dec)),
          lit(0).cast(dec)).cast(dec).as("__q_tot"))
    val m = sel.agg(count(lit(1)).as("n"), aggs: _*)
    val withV = m
      .withColumn("__v_items", items.map { case (nm, _) =>
        vnum(col(s"__s_$nm"), col(s"__q_$nm"), col("n")) }
        .reduce((x, y) => (x + y).cast(dec)))
      .withColumn("__v_tot", vnum(col("__s_tot"), col("__q_tot"), col("n")))
    withV.select(col("n"), lit(items.size).cast("long").as("k_items"),
        dd(col("__v_items")).as("item_var_num"), dd(col("__v_tot")).as("total_var_num"))
      .withColumn("alpha", when(col("n") > 1 && col("total_var_num") > 0,
        (dd(col("k_items")) / (dd(col("k_items")) - 1.0)) *
          (lit(1.0) - col("item_var_num") / col("total_var_num"))))
  }

  /** ICC(1,1) one-way random-effects intraclass correlation with the
    * unequal-group-size k₀ correction — "how much of the variance is
    * BETWEEN groups": MSB/MSW from per-group exact moments (m, S, Q
    * int64/DECIMAL), the per-group S²/m terms floor-quantized at 2²⁰
    * and integer-summed so no float ever depends on aggregation
    * order; k₀ = (N − Σm²/N)/(g−1). Exactness bound: S_g² must stay
    * double-exact, i.e. per-group value sums ≤ ~9.5·10⁷ units.
    */
  def iccOneWay(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    def dd(c: Column) = c.cast("double")
    val perG = df.select(groupCol.as("g"), valueCol.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)
      .groupBy("g").agg(count(lit(1)).as("m"), sum("x").as("s"),
        sum((col("x").cast(dec) * col("x")).cast(dec)).cast(dec).as("q"))
    val agg = perG.agg(
      coalesce(sum("m"), lit(0L)).as("n"),
      count(lit(1)).as("n_groups"),
      coalesce(sum(col("s").cast(dec)), lit(0).cast(dec)).cast(dec).as("t"),
      coalesce(sum(col("q")), lit(0).cast(dec)).cast(dec).as("qq"),
      coalesce(sum((col("m").cast(dec) * col("m")).cast(dec)),
        lit(0).cast(dec)).cast(dec).as("m2"),
      coalesce(sum(floor(dd(col("s")) * dd(col("s")) / dd(col("m")) * 1048576)
        .cast(dec)), lit(0).cast(dec)).cast(dec).as("a_q"))
    agg
      .withColumn("ssw", dd(col("qq")) - dd(col("a_q")) / 1048576.0)
      .withColumn("ssb", dd(col("a_q")) / 1048576.0 -
        dd(col("t")) * dd(col("t")) / dd(col("n")))
      .withColumn("k0", when(col("n_groups") > 1,
        (dd(col("n")) - dd(col("m2")) / dd(col("n"))) / (dd(col("n_groups")) - 1.0)))
      .withColumn("msb", when(col("n_groups") > 1,
        col("ssb") / (dd(col("n_groups")) - 1.0)))
      .withColumn("msw", when(col("n") > col("n_groups"),
        col("ssw") / (dd(col("n")) - dd(col("n_groups")))))
      .withColumn("icc1", when(col("msb").isNotNull && col("msw").isNotNull &&
          (col("msb") + (col("k0") - 1.0) * col("msw")) =!= 0.0,
        (col("msb") - col("msw")) / (col("msb") + (col("k0") - 1.0) * col("msw"))))
      .select(col("n"), col("n_groups"), dd(col("t")).as("t_sum"),
        col("ssw"), col("ssb"), col("k0"), col("msb"), col("msw"), col("icc1"))
  }

  /** Mantel–Haenszel pooled odds ratio + Cochran–MH χ² across strata
    * — "is the exposure→outcome association real once the confounder
    * is stratified away" (the epidemiology rail beside [[oddsRatio]]'s
    * single 2×2): per-stratum a·d/n, b·c/n, E[a] = n₁m₁/n and
    * V[a] = n₁n₀m₁m₀/(n²(n−1)) are each ONE fixed float from exact
    * int64 cell counts, floor-quantized at 2²⁰ and integer-summed —
    * stratum order can never drift the sums. OR_MH and the χ² are two
    * final float expressions; strata with n ≤ 1 contribute nothing.
    */
  def mantelHaenszel(df: DataFrame, stratumCol: Column, expCol: Column,
                     outCol: Column): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val cells = df.select(stratumCol.as("st"), expCol.cast("boolean").as("e"),
        outCol.cast("boolean").as("y"))
      .filter(col("st").isNotNull && col("e").isNotNull && col("y").isNotNull)
      .groupBy("st").agg(
        sum(when(col("e") && col("y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("e") && !col("y"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("e") && col("y"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("e") && !col("y"), 1L).otherwise(0L)).as("d"))
      .withColumn("nn", col("a") + col("b") + col("c") + col("d"))
      .filter(col("nn") > 1)
    val terms = cells.select(col("a"),
      floor(dd(col("a")) * dd(col("d")) / dd(col("nn")) * 1048576).cast("long").as("r_q"),
      floor(dd(col("b")) * dd(col("c")) / dd(col("nn")) * 1048576).cast("long").as("s_q"),
      floor(dd(col("a") + col("b")) * dd(col("a") + col("c")) / dd(col("nn"))
        * 1048576).cast("long").as("e_q"),
      floor(dd(col("a") + col("b")) * dd(col("c") + col("d")) *
        dd(col("a") + col("c")) * dd(col("b") + col("d")) /
        (dd(col("nn")) * dd(col("nn")) * (dd(col("nn")) - 1.0))
        * 1048576).cast("long").as("v_q"))
    terms.agg(count(lit(1)).as("k_strata"),
        coalesce(sum("a"), lit(0L)).as("sum_a"),
        coalesce(sum("r_q"), lit(0L)).as("r_sum_q"),
        coalesce(sum("s_q"), lit(0L)).as("s_sum_q"),
        coalesce(sum("e_q"), lit(0L)).as("e_sum_q"),
        coalesce(sum("v_q"), lit(0L)).as("v_sum_q"))
      .withColumn("or_mh", when(col("s_sum_q") > 0,
        dd(col("r_sum_q")) / dd(col("s_sum_q"))))
      .withColumn("chi2_cmh", when(col("v_sum_q") > 0,
        (dd(col("sum_a")) * 1048576.0 - dd(col("e_sum_q"))) *
          (dd(col("sum_a")) * 1048576.0 - dd(col("e_sum_q"))) /
          (dd(col("v_sum_q")) * 1048576.0)))
  }

  /** Classifier log-loss (cross-entropy) of a LINEAR score→probability
    * map against a boolean label: p = (s−min+1)/(max−min+2) — an exact
    * per-row rational with one corpus-wide denominator, so identical
    * rows share identical p and the per-CELL −ln(p) / −ln(1−p) is
    * floor-quantized at 2²⁰ and count-weighted into an exact integer
    * sum (aggregation order can never move the float). Mean is one
    * final division. The probability floor/ceiling (+1/+2 Laplace
    * smoothing) keeps ln finite by construction.
    */
  def linearLogLoss(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val v = df.select(scoreCol.cast("long").as("s"), labelCol.cast("boolean").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
    val mm = v.agg(min("s").as("mn"), max("s").as("mx"))
    v.crossJoin(broadcast(mm))
      .select((col("s") - col("mn") + 1).as("num"),
        (col("mx") - col("mn") + 2).as("den"), col("y"))
      .groupBy("num", "den", "y").agg(count(lit(1)).as("c"))
      .withColumn("__p", dd(col("num")) / dd(col("den")))
      .withColumn("__nll_q", floor(-log(when(col("y"), col("__p"))
        .otherwise(lit(1.0) - col("__p"))) * 1048576).cast("long"))
      .agg(coalesce(sum("c"), lit(0L)).as("n"),
        coalesce(sum(when(col("y"), col("c")).otherwise(lit(0L))), lit(0L)).as("n_pos"),
        coalesce(sum(col("c") * col("__nll_q")), lit(0L)).as("loss_q"))
      .withColumn("mean_logloss", when(col("n") > 0,
        dd(col("loss_q")) / dd(col("n")) / 1048576.0))
  }

  /** Hosmer–Lemeshow goodness-of-fit + expected calibration error over
    * the equal-width integer bins of [[calibrationBins]], with the
    * linear score→probability map of [[linearLogLoss]]: per bin the
    * expected positives E₁ = Σp is an exact RATIONAL (numerator
    * Σ(s−mn+1), one corpus denominator), the HL term
    * (O₁−E₁)²/(E₁(1−E₁/n_b)) is one fixed float quantized at 2²⁰, and
    * ECE = Σ_b|O₁·den − E₁num| / (den·N) is pure integer right up to
    * its single closing division. Emits the per-bin rows with the two
    * totals attached (broadcast one-row join).
    */
  def hosmerLemeshow(df: DataFrame, scoreCol: Column, labelCol: Column,
                     nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    def dd(c: Column) = c.cast("double")
    val v = df.select(scoreCol.cast("long").as("s"), labelCol.cast("boolean").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
    val mm = v.agg(min("s").as("mn"), max("s").as("mx"))
    val bins = v.crossJoin(broadcast(mm))
      .withColumn("bin", least(lit(nBins - 1L),
        expr(s"(s - mn) * $nBins div (mx - mn + 1)")))
      .groupBy("bin").agg(count(lit(1)).as("n_b"),
        sum(when(col("y"), 1L).otherwise(0L)).as("o1"),
        sum(col("s") - col("mn") + 1).as("e1_num"),
        max(col("mx") - col("mn") + 2).as("den"))
    val terms = bins
      .withColumn("__e1", dd(col("e1_num")) / dd(col("den")))
      .withColumn("hl_term_q", when(col("__e1") > 0 && col("__e1") < dd(col("n_b")),
        floor((dd(col("o1")) - col("__e1")) * (dd(col("o1")) - col("__e1")) /
          (col("__e1") * (lit(1.0) - col("__e1") / dd(col("n_b")))) * 1048576)
          .cast("long")).otherwise(lit(0L)))
      .withColumn("abs_err_num", abs(col("o1") * col("den") - col("e1_num")))
    val tot = terms.agg(coalesce(sum("n_b"), lit(0L)).as("n"),
      coalesce(sum("hl_term_q"), lit(0L)).as("hl_q"),
      coalesce(sum("abs_err_num"), lit(0L)).as("ece_num"),
      max("den").as("__den"))
      .withColumn("hl_chi2", dd(col("hl_q")) / 1048576.0)
      .withColumn("ece", when(col("n") > 0,
        dd(col("ece_num")) / (dd(col("__den")) * dd(col("n")))))
      .select(col("n"), col("hl_chi2"), col("ece"))
    terms.select(col("bin"), col("n_b"), col("o1"), col("e1_num"), col("den"),
        col("hl_term_q"))
      .crossJoin(broadcast(tot))
  }

  /** Harrell's concordance index for a right-censored outcome and an
    * integer RISK score (higher score ⇒ predicted shorter time):
    * usable pairs are (i, j) with t_i < t_j and event_i observed;
    * concordant when r_i > r_j, score ties count ½. Scores are
    * banded into `scoreBands` equal-width integer buckets FIRST, so
    * the pair space is a (t, ev, band)-cell tally join bounded by
    * cells², never rows² — DECIMAL pair mass, guarded-BIGINT emission,
    * one final float division.
    */
  def concordanceIndex(units: DataFrame, timeCol: Column, eventCol: Column,
                       riskCol: Column, scoreBands: Int = 10): DataFrame = {
    val dec = "decimal(38,0)"
    def dd(c: Column) = c.cast("double")
    val u = units.select(timeCol.cast("long").as("t"),
        eventCol.cast("boolean").as("ev"), riskCol.cast("long").as("r0"))
      .filter(col("t").isNotNull && col("ev").isNotNull && col("r0").isNotNull)
    val mm = u.agg(min("r0").as("mn"), max("r0").as("mx"))
    val cells = u.crossJoin(broadcast(mm))
      .withColumn("r", least(lit(scoreBands - 1L),
        expr(s"(r0 - mn) * $scoreBands div (mx - mn + 1)")))
      .groupBy("t", "ev", "r").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val aC = cells.filter(col("ev"))
      .select(col("t").as("t1"), col("r").as("r1"), col("c").as("c1"))
    val bC = cells.select(col("t").as("t2"), col("r").as("r2"), col("c").as("c2"))
    def tally(cond: Column) = coalesce(sum(when(cond,
      (col("c1").cast(dec) * col("c2")).cast(dec)).otherwise(lit(0).cast(dec))),
      lit(0).cast(dec)).cast(dec)
    val nUnits = u.agg(count(lit(1)).as("n_units"),
      sum(when(col("ev"), 1L).otherwise(0L)).as("n_events"))
    aC.join(broadcast(bC), col("t1") < col("t2"))
      .agg(tally(lit(true)).as("n_comparable"),
        tally(col("r1") > col("r2")).as("n_concordant"),
        tally(col("r1") === col("r2")).as("n_tied"))
      .crossJoin(broadcast(nUnits))
      .select(col("n_units"), col("n_events"),
        guardedLong("n_comparable", "concordanceIndex"),
        guardedLong("n_concordant", "concordanceIndex"),
        guardedLong("n_tied", "concordanceIndex"))
      .withColumn("c_index", when(col("n_comparable") > 0,
        (dd(col("n_concordant")) + dd(col("n_tied")) * 0.5) / dd(col("n_comparable"))))
  }

  /** ε-DP noisy group SUMS with per-record clipping — the release
    * companion to [[dpNoisyCounts]] for magnitudes: each record's
    * value is clipped into [0, clipAt] (bounding the L1 sensitivity
    * at clipAt), the exact clipped sum is perturbed by
    * Lap(clipAt/ε) drawn from the same md5 keyed-PRF inverse-CDF
    * construction (replayable by design; a production deployment
    * swaps in a CSPRNG), and the release is floored at 0. Output:
    * (g, n, sum_released, noise_q, clip_at, epsilon_micro) — the
    * exact clipped sum itself stays out of the released set.
    */
  def dpNoisySums(df: DataFrame, groupCol: Column, valueCol: Column,
                  clipAt: Long, seed: Int,
                  epsilonMicro: Long = 1000000L): DataFrame = {
    require(clipAt > 0, s"clipAt must be > 0, got $clipAt")
    require(epsilonMicro > 0, s"epsilonMicro must be > 0, got $epsilonMicro")
    def dd(c: Column) = c.cast("double")
    df.select(groupCol.cast("string").as("g"), valueCol.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)
      .withColumn("__cx", least(greatest(col("x"), lit(0L)), lit(clipAt)))
      .groupBy("g").agg(count(lit(1)).as("n"), sum("__cx").as("__cs"))
      .withColumn("__u52", graft.functions.HashFunctions.stableHash52(
        concat(lit(s"dpsum:$seed:"), col("g"))))
      .withColumn("__u",
        (dd(col("__u52")) + lit(0.5)) / lit(4503599627370496.0) - lit(0.5))
      .withColumn("noise_q", floor(
        when(col("__u") >= 0, lit(-1.0)).otherwise(lit(1.0)) *
          (dd(lit(clipAt)) * 1000000.0 / dd(lit(epsilonMicro))) *
          log(lit(1.0) - lit(2.0) * abs(col("__u"))) * 1048576).cast("long"))
      .withColumn("sum_released", greatest(lit(0L),
        col("__cs") + graft.functions.TimeFunctions.floorDiv(
          col("noise_q") + lit(524288L), 1048576L)))
      .select(col("g"), col("n"), col("sum_released"), col("noise_q"),
        lit(clipAt).as("clip_at"), lit(epsilonMicro).as("epsilon_micro"))
  }

  // ===== round 14 wave 3 =====

  /** Ansari–Bradley rank dispersion test — "do the two arms differ in
    * SPREAD around a common center" (the scale companion to the
    * location tests: Welch 245, Mann–Whitney via AUC 226, Mood 339):
    * pooled values get Ansari scores a_r = min(r, n+1−r) (small at the
    * extremes, large in the middle), tie blocks take the block-average
    * score. Everything runs on the (value, count, arm1-count) TALLY:
    * a block occupying positions [l, u] has the closed-form score sum
    * S(l,u) = Σ min(r, n+1−r) (two arithmetic series split at the
    * fold (n+1)/2), the arm-1 statistic accumulates c₁·S·2²⁰ div c
    * per block (ONE truncating division each — order-free), Σa = ΣS
    * exactly, and Σa² = Σ S²/c block-quantized in DECIMAL. z uses the
    * tie-general moments E = n₁Σa/n,
    * V = n₁n₀(nΣa² − (Σa)²)/(n²(n−1)).
    * Output one row: (n0, n1, ab_q, e_q, sum_a, z_stat).
    */
  def ansariBradley(df: DataFrame, armCol: Column, valueCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    def dd(c: Column) = c.cast("double")
    val tally = df.select(armCol.cast("boolean").as("arm"),
        valueCol.cast("long").as("v"))
      .filter(col("arm").isNotNull && col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("c"),
        sum(when(col("arm"), 1L).otherwise(0L)).as("c1"))
    val (cells, Row(nCells: Long)) = Rounds.checkpoint(tally, Nil, count(lit(1)))
    val tot = cells.agg(coalesce(sum("c"), lit(0L)).as("n"),
      coalesce(sum("c1"), lit(0L)).as("n1"))
    // size-dispatched position cumsum over the value tally (the
    // [[prefixSums]] gate keeps a continuous-valued input from
    // funneling through one sort task)
    val pos = prefixSums(cells, nCells, Seq(col("v")), (col("c"), "u"))
      .withColumn("l", col("u") - col("c") + 1)
      .crossJoin(broadcast(tot))
    // S(l, u) = Σ_{r=l..min(u,m)} r + Σ_{r=max(l,m+1)..u} (n+1−r),
    // m = (n+1) div 2 — both closed-form arithmetic series, kept
    // DOUBLED so the /2 never truncates
    val scored = pos
      .withColumn("m", expr("(n + 1) div 2"))
      .withColumn("u1", least(col("u"), col("m")))
      .withColumn("l2", greatest(col("l"), col("m") + 1))
      .withColumn("s_lo", when(col("u1") >= col("l"),
        ((col("u1") - col("l") + 1) * (col("l") + col("u1"))).cast("long")).otherwise(lit(0L)))
      .withColumn("s_hi", when(col("u") >= col("l2"),
        ((col("u") - col("l2") + 1) * (lit(2L) * (col("n") + 1)) -
          (col("u") - col("l2") + 1) * (col("l2") + col("u"))).cast("long"))
        .otherwise(lit(0L)))
      // s2x = 2·S (the range sums above are kept doubled so the /2 of
      // the arithmetic series never truncates)
      .withColumn("s2x", col("s_lo") + col("s_hi"))
    val agg = scored.agg(
      max("n").as("n"), max("n1").as("n1"),
      // AB·2²¹ (score doubled): Σ c1·(2S)·2²⁰ div c — the per-block
      // product crosses 2⁶³ past ~50k rows, so it runs in DECIMAL and
      // lands back in a guarded BIGINT (the kendallTau convention)
      // IntegralDivide lands back in int64, so each quotient re-widens
      // to DECIMAL before the sum (the per-block S²·2²⁰/c quotients
      // alone cross 2⁶³ in aggregate)
      coalesce(sum(graft.functions.TimeFunctions.truncDiv(
        (col("c1").cast(dec) * col("s2x") * lit(1048576L)).cast(dec),
        col("c").cast(dec)).cast(dec)), lit(0).cast(dec)).cast(dec).as("ab_q2"),
      // Σ(2a) = Σ 2S exact; Σ(2a)² = Σ (2S)²/c block-quantized DECIMAL
      coalesce(sum(col("s2x")), lit(0L)).as("sum_a2"),
      coalesce(sum(graft.functions.TimeFunctions.truncDiv(
        (col("s2x").cast(dec) * col("s2x") * lit(1048576L)).cast(dec),
        col("c").cast(dec)).cast(dec)), lit(0).cast(dec)).cast(dec).as("sum_aa4_q"))
    agg.select(
        (col("n") - col("n1")).as("n0"), col("n1"),
        guardedLong("ab_q2", "ansariBradley"), col("sum_a2"),
        dd(col("sum_aa4_q")).as("sum_aa4_q"),
        col("n"))
      .withColumn("e_q2", when(col("n") > 0,
        floor(dd(col("n1")) * dd(col("sum_a2")) / dd(col("n")) * 1048576)
          .cast("long")))
      .withColumn("z_stat", when(col("n") > 1 && col("n0") > 0 && col("n1") > 0 &&
          (dd(col("n")) * col("sum_aa4_q") / 1048576.0 -
            dd(col("sum_a2")) * dd(col("sum_a2"))) > 0,
        (dd(col("ab_q2")) - dd(col("e_q2"))) / 1048576.0 /
          sqrt(dd(col("n1")) * dd(col("n0")) *
            (dd(col("n")) * col("sum_aa4_q") / 1048576.0 -
              dd(col("sum_a2")) * dd(col("sum_a2"))) /
            (dd(col("n")) * dd(col("n")) * (dd(col("n")) - 1.0)))))
      .select(col("n0"), col("n1"), col("ab_q2"), col("e_q2"), col("sum_a2"),
        col("z_stat"))
  }

  /** One-sample Kolmogorov–Smirnov distance vs the discrete uniform on
    * the corpus [min, max] — "is this group's distribution flat":
    * per group the sup runs over the group's value atoms with every
    * comparison CROSS-MULTIPLIED — |cum·range − (x−mn+1)·n_g| — so the
    * max is chosen over exact integers and only the final
    * D = num/(n_g·range) is a float. The two-sample form is row 218;
    * this is the absolute-reference screen.
    * Output per group: (g, n, range, d_num, d_stat).
    */
  def ksUniform(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val v = df.select(groupCol.as("g"), valueCol.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)
    val mm = v.agg(min("x").as("mn"), (max("x") - min("x") + 1).as("v_range"))
    val cells = v.groupBy("g", "x").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum", sum("c").over(w))
      .crossJoin(broadcast(mm))
      .withColumn("ng", sum("c").over(Window.partitionBy("g")))
      .withColumn("dev", abs(col("cum") * col("v_range") -
        (col("x") - col("mn") + 1) * col("ng")))
      .groupBy("g")
      .agg(max("ng").as("n"), max("v_range").as("v_range"),
        max("dev").as("d_num"))
      .withColumn("d_stat", when(col("n") > 0 && col("v_range") > 0,
        dd(col("d_num")) / (dd(col("n")) * dd(col("v_range")))))
  }

  /** Lag-1 Granger-causality F test between every ordered pair of
    * event-type daily-count series — "does yesterday's X count improve
    * today's Y prediction beyond yesterday's Y": restricted model
    * w ~ u (u = y lag-1) vs full model w ~ u + v (v = x lag-1), both
    * solved in closed form from N-scaled centered moments
    * (S_ab = nΣab − ΣaΣb, exact DECIMAL integers), F = (RSS₁−RSS₂)·
    * (n−3)/RSS₂ with the common scale canceling. The day support is
    * the intersection where BOTH series have today and yesterday —
    * asymmetric support would leak phantom significance. Everything
    * until F is one combinable moment pass per pair over the
    * (pairs × days) join of the tiny daily rollup.
    * Output per pair: (x_series, y_series, n_days, det_d, rss_ratio,
    * f_stat).
    */
  def grangerLag1(events: DataFrame, typeCol: String, tsCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    def dd(c: Column) = c.cast("double")
    val d = events.select(col(typeCol).as("series"),
        graft.functions.TimeFunctions.floorDiv(
          graft.functions.TimeFunctions.epochSec(col(tsCol)), 86400L).as("day"))
      .filter(col("series").isNotNull && col("day").isNotNull)
      .groupBy("series", "day").agg(count(lit(1)).as("x"))
      .localCheckpoint(true)
    val yT = d.select(col("series").as("ys"), col("day"), col("x").as("w"))
    val yL = d.select(col("series").as("ys"), (col("day") + 1).as("day"),
      col("x").as("u"))
    val xL = d.select(col("series").as("xs"), (col("day") + 1).as("day"),
      col("x").as("v"))
    val rows = yT.join(yL, Seq("ys", "day"))
      .join(xL, Seq("day"))
      .filter(col("xs") =!= col("ys"))
    def s2(a: String, b: String) = coalesce(
      sum((col(a).cast(dec) * col(b)).cast(dec)), lit(0).cast(dec)).cast(dec)
    val m = rows.groupBy("xs", "ys").agg(count(lit(1)).as("n"),
      coalesce(sum("u"), lit(0L)).as("su"), coalesce(sum("v"), lit(0L)).as("sv"),
      coalesce(sum("w"), lit(0L)).as("sw"),
      s2("u", "u").as("suu"), s2("v", "v").as("svv"), s2("w", "w").as("sww"),
      s2("u", "v").as("suv"), s2("u", "w").as("suw"), s2("v", "w").as("svw"))
    def cm(ab: Column, a: Column, b: Column): Column =
      dd(col("n")) * dd(ab) - dd(a) * dd(b)
    m.withColumn("cuu", cm(col("suu"), col("su"), col("su")))
      .withColumn("cvv", cm(col("svv"), col("sv"), col("sv")))
      .withColumn("cww", cm(col("sww"), col("sw"), col("sw")))
      .withColumn("cuv", cm(col("suv"), col("su"), col("sv")))
      .withColumn("cuw", cm(col("suw"), col("su"), col("sw")))
      .withColumn("cvw", cm(col("svw"), col("sv"), col("sw")))
      .withColumn("det_d", col("cuu") * col("cvv") - col("cuv") * col("cuv"))
      .withColumn("rss1", when(col("cuu") > 0,
        col("cww") - col("cuw") * col("cuw") / col("cuu")))
      .withColumn("rss2", when(col("det_d") > 0,
        col("cww") - (col("cuw") * col("cuw") * col("cvv") -
          lit(2.0) * col("cuw") * col("cvw") * col("cuv") +
          col("cvw") * col("cvw") * col("cuu")) / col("det_d")))
      .withColumn("rss_ratio", when(col("rss2") > 0, col("rss1") / col("rss2")))
      .withColumn("f_stat", when(col("n") > 3 && col("rss2") > 0 &&
          col("rss1").isNotNull,
        (col("rss1") - col("rss2")) * (dd(col("n")) - 3.0) / col("rss2")))
      .select(col("xs").as("x_series"), col("ys").as("y_series"), col("n")
        .as("n_days"), col("det_d"), col("rss_ratio"), col("f_stat"))
  }

  /** Atkinson inequality index (ε = 1) per market — 1 − geomean/mean
    * of per-entity revenue, the welfare-weighted companion to HHI
    * (273) / Gini (189) / Theil (324): ln(rev) floor-quantized at 2²⁰
    * per entity and integer-summed, ONE integer division by n before
    * the single exp — aggregation order can never move the float.
    * Zero/negative revenues are excluded (ln undefined — documented).
    * Output per market: (mkt, n_entities, rev_sum, lnsum_q, atkinson).
    */
  def atkinsonIndex(df: DataFrame, marketCol: Column, entityCol: Column,
                    amountCol: Column): DataFrame = {
    def dd(c: Column) = c.cast("double")
    val rev = df.select(marketCol.as("mkt"), entityCol.as("ent"),
        amountCol.cast("long").as("a"))
      .filter(col("mkt").isNotNull && col("ent").isNotNull && col("a").isNotNull)
      .groupBy("mkt", "ent").agg(sum("a").as("rev"))
      .filter(col("rev") > 0)
    rev.groupBy("mkt")
      .agg(count(lit(1)).as("n_entities"),
        sum("rev").as("rev_sum"),
        sum(floor(log(dd(col("rev"))) * 1048576).cast("long")).as("lnsum_q"))
      .withColumn("atkinson", when(col("n_entities") > 0 && col("rev_sum") > 0,
        lit(1.0) - exp(dd(expr("lnsum_q div n_entities")) / 1048576.0) *
          dd(col("n_entities")) / dd(col("rev_sum"))))
  }

}
