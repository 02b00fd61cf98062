package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics over event streams: ordered funnel conversion
  * within sessions and cohort retention — the two queries every
  * product-analytics engine is asked for first.
  *
  * Scale story: both reduce the event stream with ONE map-side-
  * combinable aggregation on its natural key ((user, session) /
  * user) before anything else; every later stage runs on
  * session- or cohort-sized frames. Conversion and retention
  * fractions are single IEEE divisions of exact integer counts —
  * engine-deterministic.
  */
object Analytics {

  /** Ordered funnel: for each prefix of `steps`, the number of
    * sessions whose first occurrences of the step events appear in
    * strictly increasing time order (`min ts(step_0) < min ts(step_1)
    * < ...`). Output: (step_no, step, n_sessions, conv_pct) with
    * conv_pct relative to the step-0 count.
    *
    * Semantics: first-occurrence ordering (the standard funnel), so a
    * click before the first view does NOT convert even if another
    * click follows; same-second first occurrences (ties at epoch
    * resolution) do not convert either — strictness keeps both
    * engines exact.
    */
  def sessionFunnel(events: DataFrame, keyCol: String, tsCol: String,
                    typeCol: String, steps: Seq[String],
                    gapSeconds: Long = 1800): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    val stepMins = steps.map(st =>
      min(when(col(typeCol) === st, col("__epoch"))).as(s"t_$st"))
    val sessions = Sessionize.assignSessions(events, keyCol, tsCol, gapSeconds)
      .groupBy(col(keyCol), col("session_id"))
      .agg(stepMins.head, stepMins.tail: _*)
    val reached = steps.indices.map { i =>
      // strictly increasing chain over the first i+1 steps
      val chain = (0 until i).map(j =>
        col(s"t_${steps(j)}") < col(s"t_${steps(j + 1)}"))
        .foldLeft(col(s"t_${steps.head}").isNotNull)(_ && _)
      sum(when(chain, 1L).otherwise(0L)).as(s"n_$i")
    }
    val counts = sessions.agg(reached.head, reached.tail: _*)
    import spark.implicits._
    val stepDf = steps.zipWithIndex
      .map { case (st, i) => (i.toLong, st) }.toDF("step_no", "step")
    stepDf.crossJoin(broadcast(counts))
      .select(col("step_no"), col("step"),
        steps.indices.map(i => when(col("step_no") === i, col(s"n_$i")))
          .reduce(coalesce(_, _)).as("n_sessions"),
        steps.indices.map(i =>
          when(col("step_no") === i, col(s"n_$i") / col("n_0")))
          .reduce(coalesce(_, _)).as("conv_pct"))
  }

  /** Next-event Markov transition matrix: within each session the
    * ordered (event, next event) pairs, counted, with the conditional
    * probability P(to | from). The classic "where do users go next"
    * path analysis, and the model behind Markov-chain attribution.
    *
    * Scale shape: the only window is per-(key, session) event order —
    * partitioned on the stream's natural key; pair counts are one
    * combinable aggregation on (from, to) (cardinality = |types|²);
    * the per-from totals table is |types| rows and broadcasts.
    * Ordering is deterministic because the window sorts on the full
    * microsecond timestamp (unique per user in the event stream), not
    * the second-floored session epoch.
    */
  def transitionMatrix(events: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, gapSeconds: Long = 1800,
                       idCol: String = "event_id"): DataFrame = {
    // (ts, id) is the TOTAL order — equal timestamps exist in real
    // event data (r14 sf0.1 fuzz: lead() over bare ts handed each
    // engine a different successor on ties); NULL-id rows are dropped
    // on both sides per the NULL-order-key contract
    val sess = Sessionize.assignSessions(
      events.filter(col(idCol).isNotNull), keyCol, tsCol, gapSeconds)
    val w = Window.partitionBy(col(keyCol), col("session_id"))
      .orderBy(col(tsCol), col(idCol))
    val counts = sess
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum("n").as("__tot"))
    counts.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n") / col("__tot")).as("p"))
  }

  /** Weekly cohort retention: users cohorted by the epoch-week of
    * their first event; one row per (cohort_week, week_offset) with
    * the distinct users active that week and the retained fraction of
    * the cohort (offset 0 is the cohort size itself, ret_pct 1.0).
    */
  def cohortRetention(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val weeks = events.select(col(keyCol).as("u"),
      graft.functions.TimeFunctions.floorDiv(graft.functions.TimeFunctions.epochSec(col(tsCol)), 604800L).as("wk"))
    val cohorts = weeks.groupBy("u").agg(min("wk").as("cohort_week"))
    val active = weeks.join(cohorts, "u")
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct("u").as("n_users"))
    val sizes = cohorts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    active.join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        (col("n_users") / col("cohort_size")).as("ret_pct"))
  }

  /** Per-group Shannon entropy of a categorical column, in the
    * integer-scaled form the surprisal ladder uses (text_surprisal /
    * DSIR precedent): each category contributes
    * `n_v * floor(ln(n/n_v) * 2^20)` and the per-group sum divides by
    * n with INTEGER division — entropy in micro-nats that replays
    * exactly (ln() agrees across engines at these magnitudes; floor
    * boundaries are the measured-safe pattern from text_surprisal).
    * Two combinable aggregations, group-sized frames only.
    * Output: (group, n_rows, n_values, h_q).
    *
    * Bound: the summed terms reach ~n·ln(n)·2^20, inside a long for
    * groups up to ~3·10^11 rows; past that lower the 2^20 scale shift
    * (a documented ceiling, not a silent wrap — the itemSimilarity
    * convention).
    */
  def groupEntropy(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val perValue = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(valueCol).as("v"))
      .agg(count(lit(1)).as("n_v"))
    val perGroup = perValue.groupBy("grp")
      .agg(sum("n_v").as("n_rows"), count(lit(1)).as("n_values"))
    perValue.join(perGroup, "grp")
      .withColumn("__term",
        col("n_v") * floor(log(col("n_rows").cast("double") / col("n_v")) * 1048576).cast("long"))
      .groupBy(col("grp").as(groupCol))
      .agg(min("n_rows").as("n_rows"), min("n_values").as("n_values"),
        expr("sum(__term) div min(n_rows)").as("h_q"))
  }

  /** Bounce rate per entry event type: the fraction of gap-sessions
    * that end after their very first event, keyed by what that first
    * event was — the landing-page health metric. First event via
    * `min_by` over the packed (epoch_micros, event_id) string key (the
    * [[TimeSeries.dailyOhlc]] total order); one user-key shuffle for
    * session reduction, entry-type-cardinality rollup, one division.
    * Output: (entry_type, n_sessions, n_bounces, bounce_pct).
    */
  def bounceRate(events: DataFrame, keyCol: String, tsCol: String,
                 typeCol: String, idCol: String = "event_id",
                 gapSeconds: Long = 1800): DataFrame = {
    val s = Sessionize.assignSessions(
        events.filter(col(idCol).isNotNull), keyCol, tsCol, gapSeconds)
      .withColumn("__ord",
        format_string("%020d|%010d", unix_micros(col(tsCol).cast("timestamp")), col(idCol)))
    val per = s.groupBy(col(keyCol), col("session_id"))
      // key nulled when the ARG is null (r13 fuzz, sf0.01 seed):
      // DuckDB's arg_min SKIPS null-arg rows while Spark's min_by
      // returns them — nulling the key makes min_by skip them too
      .agg(min_by(col(typeCol), when(col(typeCol).isNotNull, col("__ord")))
        .as("entry_type"),
        count(lit(1)).as("n_events"))
    per.groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_pct", col("n_bounces").cast("double") / col("n_sessions"))
  }

  /** Conversion latency distribution: for every session where `toType`
    * first occurs strictly after `fromType` first occurs, the
    * seconds between them — count, interpolated p50/p90, and max.
    * Latencies are exact integer seconds (epoch differences); only the
    * percentile interpolation is floating point, the same contract as
    * the q_percentile row. One user-key shuffle, one-row result.
    */
  def funnelLatency(events: DataFrame, keyCol: String, tsCol: String,
                    typeCol: String, fromType: String, toType: String,
                    gapSeconds: Long = 1800): DataFrame = {
    val s = Sessionize.assignSessions(events, keyCol, tsCol, gapSeconds)
    val lat = s.groupBy(col(keyCol), col("session_id"))
      .agg(min(when(col(typeCol) === fromType, graft.functions.TimeFunctions.epochSec(col(tsCol)))).as("t0"),
        min(when(col(typeCol) === toType, graft.functions.TimeFunctions.epochSec(col(tsCol)))).as("t2"))
      .filter(col("t0").isNotNull && col("t2") > col("t0"))
      .withColumn("latency_sec", col("t2") - col("t0"))
    lat.agg(count(lit(1)).as("n_converted"),
      expr("percentile(latency_sec, 0.5)").as("p50_sec"),
      expr("percentile(latency_sec, 0.9)").as("p90_sec"),
      max("latency_sec").as("max_sec"))
  }

  /** Per-group KL divergence of the group's token distribution from
    * the WHOLE corpus's — the drift monitor a training-data pipeline
    * runs per source/snapshot to catch a feed whose content shifted
    * (a spiking KL means the source no longer looks like the corpus
    * it feeds). KL(p_group ‖ p_corpus) = Σ_w p_g(w)·ln(p_g(w)/q(w));
    * every group token exists in the corpus by construction, so q(w)
    * is never zero and no smoothing is needed.
    *
    * Exactness ([[groupEntropy]]'s integer-scaled pattern): each token
    * contributes `c_gw · floor(ln((c_gw·T)/(T_g·c_w))·2^20)` — the ln
    * argument a single DOUBLE division of two exact long products —
    * and the group sum divides by T_g with INTEGER division: KL in
    * micro-nats, replayed bit-for-bit by the oracle. Bound: the long
    * products need c_gw·T < 2^63 — holds to ~10^9 corpus tokens with
    * 10^9-token groups; past that drop the products to doubles and
    * accept last-ulp drift (documented ceiling, itemSimilarity
    * convention).
    *
    * Scale shape: ONE corpus-sized token explode feeding two
    * combinable counts (per-(group,token) and per-token); the join is
    * token-keyed, vocabulary×groups-sized — the corpus is never
    * shuffled twice and nothing is quadratic.
    * Output: (group, n_tokens, n_distinct, kl_q).
    */
  def klDrift(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val toks = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val perGroupTok = toks.groupBy("grp", "w").agg(count(lit(1)).as("c_gw"))
    val perTok = perGroupTok.groupBy("w").agg(sum("c_gw").as("c_w"))
    val totals = perGroupTok.groupBy("grp")
      .agg(sum("c_gw").as("t_g"), count(lit(1)).as("n_distinct"))
    val corpus = perTok.agg(sum("c_w").as("t")) // one row, broadcast
    perGroupTok.join(perTok, "w").join(broadcast(totals), "grp")
      .crossJoin(broadcast(corpus))
      .withColumn("__term", col("c_gw") *
        floor(log((col("c_gw") * col("t")).cast("double") /
          (col("t_g") * col("c_w")).cast("double")) * 1048576).cast("long"))
      .groupBy(col("grp").as(groupCol))
      .agg(min("t_g").as("n_tokens"), min("n_distinct").as("n_distinct"),
        expr("sum(__term) div min(t_g)").as("kl_q"))
  }

  /** First-touch attribution: gap-sessionize the event stream, credit
    * each session's purchase revenue to the session's FIRST channel
    * (event type), then roll up per channel. The first event is
    * `min_by` over the zero-padded (epoch_micros, event_id) string key
    * — totally ordered, cross-engine (see [[TimeSeries.dailyOhlc]]);
    * revenue is exact integer cents. Session reduction is one shuffle
    * on the user key; the channel rollup is channel-cardinality.
    * Output: (first_channel, n_sessions, n_converted, revenue_cents).
    */
  def firstTouchAttribution(events: DataFrame, keyCol: String, tsCol: String,
                            typeCol: String, valCol: String,
                            idCol: String = "event_id",
                            gapSeconds: Long = 1800): DataFrame = {
    // NULL-id events excluded (fuzz r12): the (micros, id) total order
    // is the operator's determinism contract, and engines disagree on
    // NULL arg_min/min_by keys
    val s = Sessionize.assignSessions(
        events.filter(col(idCol).isNotNull), keyCol, tsCol, gapSeconds)
      .withColumn("__ord",
        format_string("%020d|%010d", unix_micros(col(tsCol).cast("timestamp")), col(idCol)))
      .withColumn("__cents",
        when(col(typeCol) === "purchase" && col(valCol).isNotNull,
          round(col(valCol) * 100).cast("long")).otherwise(0L))
    val sessions = s.groupBy(col(keyCol), col("session_id"))
      // arg_min null-skip emulation — see bounceRate (r13 fuzz)
      .agg(min_by(col(typeCol), when(col(typeCol).isNotNull, col("__ord")))
        .as("first_channel"),
        sum("__cents").as("rev_cents"))
    sessions.groupBy("first_channel")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("rev_cents") > 0, 1L).otherwise(0L)).as("n_converted"),
        sum("rev_cents").as("revenue_cents"))
  }

  /** Top navigation paths: gap-sessionize the stream, reduce each
    * session to its first `depth` event types in arrival order (the
    * packed micros|id key again — total order, cross-engine), and
    * count path frequencies — the "how do users actually move"
    * complement of the funnel (fixed sequence) and Markov (single
    * hop) rows. The per-session collect_list is bounded by session
    * length; the path rollup is path-cardinality; top-k compiles to
    * TakeOrdered under a total (count desc, path) order.
    * Output: (path, n_sessions) — `path` like "view>click>purchase".
    */
  def topPaths(events: DataFrame, keyCol: String, tsCol: String,
               typeCol: String, idCol: String = "event_id",
               gapSeconds: Long = 1800, depth: Int = 3,
               topK: Int = 10): DataFrame = {
    val s = Sessionize.assignSessions(
        events.filter(col(idCol).isNotNull && col(typeCol).isNotNull),
        keyCol, tsCol, gapSeconds)
      .withColumn("__ord",
        format_string("%020d|%010d", unix_micros(col(tsCol).cast("timestamp")), col(idCol)))
    s.groupBy(col(keyCol), col("session_id"))
      .agg(concat_ws(">",
        expr(s"transform(slice(sort_array(collect_list(struct(__ord, $typeCol))), 1, $depth), x -> x.$typeCol)"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Time-bounded funnel ("windowFunnel"): [[sessionFunnel]]'s
    * first-occurrence strictly-increasing chain with the extra
    * constraint that every completed step lies within `windowSeconds`
    * of the FIRST step's first occurrence — "signup within 10 minutes
    * of landing", the conversion-SLA form of the funnel. Because the
    * chain is strictly increasing, bounding the LAST step bounds every
    * intermediate one, so the condition is a single integer epoch
    * comparison per prefix. Same scale shape as [[sessionFunnel]]: one
    * combinable (key, session) reduction, a one-row counts frame, a
    * steps-sized output.
    * Output: (step_no, step, n_sessions, conv_pct).
    */
  def windowFunnel(events: DataFrame, keyCol: String, tsCol: String,
                   typeCol: String, steps: Seq[String], windowSeconds: Long,
                   gapSeconds: Long = 1800): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    val stepMins = steps.map(st =>
      min(when(col(typeCol) === st, col("__epoch"))).as(s"t_$st"))
    val sessions = Sessionize.assignSessions(events, keyCol, tsCol, gapSeconds)
      .groupBy(col(keyCol), col("session_id"))
      .agg(stepMins.head, stepMins.tail: _*)
    val reached = steps.indices.map { i =>
      val ordered = (0 until i).map(j =>
        col(s"t_${steps(j)}") < col(s"t_${steps(j + 1)}"))
        .foldLeft(col(s"t_${steps.head}").isNotNull)(_ && _)
      val inWindow =
        if (i == 0) lit(true)
        else col(s"t_${steps(i)}") - col(s"t_${steps.head}") <= windowSeconds
      sum(when(ordered && inWindow, 1L).otherwise(0L)).as(s"n_$i")
    }
    val counts = sessions.agg(reached.head, reached.tail: _*)
    import spark.implicits._
    val stepDf = steps.zipWithIndex
      .map { case (st, i) => (i.toLong, st) }.toDF("step_no", "step")
    stepDf.crossJoin(broadcast(counts))
      .select(col("step_no"), col("step"),
        steps.indices.map(i => when(col("step_no") === i, col(s"n_$i")))
          .reduce(coalesce(_, _)).as("n_sessions"),
        steps.indices.map(i =>
          when(col("step_no") === i, col(s"n_$i") / col("n_0")))
          .reduce(coalesce(_, _)).as("conv_pct"))
  }

  /** Consecutive-day activity streaks (gaps-and-islands): per key, the
    * runs of consecutive active epoch-days, reduced to the count of
    * runs, total active days, and the longest run — the retention/
    * engagement "streak" metric. The island id is the classic
    * `day − row_number()` residual (constant within a consecutive
    * run, distinct across runs); both windows partition on the key,
    * and the event stream is reduced to distinct (key, day) FIRST so
    * the windows never see raw events. All integers, hash-exact.
    * Output: (key, n_streaks, n_active_days, longest_streak).
    */
  def activeDayStreaks(events: DataFrame, keyCol: String,
                       tsCol: String): DataFrame = {
    val days = events.filter(col(keyCol).isNotNull)
      .select(col(keyCol).as("k"),
        graft.functions.TimeFunctions.floorDiv(graft.functions.TimeFunctions.epochSec(col(tsCol)), 86400L).as("day"))
      .distinct()
    val w = Window.partitionBy("k").orderBy("day")
    days.withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("k"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("k").as(keyCol))
      .agg(count(lit(1)).as("n_streaks"), sum("len").as("n_active_days"),
        max("len").as("longest_streak"))
  }

  /** Per-group ABC (Pareto) classification: units ranked by value
    * descending within their group, classified A while the cumulative
    * value share is ≤ `aPct`%, B while ≤ `bPct`%, else C — the 80/15/5
    * inventory/revenue concentration analysis. The class boundary is a
    * cross-multiplied INTEGER comparison (`cum·100 ≤ tot·pct`) so no
    * float decides membership; the rank order (value desc, unit asc)
    * is total. The fact table reduces to per-(group, unit) sums
    * FIRST (combinable); both windows run on that unit-sized frame,
    * partitioned by group.
    * Output: (group, unit, value, cum_value, abc_class).
    */
  def abcClassification(facts: DataFrame, groupCol: String, unitCol: String,
                        valueCol: String, aPct: Int = 80,
                        bPct: Int = 95): DataFrame = {
    // NULL value rows excluded too (fuzz r12): an all-NULL unit would
    // aggregate to v = NULL, which engines ORDER differently
    val perUnit = facts.filter(col(groupCol).isNotNull && col(unitCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(unitCol).as("unit"))
      .agg(sum(col(valueCol)).as("v"))
    val run = Window.partitionBy("grp").orderBy(col("v").desc, col("unit"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy("grp")
    perUnit
      .withColumn("cum", sum("v").over(run))
      .withColumn("tot", sum("v").over(all))
      .select(col("grp").as(groupCol), col("unit").as(unitCol),
        col("v").as("value"), col("cum").as("cum_value"),
        when(col("cum") * 100 <= col("tot") * aPct, "A")
          .when(col("cum") * 100 <= col("tot") * bPct, "B")
          .otherwise("C").as("abc_class"))
  }

  /** Exact two-sample Kolmogorov–Smirnov drift statistic per group vs
    * the WHOLE corpus — the distribution-level complement of
    * [[klDrift]]'s token-level monitor: a source whose document-LENGTH
    * (or any numeric feature) distribution shifted shows a spiking D
    * even when its vocabulary hasn't moved. D = max_x |F_s(x) − F(x)|
    * evaluated as the INTEGER deviation `|n·cum_s(x) − n_s·cum(x)|`
    * over the corpus's value support, so the argmax and the numerator
    * replay exactly; only the final D = d_num/(n·n_s) is one IEEE
    * division. Ties on the max deviation resolve to the smallest
    * value.
    *
    * Scale shape: per-(group, value) counts are combinable; the grid
    * is groups × distinct-values (both bounded far below the fact
    * table — a length histogram has thousands of distinct values at
    * any corpus size); the only windows partition by group over grid
    * rows; the global ECDF is recovered by SUMMING the per-group
    * cumulatives at each value (no global window anywhere).
    *
    * Bound: `n·cum_s ≤ n·n_s` — inside a long while n·n_s < 2^63
    * (10^9-row corpus with 10^9-row groups); the documented-ceiling
    * convention.
    * Output: (group, n_group, n_total, d_num, at_value, d).
    */
  def ksDrift(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val vals = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), col(valueCol).cast("long").as("v"))
    val sCounts = vals.groupBy("grp", "v").agg(count(lit(1)).as("n_sv"))
    val groups = vals.groupBy("grp").agg(count(lit(1)).as("n_s"))
    val support = vals.select("v").distinct()
    val total = vals.agg(count(lit(1)).as("n_g")) // one row, broadcast
    val run = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = groups.crossJoin(broadcast(support))
      .join(sCounts, Seq("grp", "v"), "left")
      .withColumn("cum_s", sum(coalesce(col("n_sv"), lit(0L))).over(run))
    val gcum = cum.groupBy("v").agg(sum("cum_s").as("cum_g"))
    val rk = Window.partitionBy("grp").orderBy(col("dev").desc, col("v"))
    cum.join(gcum, "v").crossJoin(broadcast(total))
      .withColumn("dev", abs(col("n_g") * col("cum_s") - col("n_s") * col("cum_g")))
      .withColumn("__rk", row_number().over(rk))
      .filter(col("__rk") === 1)
      .select(col("grp").as(groupCol), col("n_s").as("n_group"),
        col("n_g").as("n_total"), col("dev").as("d_num"),
        col("v").as("at_value"),
        (col("dev").cast("double") / (col("n_g") * col("n_s"))).as("d"))
  }

  /** Per-group Gini coefficient of a value distribution — the
    * inequality/concentration metric (revenue concentration per
    * market, token-share per source...). Uses the rank formula
    * `G = Σ (2i − n − 1)·x_(i) / (n·Σx)` with ranks from a
    * GROUP-partitioned window totally ordered by (value, unit id), so
    * the integer numerator replays exactly; the final ratio is one
    * fixed-order IEEE division. Per-unit reduction first (combinable),
    * then the window runs on the unit-sized frame — never the raw
    * fact table.
    *
    * Bound: the numerator reaches ~n·Σx; document-scale cents keep it
    * inside a long until n·Σx ≈ 9·10^18 (a trillion-dollar group of a
    * billion units) — the documented-ceiling convention.
    *
    * Output: (group, n_units, sum_value, gini_num, gini).
    */
  def giniCoefficient(df: DataFrame, groupCol: String, unitCol: String,
                      valueCol: String): DataFrame = {
    val perUnit = df.filter(col(groupCol).isNotNull && col(unitCol).isNotNull &&
        col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(unitCol).as("unit"))
      .agg(sum(col(valueCol)).as("rev"))
    val w = Window.partitionBy("grp").orderBy(col("rev"), col("unit"))
    perUnit
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
      .groupBy(col("grp").as(groupCol))
      .agg(max("n").as("n_units"), sum("rev").as("sum_value"),
        sum((lit(2) * col("i") - col("n") - 1) * col("rev")).as("gini_num"))
      .withColumn("gini",
        col("gini_num").cast("double") / (col("n_units") * col("sum_value")))
  }

  /** Peak concurrency per epoch-day: the maximum number of sessions
    * simultaneously active during each day — the capacity-planning
    * number (licence seats, connection pools) an interval count can't
    * give. Sessions come from [[Sessionize.sessions]] (gap rule shared
    * with the rest of the session family); a session covers the
    * INCLUSIVE second range [start, end], so the sweep places +1 at
    * `start` and −1 at `end+1`, with −1 ordered before +1 at equal
    * instants — a session ending as another starts never double-counts.
    *
    * Scale shape: the sweep is the classic +1/−1 prefix-sum, but
    * PARTITIONED BY DAY: sessions spanning midnight are exploded into
    * their covered days (span/86400 rows — sessions are gap-bounded,
    * so the explosion is tiny) and clipped, so the running-sum window
    * orders one day's boundary events, never the whole history.
    * Output: (day, n_sessions, peak_concurrent).
    */
  def peakConcurrency(events: DataFrame, keyCol: String, tsCol: String,
                      gapSeconds: Long): DataFrame = {
    val sess = Sessionize.sessions(events, keyCol, tsCol, gapSeconds)
      .select(col("session_start").as("t0"),
        (col("session_end") + 1).as("t1"))
    val spans = sess
      .withColumn("day", explode(sequence(
        expr("t0 div 86400"), expr("(t1 - 1) div 86400"))))
      .withColumn("lo", greatest(col("t0"), col("day") * 86400))
      .withColumn("hi", least(col("t1"), (col("day") + 1) * 86400))
    val deltas = spans.select(col("day"), col("lo").as("t"), lit(1).as("d"))
      .unionByName(spans.select(col("day"), col("hi").as("t"), lit(-1).as("d")))
    val sweep = Window.partitionBy("day").orderBy("t", "d")
    deltas
      .withColumn("run", sum("d").over(sweep))
      .groupBy("day")
      .agg((count(lit(1)) / 2).cast("long").as("n_sessions"),
        max("run").as("peak_concurrent"))
  }

  /** Rolling distinct active users (DAU / WAU-style) per epoch-day:
    * for every day in the observed range, the exact count of distinct
    * users active that day and within the trailing `windowDays`-day
    * window ending that day. COUNT(DISTINCT) OVER a sliding range
    * isn't a combinable window — the classic exact rewrite is the
    * CONTRIBUTION expansion: each distinct (user, day) activity row
    * contributes to the `windowDays` window-ends it falls inside, and
    * a second distinct on (user, window_end) collapses multi-day
    * users so nobody is counted twice in one window.
    *
    * Scale shape: the fact table reduces to distinct (user, day)
    * FIRST (combinable, the big shuffle); the explosion is
    * windowDays× that — bounded, chosen, and tiny next to raw events
    * — then one more distinct + count, all hash aggregations keyed by
    * (user, window_end). No window function orders anything global.
    * Days with zero activity still report (0, rolling) via the
    * day-spine sequence from the one-row broadcast bounds. Window
    * ends past the last observed day are not reported; the first
    * `windowDays−1` days report their clipped (partial) windows —
    * the standard dashboard convention.
    */
  def rollingActives(events: DataFrame, userCol: String, tsCol: String,
                     windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val ud = events
      .select(col(userCol).as("u"), graft.functions.TimeFunctions.truncDiv(graft.functions.TimeFunctions.epochSec(col(tsCol)), 86400L).as("day"))
      .filter(col("u").isNotNull && col("day").isNotNull)
      .distinct()
    val bounds = ud.agg(min("day").as("d0"), max("day").as("d1"))
    // ud is already distinct (u, day): plain count IS the distinct count
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val rolling = ud
      .crossJoin(broadcast(bounds))
      .withColumn("w", explode(sequence(col("day"),
        least(col("day") + lit(windowDays.toLong - 1), col("d1")))))
      .select(col("u"), col("w"))
      .distinct()
      .groupBy(col("w").as("day"))
      .agg(count(lit(1)).as("rolling_actives"))
    // spine is the LEFT (probe) side: no broadcast hint — the
    // day-cardinality dau/rolling sides auto-broadcast by size
    bounds
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(dau, Seq("day"), "left")
      .join(rolling, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("rolling_actives"), lit(0L)).as("rolling_actives"))
  }

  /** Per-source Jensen–Shannon divergence vs the whole corpus — the
    * SYMMETRIC, [0, ln2]-bounded companion to [[klDrift]] (KL(P‖Q)
    * blows up on any source-only token; JS vs the mixture
    * M = (P+Q)/2 is finite by construction, the standard corpus-drift
    * distance). Same micro-nat discipline as klDrift: each present
    * (source, token) pair contributes `c·⌊ln(ratio)·2²⁰⌋` with the
    * ratio formed from exact integer counts —
    * p/m = 2·c_gw·t / (c_gw·t + c_w·t_g) and
    * q/m = 2·c_w·t_g / (c_gw·t + c_w·t_g) — and the corpus-side mass
    * of tokens ABSENT from the source needs no spine: for those
    * q/m = 2 exactly, so their lump sum is `(t − Σ_present c_w)·⌊ln2·2²⁰⌋`.
    * Output per source: (n_tokens, n_distinct, kl_pm_q, kl_qm_q,
    * js_q = (kl_pm_q + kl_qm_q) div 2), all micro-nats.
    *
    * Scale shape: identical to klDrift — one token explode, two
    * combinable count tables, per-token hash join, broadcast totals;
    * int64 products c_gw·t bound n_tokens ≲ 3·10⁹ per run (shard by
    * corpus slice past that), same as klDrift's documented bound.
    */
  def jsDivergence(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val toks = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val perGroupTok = toks.groupBy("grp", "w").agg(count(lit(1)).as("c_gw"))
    val perTok = perGroupTok.groupBy("w").agg(sum("c_gw").as("c_w"))
    val totals = perGroupTok.groupBy("grp")
      .agg(sum("c_gw").as("t_g"), count(lit(1)).as("n_distinct"))
    val corpus = perTok.agg(sum("c_w").as("t")) // one row, broadcast
    val ln2Micro = 726817L // floor(ln 2 * 2^20)
    val denom = col("c_gw") * col("t") + col("c_w") * col("t_g")
    perGroupTok.join(perTok, "w").join(broadcast(totals), "grp")
      .crossJoin(broadcast(corpus))
      .withColumn("__pm", col("c_gw") *
        floor(log((lit(2) * col("c_gw") * col("t")).cast("double") /
          denom.cast("double")) * 1048576).cast("long"))
      .withColumn("__qm", col("c_w") *
        floor(log((lit(2) * col("c_w") * col("t_g")).cast("double") /
          denom.cast("double")) * 1048576).cast("long"))
      .groupBy(col("grp").as(groupCol))
      // clamp at 0: KL >= 0 mathematically, but the per-term floor can
      // push a near-zero sum a few micro-nats negative, where div
      // (truncate) and // (floor) would disagree across engines
      .agg(min("t_g").as("n_tokens"), min("n_distinct").as("n_distinct"),
        expr("greatest(sum(__pm), 0L) div min(t_g)").as("kl_pm_q"),
        expr(s"greatest(sum(__qm) + (min(t) - sum(c_w)) * ${ln2Micro}L, 0L) div min(t)")
          .as("kl_qm_q"))
      .withColumn("js_q", expr("(kl_pm_q + kl_qm_q) div 2"))
  }

  /** Kaplan–Meier survival curve of user lifetime (days between a
    * user's first and last event), right-censored for users still
    * active within `censorDays` of the corpus end — the churn
    * product-limit estimator. Ŝ(t) = Π_{u ≤ t} (1 − d_u/n_u) is a
    * cumulative product of rationals, which a float Π would make
    * engine-dependent; here it folds in INTEGER micro-units —
    * `s ← s·(n_t − d_t) div n_t` left-to-right over lifetimes
    * ascending, seeded at 2²⁰ — so every step is exact int64 on both
    * engines (s ≤ 2²⁰, n ≤ users, product ≤ 2²⁰·n).
    *
    * Scale shape: the fact scan reduces to per-user (first, last)
    * epoch-days (combinable); everything after lives on the DISTINCT-
    * LIFETIME table (≤ the corpus day span — hundreds), where the
    * O(T²) prefix folds are negligible. Output: one row per distinct
    * lifetime — (t_days, n_risk, d_churned, c_censored, s_micro).
    */
  def kaplanMeier(events: DataFrame, keyCol: String, tsCol: String,
                  censorDays: Long = 7): DataFrame = {
    require(censorDays >= 0, s"censorDays must be >= 0, got $censorDays")
    val perUser = events.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("u"),
        expr(s"floor(unix_micros(CAST($tsCol AS TIMESTAMP)) / 1000000L) div 86400L").as("d"))
      .groupBy("u").agg(min("d").as("fd"), max("d").as("ld"))
    val maxd = perUser.agg(max("ld").as("maxd"))
    val lt = perUser.crossJoin(broadcast(maxd))
      .withColumn("t", col("ld") - col("fd"))
      .withColumn("churned", col("ld") <= col("maxd") - lit(censorDays))
      .groupBy("t")
      .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
        sum(when(col("churned"), 0L).otherwise(1L)).as("c"))
    // distinct-lifetime table: cumulative risk set, then the packed
    // integer fold (elem = n_risk * 2^31 + (n_risk - d)) per prefix
    val wPrior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val tot = lt.agg(sum(col("d") + col("c")).as("total"))
    val risk = lt.crossJoin(broadcast(tot))
      .withColumn("prior", coalesce(sum(col("d") + col("c")).over(wPrior), lit(0L)))
      .withColumn("n_risk", col("total") - col("prior"))
      .withColumn("e", col("n_risk") * lit(1L << 31) + (col("n_risk") - col("d")))
    val packed = risk.agg(
      sort_array(collect_list(struct(col("t"), col("e")))).as("tes"))
    risk.crossJoin(broadcast(packed))
      .withColumn("i", expr("array_position(transform(tes, x -> x.t), t)"))
      .withColumn("s_micro", expr(
        s"""aggregate(slice(transform(tes, x -> x.e), 1, CAST(i AS INT)), ${1L << 20}L,
           |  (acc, e) -> (acc * (e % ${1L << 31}L)) div (e div ${1L << 31}L))""".stripMargin))
      .select(col("t").as("t_days"), col("n_risk"),
        col("d").as("d_churned"), col("c").as("c_censored"), col("s_micro"))
  }

  /** Exact global `ntile(k)` over a TOTAL order (append the entity
    * key) of the `n` rows of `df`: the rank is a [[Stats.prefixSums]]
    * of `lit(1L)` — so it inherits that primitive's size gate, one
    * bounded sort task up to `spark.graft.tally.windowMax` rows and a
    * range-partitioned parallel rank above it — and the standard
    * bucket formula (the first n%k buckets get ceil(n/k) rows) runs
    * with n/k and n%k computed on the driver. Bit-identical to Spark's
    * and DuckDB's ntile over the same order (NtileSpec pins both
    * paths), so the dispatch is a plan choice, never a result choice.
    */
  private[graft] def exactNtile(df: DataFrame, n: Long, k: Int, order: Seq[Column],
                                out: String): DataFrame = {
    val (q, rem) = (n / k, n % k)
    def td(x: Column, y: Long): Column =
      graft.functions.TimeFunctions.truncDiv(x, lit(y))
    val r = col("__r")
    Stats.prefixSums(df, n, order, (lit(1L), "__r"))
      .withColumn(out,
        when(r <= (q + 1) * rem, td(r - 1L, q + 1) + 1L)
          .otherwise(td(r - 1L - (q + 1) * rem, q) + rem + 1L))
      .drop("__r")
  }

  /** Log-rank test between two survival arms — "do the two groups'
    * churn curves differ" ([[kaplanMeier]]'s lifetime construction,
    * arms from `armCol`): at each distinct event lifetime t the exact
    * integer risk/death counts (n1, n, d1, d) give the hypergeometric
    * expectation and variance; per-t doubles are floor-quantized at
    * 2²⁰ and integer-summed (order-free over the ≤day-span lifetime
    * table), chi² = (O1·2²⁰ − E1_q)² / (V_q·2²⁰) one fixed double
    * expression. Output one row:
    * (n_units, o1, e1_q, v_q, chi2) — chi2 NULL when V_q = 0.
    */
  def logRankTest(events: DataFrame, keyCol: String, tsCol: String,
                  armCol: Column, censorDays: Long = 7): DataFrame = {
    require(censorDays >= 0, s"censorDays must be >= 0, got $censorDays")
    val perUser = events.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("u"),
        graft.functions.TimeFunctions.floorDiv(
          graft.functions.TimeFunctions.epochSec(col(tsCol)), 86400L).as("d"))
      .groupBy("u").agg(min("d").as("fd"), max("d").as("ld"))
      .withColumn("arm", armCol)
      .filter(col("arm").isNotNull)
    val maxd = perUser.agg(max("ld").as("maxd"))
    val lt = perUser.crossJoin(broadcast(maxd))
      .withColumn("t", col("ld") - col("fd"))
      .withColumn("churned", col("ld") <= col("maxd") - lit(censorDays))
      .groupBy("t")
      .agg(sum(when(col("churned") && col("arm") === 1, 1L).otherwise(0L)).as("d1"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("m1"),
        count(lit(1)).as("m"))
    val wPrior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val tot = lt.agg(sum("m").as("total"), sum("m1").as("total1"))
    def dd(c: Column) = c.cast("double")
    val risk = lt.crossJoin(broadcast(tot))
      .withColumn("n", col("total") - coalesce(sum("m").over(wPrior), lit(0L)))
      .withColumn("n1", col("total1") - coalesce(sum("m1").over(wPrior), lit(0L)))
      .filter(col("d") > 0 && col("n") > 1)
      .withColumn("e1_t", floor(dd(col("d")) * dd(col("n1")) / dd(col("n")) *
        1048576.0).cast("long"))
      .withColumn("v_t", floor(dd(col("d")) *
        (dd(col("n1")) / dd(col("n"))) * (lit(1.0) - dd(col("n1")) / dd(col("n"))) *
        (dd(col("n")) - dd(col("d"))) / (dd(col("n")) - 1.0) *
        1048576.0).cast("long"))
    val units = perUser.agg(count(lit(1)).as("n_units"))
    risk.agg(coalesce(sum("d1"), lit(0L)).as("o1"),
        coalesce(sum("e1_t"), lit(0L)).as("e1_q"),
        coalesce(sum("v_t"), lit(0L)).as("v_q"))
      .crossJoin(broadcast(units))
      .withColumn("chi2", when(col("v_q") > 0,
        (dd(col("o1")) * 1048576.0 - dd(col("e1_q"))) *
          (dd(col("o1")) * 1048576.0 - dd(col("e1_q"))) /
          (dd(col("v_q")) * 1048576.0)))
      .select("n_units", "o1", "e1_q", "v_q", "chi2")
  }

  /** RFM segmentation: per customer recency (days since last order,
    * vs the corpus max date), frequency (order count) and monetary
    * (exact cents), each scored into quintiles by `ntile(5)` with the
    * customer key as the total-order tiebreak (ntile over a non-unique
    * sort is engine-dependent; with the key appended both engines
    * split identically), recency DESCENDING so score 5 = most recent.
    * Output: the ≤125-cell segment rollup — (r_score, f_score,
    * m_score, n_customers, sum_orders, sum_cents).
    *
    * Scale note: quintiles via [[exactNtile]] — exact ntile semantics,
    * size-gated between one bounded sort task and a range-partitioned
    * parallel rank, so no single-task global sort past the gate.
    */
  def rfmSegments(orders: DataFrame, custCol: String, tsCol: String,
                  valCol: String): DataFrame = {
    val perCust = orders
      .filter(col(custCol).isNotNull && col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(col(custCol).as("cust"),
        expr(s"floor(unix_micros(CAST($tsCol AS TIMESTAMP)) / 1000000L) div 86400L").as("d"),
        round(col(valCol) * 100).cast("long").as("cents"))
      .groupBy("cust")
      .agg(max("d").as("ld"), count(lit(1)).as("f"), sum("cents").as("m"))
    val maxd = perCust.agg(max("ld").as("maxd"))
    // checkpoint once, counting in the same job (the three scorings
    // would otherwise re-run the orders aggregation); the count sizes
    // every exactNtile
    val (base, Row(nCust: Long)) = Rounds.checkpoint(perCust.crossJoin(broadcast(maxd))
      .withColumn("r_days", col("maxd") - col("ld")), Nil, count(lit(1)))
    val scored = Seq[(String, Seq[Column])](
      ("r_score", Seq(col("r_days").desc, col("cust"))),
      ("f_score", Seq(col("f"), col("cust"))),
      ("m_score", Seq(col("m"), col("cust"))))
      .foldLeft(base) { case (df, (out, ord)) =>
        exactNtile(df, nCust, 5, ord, out)
      }
    scored.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"), sum("f").as("sum_orders"),
        sum("m").as("sum_cents"))
  }

  /** Herfindahl–Hirschman concentration index per market: revenue
    * shares in basis points (`share_bp = rev·10⁴ div tot` — integer
    * floor, the deterministic contract), HHI = Σ share_bp² ∈
    * [0, 10⁸]. The antitrust/concentration screen (DOJ thresholds
    * 1500/2500 in conventional 10⁴-scaled points = 15·10⁴/25·10⁴
    * here). Only positive-revenue entities participate (shares of a
    * mixed-sign total are undefined; the filter also keeps the
    * integer division in floor==truncate territory). Output per
    * market: (n_firms, tot_cents, hhi_bp2, top_share_bp).
    * Scale shape: two combinable aggregations (entity rollup, market
    * rollup) + one broadcast-join of market totals — no windows.
    */
  def hhiConcentration(facts: DataFrame, marketCol: Column, entityCol: Column,
                       centsCol: Column): DataFrame = {
    val rev = facts.select(marketCol.as("mkt"), entityCol.as("ent"),
        centsCol.cast("long").as("cents"))
      .filter(col("mkt").isNotNull && col("ent").isNotNull && col("cents").isNotNull)
      .groupBy("mkt", "ent").agg(sum("cents").as("rev"))
      .filter(col("rev") > 0)
    val tot = rev.groupBy("mkt").agg(sum("rev").as("tot"))
    rev.join(tot, "mkt")
      .withColumn("share_bp", expr("rev * 10000L div tot"))
      .groupBy(col("mkt").as("market"))
      .agg(count(lit(1)).as("n_firms"), min("tot").as("tot_cents"),
        sum(col("share_bp") * col("share_bp")).as("hhi_bp2"),
        max("share_bp").as("top_share_bp"))
  }

  /** Lorenz curve points — the DISTRIBUTION behind row 189's Gini
    * scalar ("the top decile holds 45% of revenue" is read off this
    * table, not off a coefficient): entities deciled by value
    * ascending (`ntile(10)` with the entity key as total-order
    * tiebreak), per decile exact counts/sums and the cumulative value
    * share in integer micro-units (`cum·10⁶ div total`). Positive
    * values only (cumulative shares of a mixed-sign total are not
    * monotone, and the floor division needs a positive domain).
    * Output ≤10 rows: (decile, n_units, decile_cents, cum_cents,
    * cum_share_micro). Deciling via [[exactNtile]]: exact ntile
    * semantics, no global single-task sort past its size gate.
    */
  def lorenzCurve(facts: DataFrame, entityCol: Column, centsCol: Column,
                  deciles: Int = 10): DataFrame = {
    require(deciles >= 2 && deciles <= 100, s"deciles in [2,100], got $deciles")
    val rev = facts.select(entityCol.as("ent"), centsCol.cast("long").as("cents"))
      .filter(col("ent").isNotNull && col("cents").isNotNull)
      .groupBy("ent").agg(sum("cents").as("v"))
      .filter(col("v") > 0)
    val (revC, Row(n: Long)) = Rounds.checkpoint(rev, Nil, count(lit(1)))
    val byDecile = exactNtile(revC, n, deciles, Seq(col("v"), col("ent")), "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_units"), sum("v").as("decile_cents"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("cum_cents", sum("decile_cents").over(wCum))
      .crossJoin(broadcast(byDecile.agg(sum("decile_cents").as("tot"))))
      .withColumn("cum_share_micro", expr("cum_cents * 1000000L div tot"))
      .select("decile", "n_units", "decile_cents", "cum_cents",
        "cum_share_micro")
  }

  /** Time-decayed popularity ranking — the recsys/trending primitive:
    * each event contributes `10⁶ div 2^(age_days div halfLife)` score
    * micro-units (exact integer halving steps — the deterministic
    * stand-in for continuous exponential decay; within a halving
    * window recency does not discriminate, by contract), summed per
    * item, top-k by (score desc, item). Age is measured from the
    * corpus max day (broadcast one-row), so the ranking is
    * reproducible from the data alone. Output ≤ k rows:
    * (item, n_events, score_micro, rank).
    * Scale shape: one combinable per-item aggregation after a
    * stateless age map; the rank window runs on the item table.
    */
  def decayPopularity(facts: DataFrame, itemCol: Column, tsCol: String,
                      halfLifeDays: Int = 28, topK: Int = 50): DataFrame = {
    require(halfLifeDays >= 1, s"halfLifeDays must be >= 1, got $halfLifeDays")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val rows = facts.select(itemCol.as("item"),
        expr(s"floor(unix_micros(CAST($tsCol AS TIMESTAMP)) / 1000000L) div 86400L")
          .as("day"))
      .filter(col("item").isNotNull && col("day").isNotNull)
    val maxd = rows.agg(max("day").as("maxd"))
    val scored = rows.crossJoin(broadcast(maxd))
      .withColumn("steps",
        least(expr(s"(maxd - day) div ${halfLifeDays}L"), lit(40L)))
      .withColumn("contrib", expr("1000000L div shiftleft(1L, CAST(steps AS INT))"))
      .groupBy("item")
      .agg(count(lit(1)).as("n_events"), sum("contrib").as("score_micro"))
    scored.withColumn("rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("item"))).cast("long"))
      .filter(col("rank") <= topK)
      .select("item", "n_events", "score_micro", "rank")
  }

  /** Token burstiness (Fano factor) for the corpus' top-N tokens — the
    * template/boilerplate detector: a token whose occurrences CLUMP
    * (variance ≫ mean across documents, zeros included) is structural
    * boilerplate, not vocabulary; content words sit near Poisson
    * (Fano ≈ 1 + a bit). Exact integers end to end:
    * `fano_micro = (D·Σc² − tot²)·10⁶ div (D·tot)` over per-document
    * counts c (documents NOT containing the token contribute zeros
    * through D, never materialized). Top-N selection is deterministic
    * (count desc, token). Output N rows: (token, tot, n_docs_with,
    * fano_micro).
    * Scale shape: one token explode + combinable (token, doc) counts;
    * the moment reduction and top-N window run on token-cardinality
    * tables; D is a one-row broadcast.
    */
  def tokenBurstiness(df: DataFrame, idCol: String, textCol: String,
                      topN: Int = 30): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val perDoc = df.filter(col(textCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("__doc"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("__toks"))
    val d = perDoc.agg(count(lit(1)).as("d_docs")) // one row, broadcast
    val counts = perDoc
      .select(col("__doc"), explode(col("__toks")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("__doc", "w").agg(count(lit(1)).as("c"))
    val perTok = counts.groupBy("w")
      .agg(sum("c").as("tot"), count(lit(1)).as("n_docs_with"),
        sum(col("c") * col("c")).as("sumsq"))
    val top = perTok.withColumn("__rk", row_number().over(
        Window.orderBy(col("tot").desc, col("w"))))
      .filter(col("__rk") <= topN)
    // milli (not micro) scale: tot² · scale must stay in int64 —
    // 10³ holds to ~6·10⁷ total occurrences of one token (sf10-ish);
    // shard the corpus past that
    top.crossJoin(broadcast(d))
      .withColumn("fano_milli",
        expr("(d_docs * sumsq - tot * tot) * 1000L div (d_docs * tot)"))
      .select(col("w").as("token"), col("tot"), col("n_docs_with"),
        col("fano_milli"))
  }

  /** Decile lift/gains table for a score against a binary outcome —
    * the model-targeting report ("mail the top 2 deciles") built on
    * the same exact ntile machinery as [[rfmSegments]]: tiles over
    * (score DESC, id ASC — a total order, so both engines split
    * identically; [[exactNtile]] size-dispatches past the window
    * bound), per-tile exact counts, and cumulative capture /
    * lift as fixed double ratios of exact integers. The cumulative
    * window runs over k rows. Output per tile: (tile, n_t, pos_t,
    * rate, cum_n, cum_pos, cum_capture, lift) — lift NULL when the
    * base rate is 0.
    */
  def liftTable(df: DataFrame, idCol: Column, scoreCol: Column,
                labelCol: Column, k: Int = 10): DataFrame = {
    require(k >= 2 && k <= 1000, s"k must be in [2, 1000], got $k")
    val (rows, Row(n: Long)) = Rounds.checkpoint(
      df.select(idCol.as("id"), scoreCol.cast("long").as("s"),
          labelCol.cast("boolean").as("y"))
        .filter(col("id").isNotNull && col("s").isNotNull && col("y").isNotNull),
      Nil, count(lit(1)))
    val tiles = exactNtile(rows, n, k, Seq(col("s").desc, col("id").asc), "tile")
      .groupBy("tile")
      .agg(count(lit(1)).as("n_t"),
        coalesce(sum(when(col("y"), 1L).otherwise(0L)), lit(0L)).as("pos_t"))
    def dd(c: Column) = c.cast("double")
    val cum = Window.orderBy("tile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow) // k rows
    tiles
      .withColumn("cum_n", sum("n_t").over(cum))
      .withColumn("cum_pos", sum("pos_t").over(cum))
      .crossJoin(broadcast(tiles.agg(
        coalesce(sum("n_t"), lit(0L)).as("__n"),
        coalesce(sum("pos_t"), lit(0L)).as("__pos"))))
      .withColumn("rate", when(col("n_t") > 0, dd(col("pos_t")) / dd(col("n_t"))))
      .withColumn("cum_capture", when(col("__pos") > 0,
        dd(col("cum_pos")) / dd(col("__pos"))))
      .withColumn("lift", when(col("__pos") > 0 && col("n_t") > 0,
        dd(col("pos_t")) * dd(col("__n")) / (dd(col("n_t")) * dd(col("__pos")))))
      .select(col("tile"), col("n_t"), col("pos_t"), col("rate"),
        col("cum_n"), col("cum_pos"), col("cum_capture"), col("lift"))
  }

  /** Ordered event-type pair support within sessions — sequence
    * mining's 2-step atom, and [[transitionMatrix]]'s "eventually
    * follows" companion (Markov counts ADJACENT transitions; this
    * counts a→b whenever a's FIRST occurrence strictly precedes b's
    * first occurrence anywhere in the session, the funnel convention:
    * ties at epoch resolution produce no pair, keeping both engines
    * exact). Output per ordered pair: (from_type, to_type,
    * n_sessions_pair, n_sessions, support) with support the fixed
    * double ratio.
    *
    * Scale shape: sessions reduce to ≤|types| first-occurrence rows
    * each via one combinable aggregation; the within-session pair
    * join multiplies type-bounded frames (≤|types|² rows per
    * session), never raw events.
    */
  def seqPairSupport(events: DataFrame, keyCol: String, tsCol: String,
                     typeCol: String, gapSeconds: Long = 1800): DataFrame = {
    val firsts = Sessionize.assignSessions(
        events.filter(col(typeCol).isNotNull), keyCol, tsCol, gapSeconds)
      .groupBy(col(keyCol).as("u"), col("session_id").as("sid"),
        col(typeCol).as("t"))
      .agg(min("__epoch").as("ft"))
      .localCheckpoint(true)
    val nSessions = firsts.select("u", "sid").distinct().count()
    val pairs = firsts.as("a").join(firsts.as("b"),
        col("a.u") === col("b.u") && col("a.sid") === col("b.sid") &&
          col("a.ft") < col("b.ft"))
      .groupBy(col("a.t").as("from_type"), col("b.t").as("to_type"))
      .agg(count(lit(1)).as("n_sessions_pair"))
    pairs
      .withColumn("n_sessions", lit(nSessions))
      .withColumn("support", when(col("n_sessions") > 0,
        col("n_sessions_pair").cast("double") / col("n_sessions").cast("double")))
  }

  /** Theil T inequality index per market — the decomposable
    * information-theoretic companion to [[giniCoefficient]] /
    * [[hhiConcentration]] (T = 0 perfect equality, ln n full
    * concentration): T = (1/S)·Σ x_i·ln(x_i·n/S) over per-entity
    * positive totals x_i. Per-entity ln terms are floor-quantized at
    * 2²⁰, weighted by the exact x_i and summed in DECIMAL(38,0)
    * (x·qln passes int64 at whale entities) — order-free — then
    * emitted as a guarded BIGINT; T is one fixed double
    * theil_q / (S·2²⁰). ln's argument x_i·n/S is the same exact-int
    * ratio on both engines. Output per market: (mkt, n_entities,
    * sum_units, theil_q, theil).
    *
    * Scale shape: one combinable (market, entity) reduction, then a
    * market-keyed totals join — the Gini construction without its
    * rank window.
    */
  def theilIndex(facts: DataFrame, marketCol: Column, entityCol: Column,
                 unitCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val per = facts.select(marketCol.as("mkt"), entityCol.as("ent"),
        unitCol.cast("long").as("u"))
      .filter(col("mkt").isNotNull && col("ent").isNotNull && col("u").isNotNull)
      .groupBy("mkt", "ent").agg(sum("u").as("x"))
      .filter(col("x") > 0)
    val tot = per.groupBy("mkt").agg(count(lit(1)).as("n_entities"),
      sum("x").as("sum_units"))
    def dd(c: Column) = c.cast("double")
    val maxLong = lit("9223372036854775807").cast(dec)
    per.join(tot, "mkt")
      .withColumn("__t", (col("x").cast(dec) *
        floor(log(dd(col("x")) * dd(col("n_entities")) / dd(col("sum_units")))
          * 1048576).cast("long").cast(dec)).cast(dec))
      .groupBy("mkt")
      .agg(min("n_entities").as("n_entities"), min("sum_units").as("sum_units"),
        coalesce(sum(col("__t")).cast(dec), lit(0).cast(dec)).cast(dec)
          .as("theil_q0"))
      .withColumn("theil_q",
        when(abs(col("theil_q0")) > maxLong, raise_error(lit(
          "graft.theilIndex: theil_q overflows BIGINT at this scale — " +
            "widen the emitted type")))
          .otherwise(col("theil_q0").cast("long")))
      .withColumn("theil", dd(col("theil_q")) /
        (dd(col("sum_units")) * 1048576.0))
      .select(col("mkt"), col("n_entities"), col("sum_units"), col("theil_q"),
        col("theil"))
  }

  /** Inter-event gap profile per user — the engagement-cadence report
    * ("how often does this user come back") a retention model consumes:
    * per user the exact epoch-second gaps between CONSECUTIVE events
    * (a lag window PARTITIONED by user over the event stream, ordered
    * by the totally-ordered (epoch, event_id) pair so same-second
    * events gap 0 deterministically), then min/max/sum exact int64 and
    * the mean as one division. Users with one event emit n_gaps = 0
    * and NULL gap stats. Output per user: (user_id, n_events, n_gaps,
    * min_gap_s, max_gap_s, sum_gap_s, mean_gap_s).
    */
  def gapStats(events: DataFrame, keyCol: String, tsCol: String,
               idCol: String): DataFrame = {
    val e = events.filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col(keyCol).as("u"),
        graft.functions.TimeFunctions.epochSec(col(tsCol)).as("ep"),
        col(idCol).as("eid"))
    val w = Window.partitionBy("u").orderBy(col("ep"), col("eid"))
    def dd(c: Column) = c.cast("double")
    e.withColumn("__gap", col("ep") - lag(col("ep"), 1).over(w))
      .groupBy(col("u").as(keyCol))
      .agg(count(lit(1)).as("n_events"),
        coalesce(sum(when(col("__gap").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_gaps"),
        min("__gap").as("min_gap_s"), max("__gap").as("max_gap_s"),
        sum("__gap").as("sum_gap_s"))
      .withColumn("mean_gap_s", when(col("n_gaps") > 0,
        dd(col("sum_gap_s")) / dd(col("n_gaps"))))
  }

  /** Volume-weighted average price per (group, calendar month) — the
    * standard execution-quality / fair-value benchmark beside the
    * OHLC bars: vwap_cents = Σ(price_cents·qty) div Σqty, entirely
    * exact integers (one combinable aggregation; the division is the
    * only non-sum op and stays in int64 cents). Output per cell:
    * (grp, month, n_fills, qty_sum, notional_cents, vwap_cents) —
    * NULL vwap when the month traded zero quantity.
    */
  def vwap(fills: DataFrame, groupCol: Column, dateCol: Column,
           priceCentsCol: Column, qtyCol: Column): DataFrame = {
    val p = priceCentsCol.cast("long")
    val q = qtyCol.cast("long")
    fills.filter(groupCol.isNotNull && dateCol.isNotNull &&
        p.isNotNull && q.isNotNull)
      .groupBy(groupCol.as("grp"),
        trunc(dateCol, "month").as("month"))
      .agg(count(lit(1)).as("n_fills"), sum(q).as("qty_sum"),
        sum(p * q).as("notional_cents"))
      .withColumn("vwap_cents", when(col("qty_sum") > 0,
        graft.functions.TimeFunctions.truncDiv(
          col("notional_cents"), col("qty_sum"))))
      .select(col("grp"), col("month").cast("string").as("month"),
        col("n_fills"), col("qty_sum"), col("notional_cents"),
        col("vwap_cents"))
  }

  /** Linear multi-touch attribution — the fractional-credit companion
    * to [[firstTouchAttribution]]: every event in a converted
    * gap-session shares the session's purchase revenue equally, so a
    * channel's credit is Σ over touches of rev/k (k = session touch
    * count). Exactness: each touch's credit is the integer
    * `rev_cents·2²⁰ div k` (one truncating division per SESSION,
    * identical for every touch in it), so per-channel sums are exact
    * int64 micro-cents and aggregation order cannot drift them. One
    * user-key shuffle to build sessions, one channel rollup.
    * Output: (channel, n_touches, n_sessions_touched, credit_q,
    * credit_cents).
    */
  def linearAttribution(events: DataFrame, keyCol: String, tsCol: String,
                        typeCol: String, valueCol: String,
                        idCol: String = "event_id",
                        gapSeconds: Long = 1800): DataFrame = {
    val s = Sessionize.assignSessions(
      events.filter(col(idCol).isNotNull && col(typeCol).isNotNull),
      keyCol, tsCol, gapSeconds)
    val sess = s.groupBy(col(keyCol), col("session_id"))
      .agg(count(lit(1)).as("k"),
        sum(when(col(typeCol) === "purchase" && col(valueCol).isNotNull,
          round(col(valueCol) * 100).cast("long")).otherwise(lit(0L)))
          .as("rev_cents"))
      .withColumn("credit_per_touch_q",
        expr("rev_cents * 1048576 div k"))
    s.join(sess.select(col(keyCol), col("session_id"),
        col("credit_per_touch_q")), Seq(keyCol, "session_id"))
      .groupBy(col(typeCol).as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col(keyCol), col("session_id")).as("n_sessions_touched"),
        sum("credit_per_touch_q").as("credit_q"))
      .withColumn("credit_cents", col("credit_q").cast("double") / 1048576.0)
  }

  /** Cohort LTV curve: customers cohorted by their FIRST order month,
    * cumulative average revenue by month age — "what is a January
    * customer worth after k months". Month arithmetic is pure integer
    * (epoch-month index y·12+m), revenue exact cents; the cumulative
    * window runs over the (cohort, age) rollup (cohorts×ages rows,
    * tiny), and ltv is integer cents via truncating division.
    * Output: (cohort_month, cohort_size, age_months, rev_cents,
    * cum_rev_cents, ltv_cents).
    */
  def cohortLtv(orders: DataFrame, custCol: String, dateCol: String,
                amountCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = orders.select(col(custCol).as("cust"),
        (year(col(dateCol)) * 12 + month(col(dateCol)) - 1).cast("long").as("em"),
        amountCol.cast("long").as("cents"))
      .filter(col("cust").isNotNull && col("em").isNotNull && col("cents").isNotNull)
    val first = o.groupBy("cust").agg(min("em").as("cm"))
    val aged = o.join(first, "cust")
      .groupBy(col("cm"), (col("em") - col("cm")).as("age_months"))
      .agg(sum("cents").as("rev_cents"),
        countDistinct("cust").as("n_active"))
    val sizes = first.groupBy("cm").agg(countDistinct("cust").as("cohort_size"))
    val w = Window.partitionBy("cm").orderBy("age_months")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    aged.join(sizes, "cm")
      .withColumn("cum_rev_cents", sum("rev_cents").over(w))
      .withColumn("ltv_cents", expr("cum_rev_cents div cohort_size"))
      .select(col("cm").as("cohort_month"), col("cohort_size"),
        col("age_months"), col("n_active"), col("rev_cents"),
        col("cum_rev_cents"), col("ltv_cents"))
  }



  /** Interval union per key (gaps-and-islands over INTERVALS): each
    * event spans [t, t+spanSeconds); overlapping/touching spans merge
    * into islands, and the per-key report is the classic coverage
    * summary — how many disjoint activity islands, how many seconds
    * they cover, the longest one. The island break uses the running
    * max of interval ENDS over preceding rows (ties on start are
    * harmless: equal starts share equal ends, so either order yields
    * the same flags); everything is exact epoch-second integers.
    * One key shuffle, two windows over the same sort.
    * Output: (key, n_events, n_islands, covered_sec, max_island_sec).
    */
  def intervalUnion(events: DataFrame, keyCol: String, tsCol: String,
                    idCol: String = "event_id",
                    spanSeconds: Long = 900): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull && col(idCol).isNotNull)
      .select(col(keyCol).as("k"),
        graft.functions.TimeFunctions.epochSec(col(tsCol)).as("s0"),
        col(idCol).as("eid"))
      .withColumn("e0", col("s0") + spanSeconds)
    val ord = Window.partitionBy("k").orderBy(col("s0"), col("eid"))
    val prevMax = Window.partitionBy("k").orderBy(col("s0"), col("eid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isl = base
      .withColumn("__brk", when(max(col("e0")).over(prevMax).isNull ||
        col("s0") > max(col("e0")).over(prevMax), 1L).otherwise(0L))
      .withColumn("island", sum("__brk").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perIsland = isl.groupBy("k", "island")
      .agg(count(lit(1)).as("n_ev"), min("s0").as("i_start"), max("e0").as("i_end"))
    perIsland.groupBy(col("k").as(keyCol))
      .agg(sum("n_ev").as("n_events"), count(lit(1)).as("n_islands"),
        sum(col("i_end") - col("i_start")).as("covered_sec"),
        max(col("i_end") - col("i_start")).as("max_island_sec"))
  }

}