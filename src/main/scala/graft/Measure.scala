package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.mutable
import scala.util.matching.Regex

/** Single-query measurement on the session every main uses
  * ([[GraftSession.local]]: GraftExtensions loaded, `SPARK_GRAFT_CPUS`
  * cores), so a number taken here is a number for the plan Bench runs.
  *
  *  - `runMain graft.Measure time <sfDir> <query>...` — Bench's
  *    steady-state timer ([[steadyState]]) per query.
  *  - `runMain graft.Measure adjudicate <sfDir> <query> [runs]` — the
  *    query `runs` times (default 6) under [[QueryMetrics]], each run
  *    interleaved after heavy "load" queries in the SAME JVM/session to
  *    mimic the bench's ordering and memory pressure (GC debt, cache
  *    churn, listener-bus backlog). If the profiled byte/record volumes
  *    are identical across runs while wall time spreads, the spread is
  *    environment contention, not a plan regression.
  *  - `runMain graft.Measure plans <out.md> [query...]` — formatted
  *    physical plans as one markdown file; without names, the
  *    [[headline]] queries that make up `PLANS.md` (taken at sf0.01).
  *    Plans come from an 8-core session (shuffle partitions show in the
  *    plan text) over the tables in `SPARK_GRAFT_SF_DIR`.
  *
  * Scaling experiments: `graft.SfScale <src> <dst> N`, then
  * `graft.Measure time <dst> <query>...`.
  */
object Measure {
  type Query = (SparkSession, String) => DataFrame

  /** Steady-state timing: one untimed warmup executes the query end to
    * end (JIT + codegen + file-footer caches), then [[timedRuns]].
    * Returns the three run times, sorted; the median is `(1)`.
    */
  def steadyState(spark: SparkSession, sfDir: String, fn: Query): Seq[Double] = {
    spark.catalog.clearCache()
    fn(spark, sfDir).count() // warmup
    timedRuns(spark, sfDir, fn)
  }

  /** Three timed runs, sorted. Dataset caches are dropped before every
    * run: operators that persist internally produce plan-identical
    * caches across invocations, and without the clear the timed runs
    * would read the warmup's cache instead of executing the operator.
    */
  def timedRuns(spark: SparkSession, sfDir: String, fn: Query): Seq[Double] =
    (1 to 3).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }.sorted

  /** Frees everything a finished query left in storage: pin-registry
    * persists, catalog caches, and (through the SparkContext's
    * persistent-RDD registry) eager localCheckpoint RDDs. Safe only
    * between queries: it unpersists whatever a live DataFrame reads.
    */
  def releaseAll(spark: SparkSession): Unit = {
    graft.operators.Dedup.releasePins()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Queries whose plans make up `PLANS.md`. */
  val headline = Seq(
    "q1_agg", "q3_shipping", "q5_local_supplier", "q_graph_flagship",
    "q_index_range", "dedup_minhash", "dedup_cluster", "sim_ann_topk",
    "q_router_union", "q_editdist", "q_asof_join",
    "q_decontaminate", "q_substring_pairs", "q_substring_clusters",
    "q_kmv_distinct",
    "dedup_chunks", "dedup_incremental", "sim_ann_pq", "dedup_semantic",
    "q_domain_cap", "text_bigram_lm", "q_domain_mix", "q_token_budget",
    "q_epoch_shuffle", "q_chunk_windows", "q_quantile_cut",
    "q_upsample_mix", "q_shard_manifest", "sim_hard_negatives",
    "q_exact_sample", "q_decontaminate_bloom",
    "multimodal_decode", "q_approx_users",
    "text_bm25", "text_inverted_index", "sim_hybrid_rrf",
    "text_classifier", "text_dsir", "q17_small_qty", "q_resample_ffill",
    "q_kmv_reagg", "text_gopher", "dedup_phash", "q_grouping_sets",
    "q_moments", "q_embed_centroids", "q_funnel", "q_scd2",
    "q_winsorized", "q_url_canonical", "q_modularity", "q_ndcg",
    "dedup_lsh_tuning", "q_rendezvous", "q_feature_hash", "q_autocorr")

  /** Plan tokens that change from run to run with the same code, each
    * with its stand-in: object hash codes, lambda class names,
    * `plan_id`s, RDD ids, `.scala:` line numbers and AQE statistics.
    */
  private val volatileTokens: Seq[(Regex, String)] = Seq(
    """\$\$Lambda(\$\d+)?/0x[0-9a-f]+""".r -> Regex.quoteReplacement("$$Lambda"),
    """(?<=\w)@[0-9a-f]{1,8}\b""".r -> "@_",
    """plan_id=\d+""".r -> "plan_id=_",
    """RDD\[\d+\]""".r -> "RDD[_]",
    """\.scala:\d+""".r -> ".scala:_",
    """(sizeInBytes|rowCount)=[^,)]+""".r -> "$1=_")

  /** [[volatileTokens]] masked, and expression ids renumbered by first
    * appearance so references within the plan still match: two runs of
    * one plan render the same text.
    */
  private def stablePlan(plan: String): String = {
    val masked = volatileTokens.foldLeft(plan) { case (p, (re, to)) => re.replaceAllIn(p, to) }
    val ids = mutable.Map.empty[String, Int]
    """#(\d+)""".r.replaceAllIn(masked, m => "#" + ids.getOrElseUpdate(m.group(1), ids.size + 1))
  }

  /** A formatted plan made stable ([[stablePlan]]) and readable.
    * Iterative operators (label
    * propagation) print their cached subtree per pointer-jump round —
    * thousands of repeating lines that drown the readable plans — so
    * the head of the tree (the part worth auditing) is kept and the
    * tail elided; the repetition cause is claimed only when the plan
    * actually contains cached lineage. Control chars other than
    * newline and tab render literally (the null-id sentinel prints a
    * raw NUL inside coalesce(...); one would make git/grep treat the
    * whole artifact as binary).
    */
  private[graft] def renderPlan(raw: String): String = {
    val maxLines = 400
    val plan = stablePlan(raw)
    val lines = plan.linesIterator.toSeq
    val cause =
      if (plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"))
        " — iterative lineage repeats the cached membership subtree per propagation round"
      else ""
    val shown =
      if (lines.size <= maxLines) plan
      else lines.take(maxLines).mkString("\n") +
        s"\n… (${lines.size - maxLines} more lines elided$cause)"
    shown.map(c =>
      if (c < ' ' && c != '\n' && c != '\t') f"\\u${c.toInt}%04x" else c.toString).mkString
  }

  private def lookup(names: Seq[String]): Seq[(String, Query)] = {
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
        s"${unknown.mkString(", ")} — valid names:\n" +
        registry.keysIterator.toSeq.sorted.mkString(", "))
    names.map(n => n -> registry(n))
  }

  private def withSession(cores: Int)(body: SparkSession => Unit): Unit = {
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally spark.stop()
  }

  private def time(sfDir: String, names: Seq[String]): Unit = {
    val queries = lookup(names)
    withSession(GraftSession.cores) { spark =>
      queries.foreach { case (name, fn) =>
        val runs = steadyState(spark, sfDir, fn)
        println(f"TIME $name median=${runs(1)}%.2fs runs=${runs.map(t => f"$t%.2f").mkString(",")}")
        releaseAll(spark)
      }
    }
  }

  private def adjudicate(sfDir: String, name: String, runs: Int): Unit = {
    val Seq((_, target)) = lookup(Seq(name))
    // heavies that precede the target in Bench's alphabetical order —
    // the contention Bench's recorded number was measured under
    val load = lookup(Seq("dedup_minhash", "dedup_shingle", "dedup_cluster",
      "q_substring_pairs").filterNot(_ == name)).map(_._2)
    withSession(GraftSession.cores) { spark =>
      target(spark, sfDir).count() // warmup (parquet footers, codegen)
      val stats = (1 to runs).map { i =>
        load.foreach(q => q(spark, sfDir).count())
        spark.catalog.clearCache()
        val (_, s) = QueryMetrics.profile(spark) { target(spark, sfDir).count() }
        println(f"ADJUDICATE $name run=$i wall=${s.wallMs / 1000.0}%.2fs " +
          s"records=${s.recordsRead} bytes=${s.bytesRead} " +
          s"shufW=${s.shuffleBytesWritten} shufR=${s.shuffleBytesRead}")
        s
      }
      val walls = stats.map(_.wallMs / 1000.0).sorted
      val distinctVolumes = stats.map(s =>
        (s.recordsRead, s.bytesRead, s.shuffleBytesWritten, s.shuffleBytesRead)).distinct
      println(f"ADJUDICATE $name SUMMARY median=${walls(walls.size / 2)}%.2fs " +
        f"min=${walls.head}%.2fs max=${walls.last}%.2fs " +
        s"distinct_volume_signatures=${distinctVolumes.size}")
    }
  }

  private def plans(out: String, names: Seq[String]): Unit = {
    val queries = lookup(names)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("plans reads its tables from SPARK_GRAFT_SF_DIR"))
    withSession(8) { spark =>
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
      sb.append(s"Generated by `graft.Measure plans` at ${Paths.get(sfDir).getFileName}. Things to check:\n")
      sb.append("`PushedFilters`/`ReadSchema` at every scan, `BroadcastHashJoin`\n")
      sb.append("for dimensions, two-phase `HashAggregate`, `TakeOrderedAndProject`\n")
      sb.append("for top-k, no `CartesianProduct` anywhere.\n\n")
      queries.foreach { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        sb.append(s"## $name\n\n```\n${renderPlan(plan)}\n```\n\n")
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"wrote $out (${queries.size} plans)")
    }
  }

  private val usage =
    "usage: graft.Measure time <sfDir> <query>... | " +
      "adjudicate <sfDir> <query> [runs] | plans <out.md> [query...]"

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: names if names.nonEmpty => time(sfDir, names)
    case "adjudicate" :: sfDir :: name :: Nil => adjudicate(sfDir, name, 6)
    case "adjudicate" :: sfDir :: name :: runs :: Nil => adjudicate(sfDir, name, runs.toInt)
    case "plans" :: out :: names => plans(out, if (names.isEmpty) headline else names)
    case _ => throw new IllegalArgumentException(usage)
  }
}
