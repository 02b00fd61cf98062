package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Equivalence pins for round-15 optimization rewrites (the Round14OptSpec
  * discipline): a rewrite must produce EXACTLY the rows the replaced shape
  * produced — the DuckDB oracles replay the old formulas, so divergence is
  * a red correctness row, not a perf delta.
  *
  *  - [[operators.Stats.prefixSums]] size gate (VERDICT what's-wrong #4):
  *    every partition-less cumulative window of the rank statistics (the
  *    value-tally cumsums, exactNtile's rank, averagePrecision's rank and
  *    positive prefix) is COUNT-GATED — the window path runs only when
  *    the input is ≤ `spark.graft.tally.windowMax` rows, and above the
  *    gate the range-partitioned prefix sum takes over. Forcing the gate
  *    to 0 here proves the fallback is row-identical through every gated
  *    operator, so the PlanAuditSpec allowlist entries for these queries
  *    certify a BOUNDED window by construction.
  */
class Round15OptSpec extends SparkSpecBase {

  private def assertSameRows(a: DataFrame, b: DataFrame, label: String): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$label diverged:\nwindow path:\n${a.collect().mkString("\n")}\n" +
        s"distributed path:\n${b.collect().mkString("\n")}")
  }

  private def facts = {
    import spark.implicits._
    // 3 groups, values with heavy ties AND a long distinct tail, so the
    // tally spans several range partitions under the forced gate; x/y
    // pairs monotone-ish with deterministic noise for spearman/wilcoxon
    spark.range(0, 2000).selectExpr(
      "id",
      "pmod(id, 3) AS g",
      "CAST(pmod(id * id, 211) AS long) AS v",
      "CAST(pmod(id * 7, 151) AS long) AS x",
      "CAST(pmod(id * 7, 151) + pmod(id, 13) - 6 AS long) AS y",
      "pmod(id, 2) = 0 AS arm",
      "pmod(id, 3) = 0 AS post",
      "pmod(id * id, 5) < 2 AS label",
      "pmod(id * 17, 301) AS cust",
      "timestamp_seconds(1600000000 + pmod(id * id, 97) * 86400) AS ts",
      "CAST(pmod(id * 13, 1000) AS double) / 100 AS amount")
  }

  test("prefixSums distributed fallback == window path through every gated operator") {
    val ops: Seq[(String, () => DataFrame)] = Seq(
      ("spearmanMatrix", () => operators.Stats.spearmanMatrix(facts,
        Seq(("v", col("v")), ("x", col("x")), ("y", col("y"))))),
      ("kruskalWallis", () => operators.Stats.kruskalWallis(facts, col("g"), col("v"))),
      ("wilcoxonSignedRank", () => operators.Stats.wilcoxonSignedRank(facts, col("x"), col("y"))),
      ("ansariBradley", () => operators.Stats.ansariBradley(facts, col("arm"), col("v"))),
      ("moodMedianTest", () => operators.Stats.moodMedianTest(facts, col("g"), col("v"))),
      ("rocAuc", () => operators.Stats.rocAuc(facts, col("x"), col("label"))),
      ("averagePrecision", () => operators.Stats.averagePrecision(facts, col("id"),
        col("v"), col("label"))),
      ("rfmSegments", () => operators.Analytics.rfmSegments(facts, "cust", "ts", "amount")),
      ("lorenzCurve", () => operators.Analytics.lorenzCurve(facts, col("cust"), col("x"))),
      ("liftTable", () => operators.Analytics.liftTable(facts, col("id"), col("v"),
        col("label"))))
    for ((name, build) <- ops) {
      val windowed = build().collect()
      val distributed = withConf("spark.graft.tally.windowMax", "0") {
        build().collect()
      }
      assert(windowed.toSeq.sorted(RowOrd) == distributed.toSeq.sorted(RowOrd),
        s"$name diverged under the forced distributed cumsum:\n" +
          s"window:\n${windowed.mkString("\n")}\ndistributed:\n${distributed.mkString("\n")}")
    }
  }

  private object RowOrd extends Ordering[org.apache.spark.sql.Row] {
    def compare(a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row): Int =
      a.toString.compareTo(b.toString)
  }

  test("prefixSums above the gate plans NO tally-sized partition-less window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val tally = facts.groupBy("v").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val n = tally.count()
    withConf("spark.graft.tally.windowMax", "0") {
      val cum = operators.Stats.prefixSums(tally, n, Seq(col("v")), (col("c"), "w"))
      val partitionless = cum.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      // the ONLY partition-less window left is the per-partition offset
      // cumsum, whose input is the groupBy(__pid) aggregate — bounded by
      // spark.sql.shuffle.partitions, never by the tally
      assert(partitionless.forall(_.child.toString.contains("__pid")),
        s"tally-sized partition-less window survived the gate:\n${partitionless.mkString("\n")}")
      assert(partitionless.nonEmpty, "expected the bounded __pid offset window")
      // and the cumsum itself is right: equal to the window path
      val distributed = cum.collect() // compare against an explicit window
      val reference = tally.withColumn("w",
        sum("c").over(org.apache.spark.sql.expressions.Window.orderBy("v")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow))).collect()
      assert(distributed.toSeq.sorted(RowOrd) == reference.toSeq.sorted(RowOrd))
    }
  }

  test("the size gates' and guards' counts ride their checkpoint jobs") {
    // each count is a probe of the checkpoint job it sizes, never a
    // count() job of its own: a gated rank statistic, an ntile operator,
    // averagePrecision (which no longer scans its rows again for n) and
    // an A/B guard (distinct-arm and cell counts); pinned at local[4]
    val pins: Seq[(String, () => DataFrame, Int)] = Seq(
      ("rocAuc", () => operators.Stats.rocAuc(facts, col("x"), col("label")), 4),
      ("liftTable", () => operators.Analytics.liftTable(facts, col("id"), col("v"),
        col("label")), 4),
      ("averagePrecision", () => operators.Stats.averagePrecision(facts, col("id"),
        col("v"), col("label")), 3),
      ("diffInDiff", () => operators.Stats.diffInDiff(facts, col("arm"), col("post"),
        col("y")), 6))
    for ((name, build, want) <- pins) {
      build().collect() // warm
      val jobs = jobsDuring(build().collect())
      assert(jobs == want, s"$name ran $jobs jobs, pinned at $want")
    }
  }

  test("charBigramEntropy scores duplicated (group, id) rows PER ROW — the documented r14 contract") {
    import spark.implicits._
    // same id twice: the kernel path scores each row as its own doc
    // (n_docs counts ROWS with >= 1 bigram), unlike the pre-r14
    // exploded pipeline which merged the two bigram multisets; the
    // operator scaladoc declares the per-row contract, this pins it
    val df = Seq(
      (1L, "s", "abab"), // h over {ab, ba, ab}
      (1L, "s", "cdcd"), // same id — still its own document
      (2L, "s", "xy")
    ).toDF("doc_id", "source", "text")
    val out = operators.TfIdf.charBigramEntropy(df, "source", "doc_id", "text")
      .collect()
    assert(out.length == 1 && out.head.getLong(1) == 3L,
      s"expected 3 per-row documents under the per-row contract, got:\n${out.mkString("\n")}")
  }

}
