package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The measurement harness: one session factory, one plan renderer,
  * one steady-state timer shared by `graft.Bench` and `graft.Measure`.
  */
class HarnessSpec extends SparkSpecBase {

  test("GraftSession.scala is the only source that builds a SparkSession") {
    // split so this file does not match its own needle
    val needle = "SparkSession" + ".builder("
    val sources = Seq("src/main", "src/test").flatMap { root =>
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    def builds(p: Path): Boolean = Files.readString(p).contains(needle)
    val offenders = sources.filter(builds).map(_.toString)
      .filterNot(_.endsWith("/GraftSession.scala"))
    assert(offenders.isEmpty, s"sessions built outside GraftSession: ${offenders.mkString(", ")}")
    assert(sources.exists(p => p.toString.endsWith("/GraftSession.scala") && builds(p)))
  }

  test("one prefix-sum construction and one read of its size gate in src/main") {
    val pid = "spark_partition_id("
    val gate = "\"spark.graft.tally.windowMax\"" // the conf key as a string literal
    val walk = Files.walk(Paths.get("src/main"))
    val text = try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => Files.readString(p)).toList
      finally walk.close()
    def occurrences(needle: String) =
      text.map(_.split(java.util.regex.Pattern.quote(needle), -1).length - 1).sum
    assert(occurrences(pid) == 1, s"$pid outside Stats.prefixSums")
    assert(occurrences(gate) == 1, s"$gate read more than once")
  }

  test("the plan renderer elides long plans, notes cached lineage only, escapes control chars") {
    val long = (1 to 450).map(i => s"line $i").mkString("\n")
    val cut = Measure.renderPlan(long)
    val cutLines = cut.linesIterator.toSeq
    assert(cutLines.size == 401)
    assert(cutLines(399) == "line 400")
    assert(cutLines.last == "… (50 more lines elided)")

    Seq("InMemoryTableScan", "InMemoryRelation").foreach { node =>
      val cached = Measure.renderPlan(long + s"\n$node [a#1]")
      assert(cached.linesIterator.toSeq.last ==
        "… (51 more lines elided — iterative lineage repeats the cached " +
          "membership subtree per propagation round)")
    }

    val short = "Project [coalesce(id#1, \u0000) AS k]\n\tScan"
    assert(Measure.renderPlan(short) == "Project [coalesce(id#1, \\u0000) AS k]\n\tScan")
    assert(Measure.renderPlan("InMemoryTableScan [a#1]") == "InMemoryTableScan [a#1]")
  }

  test("the plan renderer masks run-specific tokens and renumbers expression ids") {
    def plan(ids: (Int, Int), hash: String, lambda: String, planId: Int, rdd: Int,
             line: Int, size: String, rows: String) =
      s"""Project [a#${ids._1}, b#${ids._2}, (a#${ids._1} + 1) AS c#${ids._2 + 7}L]
         |+- ObjectHashAggregate [graft.functions.KMinAgg@$hash]
         |   +- MapElements graft.Queries$lambda, obj#${ids._1 + 3}
         |      +- ShuffleQueryStage (7), Statistics(sizeInBytes=$size, rowCount=$rows)
         |         +- Scan ExistingRDD [plan_id=$planId] MapPartitionsRDD[$rdd] at LabelPropagation.scala:$line
         |""".stripMargin
    val a = plan((12, 40), "c083cec", "$$Lambda$6365/0x00007f6b2d5ebb58@7c76d466",
      11, 640, 122, "1027.9 KiB", "500")
    val b = plan((301, 7), "40503088", "$$Lambda$6378/0x00007f6b2d5f0d38@3528740f",
      70, 680, 118, "2.44E+31 B", "1.37E+4")
    assert(a != b)
    assert(Measure.renderPlan(a) == Measure.renderPlan(b))
    assert(Measure.renderPlan(a).linesIterator.next() == "Project [a#1, b#2, (a#1 + 1) AS c#3L]")
    // renumbering keeps distinct ids distinct
    assert(Measure.renderPlan("Project [a#5, b#5]") != Measure.renderPlan("Project [a#5, b#6]"))
  }

  test("the steady-state timer returns a positive median and releaseAll frees storage") {
    val runs = Measure.steadyState(spark, sf(), SparkEntry.queries("q1_agg"))
    assert(runs.size == 3)
    assert(runs == runs.sorted)
    assert(runs(1) > 0.0)

    spark.range(10).persist().count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Measure.releaseAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
