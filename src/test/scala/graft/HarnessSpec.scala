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
