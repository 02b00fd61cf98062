package graft

import graft.operators.{ConnectedComponents, PageRank, Rounds}
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpecBase {

  private def edges(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("pagerank: two-node cycle is the uniform fixed point; mass conserved") {
    val out = PageRank.run(edges(Seq((1L, 2L), (2L, 1L))), "src", "dst", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 0.5) < 1e-12 && math.abs(out(2L) - 0.5) < 1e-12)
  }

  test("pagerank: dangling mass is redistributed, total rank stays 1") {
    // a -> b, b dangling: after one step pr(b) = 0.075 + 0.85*(0.5 + 0.25)
    val one = PageRank.run(edges(Seq((1L, 2L))), "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(one(1L) - 0.2875) < 1e-12)
    assert(math.abs(one(2L) - 0.7125) < 1e-12)
    val five = PageRank.run(edges(Seq((1L, 2L))), "src", "dst", iters = 5)
      .agg(sum("pr")).head.getDouble(0)
    assert(math.abs(five - 1.0) < 1e-9, s"rank mass leaked: $five")
  }

  test("pagerank: matches a reference power iteration on a small digraph") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L))
    val iters = 4
    // reference: dense power iteration with dangling redistribution
    val nodesRef = g.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodesRef.size.toDouble
    val out = g.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var pr = nodesRef.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val dm = nodesRef.filterNot(out.contains).map(pr).sum
      val contrib = nodesRef.map { v =>
        v -> nodesRef.filter(u => out.get(u).exists(_.contains(v)))
          .map(u => pr(u) / out(u).size).sum
      }.toMap
      pr = nodesRef.map(v => v -> ((1 - 0.85) / n + 0.85 * (contrib(v) + dm / n))).toMap
    }
    val got = PageRank.run(edges(g), "src", "dst", iters = iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    nodesRef.foreach { v =>
      assert(math.abs(got(v) - pr(v)) < 1e-12, s"node $v: ${got(v)} vs ${pr(v)}")
    }
  }

  test("pagerank: a NULL endpoint is a dangling node that receives no contributions") {
    import spark.implicits._
    val g: Seq[(Option[Long], Option[Long])] = Seq((Some(1L), Some(2L)),
      (Some(1L), None), (None, Some(2L)), (Some(2L), Some(3L)), (Some(3L), Some(1L)))
    val iters = 3
    // reference: the oracle's SQL semantics — NULL is one node of the
    // UNIONed node set, never equal in a join, so it has no out-degree
    // and no incoming contribution, while an edge into it still counts
    // toward its source's degree
    val nodesRef = g.flatMap(p => Seq(p._1, p._2)).distinct
    val n = nodesRef.size.toDouble
    val deg = g.collect { case (Some(u), _) => u }.groupBy(identity).map { case (u, us) => u -> us.size }
    var pr = nodesRef.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val dm = nodesRef.filter(v => v.forall(u => !deg.contains(u))).map(pr).sum
      val contrib = g.collect { case (Some(u), Some(v)) => v -> pr(Some(u)) / deg(u) }
        .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).sum }
      pr = nodesRef.map(v => v ->
        ((1 - 0.85) / n + 0.85 * (v.flatMap(contrib.get).getOrElse(0.0) + dm / n))).toMap
    }
    val got = PageRank.run(g.toDF("src", "dst"), "src", "dst", iters = iters)
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getDouble(1)).toMap
    assert(got.keySet === nodesRef.toSet)
    nodesRef.foreach { v =>
      assert(math.abs(got(v) - pr(v)) < 1e-12, s"node $v: ${got(v)} vs ${pr(v)}")
    }
  }

  test("Rounds.checkpoint: observed probes equal a separate agg over the same frame, empty frames included") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i % 7, i * 3, i.toDouble / 4)).toDF("k", "x", "v")
      .repartition(col("k"))
    val probes = Seq(count(lit(1)), sum("x"), max("k"), min("v"),
      count(when(col("k") === 3, 1)),
      sum(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
    for (frame <- Seq(df, df.filter(col("k") < 0), df.limit(0))) {
      val (ck, row) = Rounds.checkpoint(frame, Nil, probes: _*)
      assert(row === frame.agg(probes.head, probes.tail: _*).head)
      assert(ck.collect().toSet === frame.collect().toSet)
    }
  }

  test("Rounds.checkpoint: a frame with no exchange costs exactly one job, probes included") {
    val df = spark.range(0, 10000, 1, 4).withColumn("y", col("id") % 13)
    var row: org.apache.spark.sql.Row = null
    val jobs = jobsDuring { row = Rounds.checkpoint(df, Nil, count(lit(1)), sum("y"))._2 }
    assert(jobs === 1)
    assert(row.getLong(0) === 10000L)
    assert(row.getLong(1) === (0L until 10000L).map(_ % 13).sum)
  }

  test("iterative rounds free their checkpoints: persistent RDDs do not grow with the round count") {
    import spark.implicits._
    val sc = spark.sparkContext
    // persistent RDDs created by `body` that are still registered after
    // it (RDD ids only grow, so older entries the context cleaner drops
    // meanwhile do not disturb the count)
    def grown(body: => org.apache.spark.sql.DataFrame): (Int, Long) = {
      val before = (-1 +: sc.getPersistentRDDs.keys.toSeq).max
      val out = body
      (sc.getPersistentRDDs.keys.count(_ > before), out.count())
    }
    val g = edges(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 3L)))
    val (pr1, n1) = grown(PageRank.run(g, "src", "dst", iters = 1))
    val (pr5, n5) = grown(PageRank.run(g, "src", "dst", iters = 5))
    assert(pr5 <= pr1, s"5 rounds kept $pr5 persistent RDDs, 1 round kept $pr1")
    assert(n1 === 5L && n5 === 5L)
    // the fixpoint runs ~1 round on a star and ~5 on a diameter-14 chain
    def comps(pairs: Seq[(Long, Long)]) = ConnectedComponents.propagateToFixpoint(
      pairs.flatMap { case (a, b) => Seq((a, a, b), (b, a, b)) }.toDF("id", "b1", "b2"),
      Seq("b1", "b2"))
    val (star, ns) = grown(comps((2L to 15L).map(i => (1L, i))))
    val (chain, nc) = grown(comps((1L until 15L).map(i => (i, i + 1))))
    assert(chain <= star, s"chain fixpoint kept $chain persistent RDDs, star kept $star")
    assert(ns === 15L && nc === 15L)
  }
}
