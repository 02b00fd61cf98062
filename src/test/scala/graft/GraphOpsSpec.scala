package graft

import graft.operators.{ConnectedComponents, ShortestPaths}

class GraphOpsSpec extends SparkSpecBase {

  private def comps(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val out = ConnectedComponents.componentsFromEdges(
      pairs.toDF("src", "dst"), "src", "dst")
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.unpersist()
    m
  }

  private def bfs(pairs: Seq[(Long, Long)], sources: Seq[Long],
                  maxHops: Int): Map[Long, Int] = {
    import spark.implicits._
    val out = ShortestPaths.bfsHops(pairs.toDF("src", "dst"), "src", "dst",
      sources.toDF("id"), maxHops)
    val m = out.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.unpersist()
    m
  }

  test("components: two components, min-id labels, dirty edges cleaned") {
    // {1,2,3,4} as a path + {10,11} — with a self-loop and reversed dups
    val m = comps(Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 4L), (3L, 2L), (10L, 11L)))
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("components: a diameter-14 chain resolves to its global min (fixpoint, not round-capped)") {
    val chain = (1L until 15L).map(i => (i, i + 1))
    val m = comps(chain)
    assert(m.size === 15)
    assert(m.values.toSet === Set(1L))
  }

  test("bfs: hop distances from multiple sources take the min; cap respected; unreachable absent") {
    // path 1-2-3-4-5-6  plus isolated edge 10-11; sources 1 and 6
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L))
    val m = bfs(path, Seq(1L, 6L), maxHops = 2)
    assert(m === Map(1L -> 0, 6L -> 0, 2L -> 1, 5L -> 1, 3L -> 2, 4L -> 2))
    // distance function is symmetric over undirected symmetrization
    val m2 = bfs(path, Seq(6L), maxHops = 10) // early-terminates at the graph edge
    assert(m2 === Map(6L -> 0, 5L -> 1, 4L -> 2, 3L -> 3, 2L -> 4, 1L -> 5))
  }

  test("bfs: maxHops 0 returns only the sources; edge-less source still reports dist 0") {
    val m = bfs(Seq((1L, 2L)), Seq(1L, 99L), maxHops = 0)
    assert(m === Map(1L -> 0, 99L -> 0))
    val m1 = bfs(Seq((1L, 2L)), Seq(99L), maxHops = 3)
    assert(m1 === Map(99L -> 0))
  }

  /** Spark jobs of a warm build + collect at sf0.001, SparkListener
    * counted — ceilings pinned at the measured values. Each superstep's
    * scalar probe (frontier size, label sum, max score, dangling mass)
    * rides its checkpoint job ([[graft.operators.Rounds.checkpoint]]);
    * a probe that falls back to its own `count()` or one-row `agg` adds
    * one or two jobs per round and breaks the ceiling.
    */
  private val JOB_CEILINGS: Map[String, Int] = Map(
    "q_pagerank" -> 25,   // 5 rounds × 3 jobs + node table + edge build
    "q_hits" -> 25,       // 2 × 2 half-steps, each max observed
    "q_bfs" -> 27,        // stride-3 rounds, frontier size observed
    "q_sssp" -> 29,       // Bellman-Ford rounds, improved-set size observed
    "q_components" -> 35) // fixpoint rounds, label sum observed

  test("iterative graph queries keep their pinned Spark job counts at sf0.001") {
    val got = JOB_CEILINGS.keys.toSeq.sorted.map { q =>
      val qd = Queries.asMap(q)
      qd.build(spark, sf()).collect() // warm: schema catalog, codegen cache
      q -> jobsDuring(qd.build(spark, sf()).collect())
    }
    val bad = got.filter { case (q, n) => n > JOB_CEILINGS(q) }
    assert(bad.isEmpty, s"over the job ceiling: ${bad.mkString(", ")} " +
      s"(all: ${got.mkString(", ")})")
  }
}
