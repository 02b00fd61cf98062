package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.sql.execution.LogicalRDD
import scala.concurrent.Await
import scala.concurrent.duration._

/** Eager checkpoints with probes that ride their job: the round state
  * of the iterative operators ([[PageRank]], [[GraphMetrics.hits]],
  * [[ShortestPaths]], [[ConnectedComponents]], [[KCore]],
  * [[LabelPropagation]], [[Hierarchy]], k-means in [[Similarity]]),
  * and the one-shot checkpoints whose row count or guard scalars a
  * caller needs ([[Stats.prefixSums]]' size gate, the A/B guards of
  * [[Stats.welchTTest]], [[Stats.propZTest]], [[Stats.diffInDiff]]).
  *
  * Each superstep of those loops ends in an eager localCheckpoint (the
  * lineage truncation that keeps Catalyst's planning time flat, see
  * [[PageRank]]), and most supersteps also need one or two scalars of
  * the round they just built: a frontier size, a label sum, a max
  * score, the dangling rank mass. Computed as their own `count()` or
  * one-row `agg`, each scalar is a further Spark job (or two under AQE:
  * the partial-aggregate exchange and the final stage) on top of the
  * checkpoint job, and on these node-sized frames a job's fixed cost,
  * not its data, is the round's wall time. [[checkpoint]] evaluates
  * the scalars inside the checkpoint job instead: the probes ride a
  * `Dataset.observe` placed at the top of the round's plan, so they are
  * accumulated in the result stage that writes the checkpoint blocks —
  * once per partition, task retries included (Spark applies a result
  * stage's accumulator updates only from the first successful attempt
  * of each partition), and one row of driver memory whatever the input
  * size.
  *
  * Freeing a round: a localCheckpoint's blocks belong to the RDD under
  * the returned frame's `LogicalRDD` leaf, which `Dataset.unpersist`
  * never reaches (it only drops cache-manager entries), so a loop that
  * "unpersists" its previous round keeps every round's blocks until
  * driver GC runs the context cleaner. [[release]] drops that RDD's
  * blocks itself. It is only safe for a round no live frame still reads:
  * a later read of a released checkpoint fails with "checkpoint block
  * not found".
  */
object Rounds {

  /** Eagerly localCheckpoint `df` and evaluate `probes` (aggregate
    * columns, e.g. `count(lit(1))`, `sum("x")`) over its rows in the
    * same job. Returns the checkpointed frame and one row holding the
    * probe values in argument order — the values a separate
    * `df.agg(probes)` would return, empty frames included (count 0,
    * sum NULL). `previous` rounds are released once the new round is
    * materialized.
    */
  def checkpoint(df: DataFrame, previous: Seq[DataFrame], probes: Column*): (DataFrame, Row) = {
    val (frame, row) =
      if (probes.isEmpty) (df.localCheckpoint(true), Row.empty)
      else {
        val obs = Observation()
        val out = df.observe(obs, probes.head, probes.tail: _*).localCheckpoint(true)
        // the observation completes once Spark reports the checkpoint
        // query's metrics; bounded so a plan that lost its observation
        // fails instead of hanging the round loop
        (out, Await.result(obs.future, 5.minutes))
      }
    previous.foreach(release)
    (frame, row)
  }

  /** Free the checkpoint blocks under `frame` (a frame returned by
    * [[checkpoint]] or a projection of one).
    */
  def release(frame: DataFrame): Unit =
    frame.queryExecution.logical.collectLeaves().foreach {
      case r: LogicalRDD => CoreBridge.unpersistRDD(r.rdd)
      case _ =>
    }
}
