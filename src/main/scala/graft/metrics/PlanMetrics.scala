package graft.metrics

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-OPERATOR runtime breakdown over the wire (reference parity:
  * internal/tracer/tracer.go:1 wraps every QPU hop in an opentracing
  * span, so a reference user sees per-stage latency for a slow query;
  * the Spark-native equivalent of a span tree is the executed plan's
  * per-node SQLMetrics — scan rows, exchange bytes, aggregation times).
  * [[MetricsService]]'s `graft_metrics_summary` answers "how slow was
  * the query"; this table answers the follow-up that actually matters
  * when one stage of a 100 TB job is slow: "WHICH operator, and how
  * many rows/bytes moved through it".
  *
  * Shape: [[MetricsService.recordPlan]] executes a DataFrame under the
  * usual task-level measurement and then walks the EXECUTED plan
  * (descending through AQE wrappers and query stages — the final
  * adaptive plan, not the initial one) harvesting every node's
  * SQLMetric values into a bounded driver-side ring, surfaced through
  * the same DataSource-V2 snapshot-at-planning pattern as
  * [[MetricsRegistry]]: executors never touch driver state, every
  * SELECT re-plans → always fresh, works against a real cluster.
  *
  * Row shape: (name, run_id, node_id, node_name, metric_name, value).
  * `run_id` disambiguates repeated recordings of the same query name;
  * `node_id` is Spark's plan-node id (stable within one plan, so a
  * client can GROUP BY node and reassemble the tree's hot path).
  * Metric semantics are Spark's own (`numOutputRows`, `shuffle bytes
  * written`, `time in aggregation build total` ...) — passing them
  * through untranslated is the point: they are the vocabulary every
  * Spark UI / dashboard already speaks.
  */
object PlanMetricsRegistry {

  final case class PlanRec(name: String, runId: Long, nodeId: Int,
                           nodeName: String, metricName: String, value: Long)

  val schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("run_id", LongType, nullable = false),
    StructField("node_id", IntegerType, nullable = false),
    StructField("node_name", StringType, nullable = false),
    StructField("metric_name", StringType, nullable = false),
    StructField("value", LongType, nullable = false)))

  /** Bounded: ~64 recorded plans × ~100 metric rows each stays trivially
    * small; like [[MetricsRegistry]], driver memory must not grow with
    * service uptime.
    */
  private val maxPlans = 64
  private val ring = new scala.collection.mutable.ArrayDeque[Seq[PlanRec]]()
  private val runIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Flatten the executed plan into metric rows and retain them.
    * Descends AQE wrappers ([[AdaptiveSparkPlanExec]] is a LEAF node —
    * a naive `children` walk sees none of the real operators) and
    * materialized query stages; reused exchanges/subqueries appear as
    * their Reused* nodes, whose metrics point at the shared exchange.
    */
  def add(name: String, plan: SparkPlan): Long = {
    val runId = runIds.incrementAndGet()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec => p +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    val rows = walk(plan).flatMap { node =>
      node.metrics.toSeq.map { case (mKey, m) =>
        // display name over internal key ("shuffle bytes written", not
        // "shuffleBytesWritten") — the vocabulary the Spark UI shows,
        // so a dashboard query matches what its author sees on screen
        PlanRec(name, runId, node.id, node.nodeName, m.name.getOrElse(mKey), m.value)
      }
    }
    ring.synchronized {
      ring.append(rows)
      while (ring.size > maxPlans) ring.removeHead()
    }
    runId
  }

  def clear(): Unit = ring.synchronized(ring.clear())

  def snapshot(): Seq[PlanRec] = ring.synchronized(ring.toVector).flatten

  def toRow(r: PlanRec): InternalRow = new GenericInternalRow(Array[Any](
    UTF8String.fromString(r.name), r.runId, r.nodeId,
    UTF8String.fromString(r.nodeName), UTF8String.fromString(r.metricName), r.value))
}
