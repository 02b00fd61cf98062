package graft.metrics

import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.QueryMetrics
import graft.streaming.StreamingMetrics

/** Client-facing query metrics (reference parity: the `GetMetrics` RPC,
  * pkg/proteus-go-client/proteus_client.go:82, backed by the
  * apiprocessor's per-query response-time and data-transfer accounting,
  * internal/apiprocessor/apiprocessor.go:218). The reference exposes
  * per-query latency percentiles TO CLIENTS over its public endpoint;
  * here the same numbers are a SQL view, so any Thrift/JDBC or Spark
  * Connect client reads them with a plain `SELECT` — no graft classes
  * client-side (EndpointSpec drives exactly that path).
  *
  * Shape: a bounded driver-side ring of per-query records (batch
  * queries via [[record]], streaming micro-batches via [[publish]]ed
  * [[StreamingMetrics.LatencyTracker]]s) surfaced through a DataSource
  * V2 table. The scan SNAPSHOTS the ring at `planInputPartitions`
  * time, which runs on the driver — the rows ship inside the
  * InputPartition, so the table is correct on a real cluster (executors
  * never touch the driver-resident registry) and every SELECT re-plans
  * → always-fresh reads with zero refresh protocol.
  */
object MetricsRegistry {

  final case class Rec(kind: String, name: String, startedAtMs: Long,
                       wallMs: Long, records: Long, bytesRead: Long,
                       shuffleWrite: Long, shuffleRead: Long,
                       eventLagMs: Option[Long])

  val schema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("started_at_ms", LongType, nullable = false),
    StructField("wall_ms", LongType, nullable = false),
    StructField("records", LongType, nullable = false),
    StructField("bytes_read", LongType, nullable = false),
    StructField("shuffle_bytes_written", LongType, nullable = false),
    StructField("shuffle_bytes_read", LongType, nullable = false),
    StructField("event_lag_ms", LongType, nullable = true)))

  /** Bounded like the reference's metrics store (and like
    * StreamingMetrics' ring): a 100 TB-scale service must not grow
    * driver memory with uptime.
    */
  private val maxRecords = 4096
  private val ring = new scala.collection.mutable.ArrayDeque[Rec]()
  private val trackers = new CopyOnWriteArrayList[(String, StreamingMetrics.LatencyTracker)]()

  def add(r: Rec): Unit = ring.synchronized {
    ring.append(r)
    while (ring.size > maxRecords) ring.removeHead()
  }

  /** Streaming trackers are snapshotted live at scan time rather than
    * copied into the ring — their own rings already bound memory and
    * dedup across repeated scans is free.
    */
  def publish(name: String, t: StreamingMetrics.LatencyTracker): Unit =
    trackers.add((name, t))

  def unpublish(t: StreamingMetrics.LatencyTracker): Unit =
    trackers.removeIf(_._2 eq t)

  def clear(): Unit = {
    ring.synchronized(ring.clear())
    trackers.clear()
  }

  def toRow(r: Rec): InternalRow = new GenericInternalRow(Array[Any](
    UTF8String.fromString(r.kind), UTF8String.fromString(r.name),
    r.startedAtMs, r.wallMs, r.records, r.bytesRead, r.shuffleWrite, r.shuffleRead,
    r.eventLagMs.fold(null: Any)(identity)))

  def snapshot(): Seq[Rec] = {
    val base = ring.synchronized(ring.toVector)
    val stream = trackers.asScala.flatMap { case (name, t) =>
      t.batches.map(b => Rec("stream_batch", name, 0L, b.triggerMs,
        b.inputRows, 0L, 0L, 0L, b.eventTimeLagMs))
    }
    base ++ stream
  }
}

object MetricsService {

  /** Run `body`, measure it with QueryMetrics' task-level listener, and
    * record the result under `name` — the server-side instrumentation
    * point (the reference measures inside the apiprocessor, not the
    * client).
    */
  def record[T](spark: SparkSession, name: String)(body: => T): T = {
    val start = System.currentTimeMillis()
    val (result, stats) = QueryMetrics.profile(spark)(body)
    MetricsRegistry.add(MetricsRegistry.Rec("query", name, start,
      stats.wallMs, stats.recordsRead, stats.bytesRead,
      stats.shuffleBytesWritten, stats.shuffleBytesRead, None))
    result
  }

  /** [[record]] for a DataFrame result: same task-level measurement,
    * plus the EXECUTED plan's per-node SQLMetrics harvested into
    * `graft_plan_metrics` (tracer parity — see [[PlanMetricsRegistry]]).
    * Returns the collected rows; the plan walk costs microseconds of
    * driver time, so instrumenting every served query is free.
    */
  def recordPlan(spark: SparkSession, name: String)(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val out = record(spark, name)(df.collect())
    PlanMetricsRegistry.add(name, df.queryExecution.executedPlan)
    out
  }

  /** Register the SQL surface on a session: `graft_metrics` (raw
    * records — a V2 relation that re-snapshots per execution),
    * `graft_metrics_summary` (per-query latency percentiles, the
    * GetMetrics response shape), and `graft_plan_metrics` (per-operator
    * breakdown of [[recordPlan]]-served queries). Views compose
    * lazily, so the summary is as fresh as the base table.
    */
  def register(spark: SparkSession): Unit = {
    for (view <- Seq("graft_metrics", "graft_plan_metrics"))
      spark.read.format(classOf[SnapshotTableProvider].getName).option("view", view).load()
        .createOrReplaceTempView(view)
    spark.sql("""
      CREATE OR REPLACE TEMPORARY VIEW graft_metrics_summary AS
      SELECT kind, name, count(*) AS n_queries,
             percentile(wall_ms, 0.5)  AS p50_ms,
             percentile(wall_ms, 0.9)  AS p90_ms,
             percentile(wall_ms, 0.95) AS p95_ms,
             percentile(wall_ms, 0.99) AS p99_ms,
             sum(records) AS records, sum(bytes_read) AS bytes_read,
             sum(shuffle_bytes_written) AS shuffle_bytes_written,
             sum(shuffle_bytes_read) AS shuffle_bytes_read
      FROM graft_metrics GROUP BY kind, name""")
  }
}

/** The DataSource V2 table behind both metrics views, picked by the
  * `view` load option: `graft_metrics` ([[MetricsRegistry]]) or
  * `graft_plan_metrics` ([[PlanMetricsRegistry]]). The scan snapshots
  * the view's driver-side ring at `planInputPartitions` time and ships
  * the rows, already converted to InternalRows, inside the partition.
  */
class SnapshotTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotTable.view(options.get("view"))._1
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new SnapshotTable(properties.get("view"))
}

object SnapshotTable {
  /** View name → (schema, snapshot as rows). */
  private val views: Map[String, (StructType, () => Seq[InternalRow])] = Map(
    "graft_metrics" -> (MetricsRegistry.schema, () => MetricsRegistry.snapshot().map(MetricsRegistry.toRow)),
    "graft_plan_metrics" -> (PlanMetricsRegistry.schema, () => PlanMetricsRegistry.snapshot().map(PlanMetricsRegistry.toRow)))

  def view(name: String): (StructType, () => Seq[InternalRow]) = views.getOrElse(name,
    throw new IllegalArgumentException(
      s"unknown metrics view '$name'; the view option is one of ${views.keys.toSeq.sorted.mkString(", ")}"))
}

class SnapshotTable(viewName: String) extends Table with SupportsRead {
  private val (viewSchema, snapshot) = SnapshotTable.view(viewName)
  override def name(): String = viewName
  override def schema(): StructType = viewSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan with Batch {
      override def readSchema(): StructType = viewSchema
      override def toBatch: Batch = this
      // Driver-side: the snapshot rides inside the partition to executors.
      override def planInputPartitions(): Array[InputPartition] =
        Array(SnapshotPartition(snapshot().toArray))
      override def createReaderFactory(): PartitionReaderFactory =
        (p: InputPartition) => new PartitionReader[InternalRow] {
          private val rows = p.asInstanceOf[SnapshotPartition].rows.iterator
          private var cur: InternalRow = _
          override def next(): Boolean = { val h = rows.hasNext; if (h) cur = rows.next(); h }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
    }
}

final case class SnapshotPartition(rows: Array[InternalRow]) extends InputPartition
