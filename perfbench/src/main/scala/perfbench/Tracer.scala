package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer accounting for a traced run, built only from Spark's
  * public listener events and the phase timestamps the [[Runner]]
  * takes around its calls into graft.
  *
  * A job belongs to the operation named by its job group
  * (`pb|<op>|<phase>|<layer>|<kind>`). Within an operation, a job whose
  * stage call site is in `graft.Tables` is a table-resolution job;
  * other construction-phase jobs belong to the layer that built the
  * frame (eager operator jobs), execution-phase jobs to `exec`. Jobs in
  * any other group come from the streaming queries.
  */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener {
  final class StageAgg {
    var submittedMs = 0L
    var tasks = 0L; var failed = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L; var input = 0L; var written = 0L
  }
  final case class Job(id: Int, group: String, startMs: Long, stageIds: Seq[Int],
                       var endMs: Long = -1L, var tables: Boolean = false) {
    private lazy val parts = group.split('|')
    def isOp: Boolean = group.startsWith("pb|")
    def op: Long = if (isOp) parts(1).toLong else -1L
    def phase: String = if (isOp) parts(2) else ""
    def layer: String = if (!isOp) (if (group.isEmpty) "other" else "streaming")
      else if (tables) "Tables" else phase match {
        case "construct" => parts(3)
        case "plan" => "catalyst"
        case _ => "exec"
      }
    def ms: Double = if (endMs < 0) 0.0 else (endMs - startMs).toDouble
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  @volatile private var storageHwm = 0L
  private var gcStart = 0L
  private var gcStop = 0L
  private var startNs = 0L
  private var stopNs = 0L

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private val sampler = new Thread(() => {
    try while (true) {
      val used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
      if (used > storageHwm) storageHwm = used
      Thread.sleep(100)
    } catch { case _: InterruptedException => () }
  }, "perfbench-storage-sampler")
  sampler.setDaemon(true)

  def start(): Unit = {
    gcStart = gcMs()
    startNs = System.nanoTime()
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streamListener)
    sampler.start()
  }

  def stop(): Unit = {
    stopNs = System.nanoTime()
    gcStop = gcMs()
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
    sampler.interrupt()
    sampler.join()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val job = Job(e.jobId, group, e.time, e.stageIds)
    job.tables = e.stageInfos.exists(s => s.details.contains("graft.Tables"))
    jobs(e.jobId) = job
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).submittedMs =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
    s.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) s.failed += 1
    if (s.submittedMs > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submittedMs)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
      s.shuffleW += m.shuffleWriteMetrics.bytesWritten
      s.shuffleR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.written += m.outputMetrics.bytesWritten
    }
  }

  /** Bytes written by the tasks of jobs in the given job groups. */
  def bytesWrittenBy(groups: Set[String]): Long = synchronized {
    jobs.values.filter(j => groups.contains(j.group)).flatMap(_.stageIds).flatMap(stages.get).map(_.written).sum
  }

  /** Per-layer metrics over the traced operations `ops` (those run
    * while this tracer was attached). Values are per operation unless
    * the unit says otherwise.
    */
  def layerMetrics(ops: Seq[OpRecord]): Map[String, (Double, String)] = synchronized {
    val n = math.max(1, ops.size).toDouble
    val windowMs = math.max(1.0, (stopNs - startNs) / 1e6)
    val ids = ops.map(_.id).toSet
    val opJobs = jobs.values.filter(j => j.isOp && ids.contains(j.op)).toSeq
    val tablesJobs = opJobs.filter(_.tables)
    val tablesMsByOp = tablesJobs.groupBy(_.op).map { case (k, js) => k -> js.map(_.ms).sum }
    def selfConstruct(layer: String): Double = {
      val xs = ops.filter(_.layer == layer)
      Stats.mean(xs.map(o => math.max(0.0, o.constructMs - tablesMsByOp.getOrElse(o.id, 0.0))))
    }
    val opLayer = ops.map(o => o.id -> o.layer).toMap
    val operatorOps = math.max(1, ops.count(_.layer == "operators"))
    val eager = opJobs.count(j => j.phase == "construct" && !j.tables && opLayer.get(j.op).contains("operators"))
    val opStages = opJobs.flatMap(_.stageIds).distinct.flatMap(stages.get)
    val allStages = stages.values.toSeq
    def sum(f: StageAgg => Long) = opStages.map(f).sum.toDouble
    val wall = ops.map(_.ms).sum
    val busy = allStages.map(_.runMs).sum.toDouble / (windowMs * cores)

    val prog = progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
    def dur(k: String) = prog.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))

    Map(
      "Tables.jobs" -> (tablesJobs.size / n, "jobs/op"),
      "Tables.ms" -> (tablesJobs.map(_.ms).sum / n, "ms/op"),
      "qpu.construct_ms" -> (selfConstruct("qpu"), "ms"),
      "api.construct_ms" -> (selfConstruct("api"), "ms"),
      "operators.construct_ms" -> (selfConstruct("operators"), "ms"),
      "operators.eager_jobs" -> (eager.toDouble / operatorOps, "jobs/op"),
      "catalyst.plan_ms" -> (Stats.mean(ops.map(_.planMs)), "ms"),
      "exec.ms" -> (Stats.mean(ops.map(_.execMs)), "ms"),
      "exec.job_p50_ms" -> (nz(Stats.median(opJobs.filter(_.phase == "exec").map(_.ms))), "ms"),
      "exec.jobs" -> (opJobs.size / n, "jobs/op"),
      "exec.stages" -> (opStages.size / n, "count/op"),
      "exec.tasks" -> (sum(_.tasks) / n, "count/op"),
      "exec.task_run_ms" -> (sum(_.runMs) / n, "ms/op"),
      "exec.task_cpu_ms" -> (sum(_.cpuNs) / 1e6 / n, "ms/op"),
      "exec.gc_ms" -> (sum(_.gcMs) / n, "ms/op"),
      "exec.task_wait_ms" -> (sum(_.waitMs) / n, "ms/op"),
      "exec.core_busy_frac" -> (busy, "fraction"),
      "exec.shuffle_write_bytes" -> (sum(_.shuffleW) / n, "B/op"),
      "exec.shuffle_read_bytes" -> (sum(_.shuffleR) / n, "B/op"),
      "exec.spill_bytes" -> (sum(_.spill) / n, "B/op"),
      "exec.input_bytes" -> (sum(_.input) / n, "B/op"),
      "exec.result_rows" -> (ops.map(_.rows).sum / n, "rows/op"),
      "exec.failed_tasks" -> (allStages.map(_.failed).sum.toDouble, "count"),
      "streaming.trigger_ms_p50" -> (nz(Stats.median(dur("triggerExecution"))), "ms"),
      "streaming.add_batch_ms_p50" -> (nz(Stats.median(dur("addBatch"))), "ms"),
      "streaming.batches" -> (prog.size.toDouble, "count"),
      "streaming.rows_per_batch" -> (Stats.mean(prog.map(_.numInputRows.toDouble)), "rows"),
      "storage.hwm_mb" -> (storageHwm / 1048576.0, "MB"),
      "jvm.gc_ms" -> ((gcStop - gcStart).toDouble, "ms"),
      "split.construct_frac" -> (ops.map(_.constructMs).sum / math.max(1e-9, wall), "fraction"),
      "split.plan_frac" -> (ops.map(_.planMs).sum / math.max(1e-9, wall), "fraction"),
      "split.exec_frac" -> (ops.map(_.execMs).sum / math.max(1e-9, wall), "fraction"))
  }

  private def nz(x: Double): Double = if (x.isNaN) 0.0 else x

  /** Spans as JSON: each traced operation with its phases, each job
    * with its group, layer and interval.
    */
  def spansJson(ops: Seq[OpRecord], t0Ns: Long): String = synchronized {
    val o = ops.sortBy(_.startNs).map { r =>
      f"""{"op":${r.id},"kind":"${r.kind}","layer":"${r.layer}","client":${r.client},""" +
        f""""start_ms":${(r.startNs - t0Ns) / 1e6}%.3f,"ms":${r.ms}%.3f,"construct_ms":${r.constructMs}%.3f,""" +
        f""""plan_ms":${r.planMs}%.3f,"exec_ms":${r.execMs}%.3f,"ok":${r.ok}}"""
    }
    val j = jobs.values.toSeq.map { x =>
      s"""{"job":${x.id},"group":"${x.group.replace("\"", "'")}","layer":"${x.layer}",""" +
        s""""start_ms":${x.startMs},"ms":${x.ms},"stages":${x.stageIds.size}}"""
    }
    s"""{"ops":[${o.mkString(",\n")}],\n"jobs":[${j.mkString(",\n")}]}"""
  }
}
