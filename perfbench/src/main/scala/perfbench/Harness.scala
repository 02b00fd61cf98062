package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** Summary statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Order-independent result comparison with a relative tolerance on
  * floating-point cells (Spark sums partial aggregates in whatever
  * order tasks finish, so the last bits of a double may move).
  */
object Rows {
  type Canon = IndexedSeq[Any]

  def canon(r: Row): Canon = (0 until r.length).map { i =>
    r.get(i) match {
      case f: java.lang.Float => f.toDouble
      case d: java.math.BigDecimal => d.doubleValue
      case s: scala.collection.Seq[_] => s.map(v => if (v == null) "null" else v.toString).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map(_.toString).sorted.mkString("{", ",", "}")
      case v => v
    }
  }

  private def sortKey(c: Canon): String = c.map {
    case d: Double => f"$d%.6e"
    case null => "null"
    case v => v.toString
  }.mkString("\u0001")

  def cellEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  def rowEq(a: Canon, b: Canon): Boolean =
    a.length == b.length && a.indices.forall(i => cellEq(a(i), b(i)))

  /** Compare as multisets; None when equal, else a short description. */
  def diffBag(got: Seq[Canon], want: Seq[Canon]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else diffSeq(got.sortBy(sortKey), want.sortBy(sortKey))

  /** Compare in order; None when equal. */
  def diffSeq(got: Seq[Canon], want: Seq[Canon]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).collectFirst {
      case (g, w) if !rowEq(g, w) => s"row ${g.mkString("(", ", ", ")")} expected ${w.mkString("(", ", ", ")")}"
    }
}

/** One client-visible operation: a request or a registry query. Times
  * are System.nanoTime; phase times are filled in only by traced runs.
  */
final case class OpRecord(id: Long, kind: String, layer: String, client: Int, startNs: Long, endNs: Long,
                          ok: Boolean, error: Option[String], rows: Long,
                          constructMs: Double, planMs: Double, execMs: Double,
                          traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One operation to run: `layer` names the graft module whose public
  * calls `build` makes (qpu, api or operators), `check` compares the
  * collected rows with an answer computed outside the timed interval.
  */
final case class Request(kind: String, layer: String, build: () => DataFrame,
                         check: Seq[Row] => Option[String])

/** Runs operations under their own job group with a wall bound,
  * records every outcome, and counts failures by cause.
  */
final class Runner(spark: SparkSession, boundMs: Long) {
  val records = new ConcurrentLinkedQueue[OpRecord]()
  @volatile var traced = false
  private val seq = new AtomicLong()
  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  /** Run one request: build (construction), force the physical plan
    * (planning, traced runs only), collect (execution), then check the
    * rows outside the timed interval. Phases carry the job group
    * `pb|<op>|<phase>|<layer>|<kind>` so the tracer can attribute jobs.
    */
  def run(req: Request, client: Int): OpRecord = {
    val sc = spark.sparkContext
    val op = seq.incrementAndGet()
    val group = new AtomicReference[String]()
    def phase(name: String): Unit = {
      val g = s"pb|$op|$name|${req.layer}|${req.kind}"
      group.set(g)
      sc.setJobGroup(g, req.kind, interruptOnCancel = true)
    }
    @volatile var timedOut = false
    val timer = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut = true; Option(group.get).foreach(sc.cancelJobGroup) }
    }, boundMs, TimeUnit.MILLISECONDS)
    val isTraced = traced
    var c = 0.0; var p = 0.0; var e = 0.0
    val t0 = System.nanoTime()
    val outcome: Either[Throwable, Array[Row]] =
      try {
        phase("construct")
        val df = req.build()
        val t1 = System.nanoTime()
        c = (t1 - t0) / 1e6
        if (isTraced) {
          phase("plan")
          df.queryExecution.executedPlan
        }
        val t2 = System.nanoTime()
        p = (t2 - t1) / 1e6
        phase("exec")
        val rows = df.collect()
        e = (System.nanoTime() - t2) / 1e6
        Right(rows)
      } catch { case t: Throwable => Left(t) }
      finally sc.clearJobGroup()
    val t3 = System.nanoTime()
    timer.cancel(false)
    val error = outcome match {
      case Left(t) => Some(s"${t.getClass.getName}: ${firstLine(t.getMessage)}")
      case Right(_) if timedOut => Some(s"Timeout: exceeded ${boundMs} ms")
      case Right(rows) =>
        try req.check(rows.toSeq).map(m => s"WrongResult: $m")
        catch { case t: Throwable => Some(s"CheckFailed ${t.getClass.getName}: ${firstLine(t.getMessage)}") }
    }
    val rec = OpRecord(op, req.kind, req.layer, client, t0, t3, error.isEmpty, error,
      outcome.fold(_ => 0L, _.length.toLong), c, p, e, isTraced)
    records.add(rec)
    rec
  }

  def all: Seq[OpRecord] = records.asScala.toSeq

  def close(): Unit = watchdog.shutdownNow()

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.nextOption().getOrElse("").take(300)).getOrElse("")
}
