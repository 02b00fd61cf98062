package perfbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom
import graft.{GraftSession, Tables}
import graft.qpu.GraphConfig
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One benchmark run: set up graft over the seeded inputs in
  * `<work>/data` (written by `perfbench/gen.py` while this JVM starts;
  * `<work>/data/_READY` marks them complete), run one workload for a
  * fixed time, check every result, and print one JSON object as the
  * last line of stdout.
  *
  * {{{
  * Main --workload qpu_point|analytics_mix --seed N
  *      --seconds S --trace 0|1 --work DIR [--corrupt-expected]
  * }}}
  *
  * After the clients' timed window, the changelog feed of
  * [[Subscription]] runs alone on the engine: catch-up of a backlog,
  * then a fixed-rate tail.
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` runs one
  * untraced window of `--seconds`, then a second window and the feed
  * with the [[Tracer]] attached, and prints the per-layer metrics of
  * those plus `trace.overhead_frac`, the second window's latency over
  * the first's, minus one. `--corrupt-expected` makes one reference
  * answer wrong, to show that a wrong result is counted as a failure.
  */
object Main {
  final case class PassRec(startNs: Long, endNs: Long, ok: Boolean)

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = args("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val corrupt = argv.contains("--corrupt-expected")
    val dataDir = s"$work/data"
    val os = ManagementFactory.getOperatingSystemMXBean
    val load0 = os.getSystemLoadAverage
    val calibMs = calibrate()
    // JVM uptime at each phase boundary, for the run metadata
    val uptime = ManagementFactory.getRuntimeMXBean
    val phases = scala.collection.mutable.ListBuffer("main" -> uptime.getUptime)
    def mark(name: String): Unit = phases += name -> uptime.getUptime

    // start Spark while the inputs are generated, then wait for them
    val c0 = System.nanoTime()
    val first = GraftSession.local(cores)
    val coldSessionS = (System.nanoTime() - c0) / 1e9
    first.sparkContext.setLogLevel("WARN")
    mark("session")
    val ready = java.nio.file.Paths.get(dataDir, "_READY")
    val waitUntil = System.nanoTime() + 120000000000L
    while (!java.nio.file.Files.exists(ready)) {
      require(System.nanoTime() < waitUntil, s"inputs not ready: $ready")
      Thread.sleep(20)
    }
    mark("inputs")

    // set-up: session with the shipped config, table resolution and
    // graph config load. The first, cold one (JVM class loading, first
    // SparkContext) is reported as run metadata; setup_s is the median
    // of three restarts after it
    def setUp(s: SparkSession): Unit = {
      Tables.registerAll(s, dataDir)
      GraphConfig.fromResource(s, "/graft/flagship.json", dataDir).toDF.schema
    }
    val c1 = System.nanoTime()
    setUp(first)
    val coldSetupS = coldSessionS + (System.nanoTime() - c1) / 1e9
    val setups = (1 to 3).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val s = GraftSession.local(cores)
      setUp(s)
      val dt = (System.nanoTime() - t0) / 1e9
      s.sparkContext.setLogLevel("WARN")
      dt
    }
    val spark = SparkSession.active
    mark("setup")

    val w = Workloads(workload, spark, dataDir, seed, work)
    w.corruptExpected = corrupt
    w.prepare()
    mark("reference")

    val runner = new Runner(spark, boundMs = 60000)
    // warm-up: one pass, outside the timed region, its requests run
    // side by side on `cores` threads; its results are checked too, and
    // may become the reference
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val warmup = w.pass(0, new SplittableRandom(seed * 1009)).map { r =>
      pool.submit { () =>
        val failure = try {
          val df = r.build()
          val rows = df.collect().toSeq
          w.warmedUp(r.kind, rows, df.schema)
          r.check(rows).map(m => s"WrongResult: $m")
        } catch { case t: Throwable => Some(s"${t.getClass.getName}: ${t.getMessage}") }
        s"warmup ${r.kind}" -> failure
      }
    }.map(_.get())
    pool.shutdown()
    // warm the feed's consumers too: a small backlog through a throwaway
    // subscription, so that the timed catch-up does not pay for loading
    // and generating the streaming code, which a running service pays once
    val feedWarmup = new Subscription(spark, s"$work/feed-warmup", seed + 1, Subscription.feed.copy(backlogFiles = 2))
    feedWarmup.startAndCatchUp()
    val feedWarmupChecks = feedWarmup.drainAndCheck().map { case (n, f) => s"warmup $n" -> f }
    feedWarmup.stop()
    mark("warmup")

    val passes = new java.util.concurrent.ConcurrentLinkedQueue[PassRec]()
    // One timed window: each client runs passes, starting one while a
    // pass as long as its last would end no more than half a pass past
    // the deadline. Both windows of a traced run draw the same requests.
    def window(): Long = {
      val start = System.nanoTime()
      val deadline = start + (seconds * 1e9).toLong
      val threads = (0 until w.clients).map { c =>
        val t = new Thread(() => {
          val rng = new SplittableRandom(seed * 7919 + c)
          var last = 0L
          while (System.nanoTime() + last / 2 < deadline) {
            val ps = System.nanoTime()
            val ok = w.pass(c, rng).map(r => runner.run(r, c).ok).forall(identity)
            val pe = System.nanoTime()
            passes.add(PassRec(ps, pe, ok))
            last = pe - ps
          }
        }, s"perfbench-client-$c")
        t.start()
        t
      }
      threads.foreach(_.join())
      start
    }
    val t0 = window()
    val tracer = if (trace) Some(new Tracer(spark, cores)) else None
    tracer.foreach { tr =>
      tr.start()
      w.beginTraced()
      runner.traced = true
      window()
    }
    val t1 = System.nanoTime()
    mark("timed")

    // the changelog feed, after the clients, alone on the engine
    val sub = new Subscription(spark, s"$work/feed", seed, Subscription.feed)
    val catchup = sub.startAndCatchUp()
    sub.startTail()
    Thread.sleep((Subscription.feed.tailSeconds * 1000).toLong)
    sub.stopTail()
    val checks = warmup ++ feedWarmupChecks ++ sub.drainAndCheck()
    tracer.foreach(_.stop())
    mark("feed")
    val (heapMb, storageMb) = retainedHeapMb(spark)
    val load1 = os.getSystemLoadAverage
    val ops = runner.all

    val failures = ops.filterNot(_.ok).map(o => s"${o.kind}: ${o.error.getOrElse("")}") ++
      checks.collect { case (n, Some(m)) => s"$n: $m" }
    failures.take(20).foreach(f => System.err.println(s"FAILURE $f"))
    val attempted = ops.size + checks.size
    val failed = failures.size

    val metrics: Map[String, (Double, String)] =
      if (!trace) {
        val lat = ops.filter(_.ok).map(_.ms)
        val lastEnd = if (ops.isEmpty) t1 else ops.map(_.endNs).max
        val full = passes.asScala.toSeq.filter(_.ok).map(p => (p.endNs - p.startNs) / 1e9)
        val notify = sub.notifyLatencies
        Map(
          "setup_s" -> (Stats.median(setups), "s"),
          "latency_p50_ms" -> (Stats.quantile(lat, 0.5), "ms"),
          "latency_p90_ms" -> (Stats.quantile(lat, 0.9), "ms"),
          "throughput_ops_s" -> (ops.count(_.ok) / ((lastEnd - t0) / 1e9), "1/s"),
          "pass_s" -> (Stats.median(full), "s"),
          "catchup_events_s" -> (catchup.events / catchup.seconds, "1/s"),
          "notify_p50_ms" -> (Stats.quantile(notify, 0.5), "ms"),
          "notify_p99_ms" -> (Stats.quantile(notify, 0.99), "ms"),
          "retained_heap_mb" -> (heapMb, "MB"))
      } else {
        val tr = tracer.get
        val tracedOps = ops.filter(o => o.traced && o.ok)
        val untracedOps = ops.filter(o => !o.traced && o.ok)
        val (stateRows, stateBytes) = sub.stateRowsAndBytes
        val sinkBytes = sub.upsertQuery.map(q => tr.bytesWrittenBy(Set(q.runId.toString))).getOrElse(0L)
        val genBytes = sub.storyBytes.get
        tr.layerMetrics(tracedOps) ++ Map(
          "qpu.cache_hit_ratio" -> (w.cacheHitRatio, "fraction"),
          "streaming.state_rows" -> (stateRows, "rows"),
          "streaming.state_bytes" -> (stateBytes, "B"),
          "streaming.sink_bytes_per_update_byte" -> ((if (genBytes == 0) 0.0 else sinkBytes.toDouble / genBytes), "ratio"),
          "streaming.gen_late_ms_max" -> (sub.genLateMsMax, "ms"),
          "streaming.backlog_files_max" -> (sub.backlogFilesMax, "files"),
          "trace.overhead_frac" -> (overhead(untracedOps, tracedOps), "fraction"))
      }

    tracer.foreach { tr =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/spans.json"),
        tr.spansJson(ops.filter(_.traced), t0).getBytes("UTF-8"))
    }
    val meta = Map(
      "workload" -> s""""$workload"""", "seed" -> seed.toString, "cores" -> cores.toString,
      "calib_ms" -> f"$calibMs%.3f", "load_start" -> f"$load0%.2f", "load_end" -> f"$load1%.2f",
      "timed_s" -> f"${(t1 - t0) / 1e9}%.3f", "storage_mb" -> f"$storageMb%.1f", "passes" -> passes.size.toString,
      "cold_setup_s" -> f"$coldSetupS%.3f", "setups_s" -> setups.map(x => f"$x%.3f").mkString("[", ",", "]"),
      "ops" -> ops.size.toString, "notify_samples" -> sub.notifyLatencies.size.toString,
      "op_count_p50_ms" -> ops.filter(_.ok).groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, xs) =>
        f""""$k":[${xs.size},${Stats.median(xs.map(_.ms))}%.1f]""" }.mkString("{", ",", "}"),
      "backlog_events" -> catchup.events.toString, "catchup_s" -> f"${catchup.seconds}%.3f",
      "catchup_start_s" -> f"${catchup.startS}%.3f", "catchup_process_s" -> f"${catchup.processS}%.3f",
      "phase_end_s" -> phases.map { case (k, ms) => f""""$k":${ms / 1000.0}%.2f""" }.mkString("{", ",", "}"),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("--add-opens")).map(a => s""""$a"""").mkString("[", ",", "]"))
    System.err.println("META " + meta.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))

    sub.stop()
    runner.close()
    spark.stop()

    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
    System.out.flush()
    System.exit(0)
  }

  /** Mean over request kinds seen in both windows of (traced median
    * latency / untraced median latency), minus one.
    */
  private def overhead(untraced: Seq[OpRecord], traced: Seq[OpRecord]): Double = {
    val u = untraced.groupBy(_.kind).map { case (k, xs) => k -> Stats.median(xs.map(_.ms)) }
    val ratios = traced.groupBy(_.kind).collect {
      case (k, xs) if u.contains(k) => Stats.median(xs.map(_.ms)) / u(k)
    }
    if (ratios.isEmpty) 0.0 else Stats.mean(ratios.toSeq) - 1.0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Live driver heap after a full GC, not counting the blocks Spark's
    * block store holds (cached and checkpointed data, reported on its
    * own as storage.hwm_mb); returns (retained MB, block store MB).
    */
  private def retainedHeapMb(spark: SparkSession): (Double, Double) = {
    // the second collection follows the context cleaner's reaction to
    // the first (it drops shuffle and broadcast state of dead frames)
    System.gc()
    Thread.sleep(300)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val storage = spark.sparkContext.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
    ((heap - storage) / 1048576.0, storage / 1048576.0)
  }

  /** Box calibration: a fixed integer workload on one core, in ms. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42) System.err.println("") // keep the loop live
    ms
  }
}
