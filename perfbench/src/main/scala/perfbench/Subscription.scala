package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import graft.streaming.Subscribe
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Shape of the changelog a [[Subscription]] generates. */
final case class FeedConfig(keys: Int, backlogFiles: Int, eventsPerFile: Int,
                            filesPerSec: Double, storiesFrac: Double, tailSeconds: Double)

/** The catch-up of a backlog: `seconds` from starting the consumers
  * until both have processed it, of which `startS` passed before the
  * later of the two began its first non-empty batch (query start-up)
  * and `processS` after.
  */
final case class CatchUp(events: Long, seconds: Double, startS: Double, processS: Double)

/** Snapshot-and-subscribe under writes.
  *
  * A generator writes Debezium changelog files: first a backlog
  * (catch-up), then, from its own thread, one file every
  * `1 / filesPerSec` seconds on a fixed schedule (an open loop: a slow
  * consumer does not slow the writer). Records are `votes` with
  * positive increments and `stories` upserts; keys are Zipf-skewed.
  *
  * Consumers, all through graft's public streaming API:
  *  - `votes`: fromChangelog -> changelogTable -> incrementalSum, in
  *    update mode, to a notification sink that timestamps every row;
  *  - `stories`: fromChangelog -> changelogTable -> parquetUpsertSink,
  *    a parquet view partitioned by key.
  *
  * Because increments are positive, each running sum pins the one
  * event that produced it: a notified `(key, sum)` must be a prefix sum
  * the generator wrote, and its latency runs from that event's due time.
  */
final class Subscription(spark: SparkSession, work: String, seed: Long, cfg: FeedConfig) {
  private val dir = s"$work/changelog"
  private val tmp = s"$work/changelog-tmp"
  private val viewPath = s"$work/view"
  Files.createDirectories(Paths.get(dir))
  Files.createDirectories(Paths.get(tmp))

  private val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
  private val cdf: Array[Double] = {
    val w = (1 to cfg.keys).map(i => 1.0 / math.pow(i, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def zipfKey(): Long = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    (if (i >= 0) i else math.min(cdf.length - 1, -i - 1)).toLong
  }

  // generator state (written by one thread at a time)
  private val voteSum = mutable.HashMap.empty[Long, Long]
  /** key -> (title, score, version) of the latest story record. */
  private val latestStory = mutable.HashMap.empty[Long, (String, Long, Long)]
  /** (key, running sum) -> (due ns, written in the tail). */
  private val due = new ConcurrentHashMap[(Long, Long), (Long, Boolean)]()
  private var eventSeq = 0L
  private var fileSeq = 0
  val linesWritten = new AtomicLong()
  val storyBytes = new AtomicLong()
  @volatile var genLateMsMax = 0.0
  @volatile var backlogFilesMax = 0.0

  // consumer state
  private val notified = new ConcurrentHashMap[Long, Long]()
  private val notifyMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private val badNotes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val rowsRead = new ConcurrentHashMap[java.util.UUID, Long]()
  private var queries = Seq.empty[StreamingQuery]
  var votesQuery: Option[StreamingQuery] = None
  var upsertQuery: Option[StreamingQuery] = None
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      rowsRead.merge(e.progress.id, e.progress.numInputRows, (a: Long, b: Long) => a + b)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def writeFile(dueNs: Long, tail: Boolean): Unit = {
    val sb = new StringBuilder
    var sBytes = 0L
    (0 until cfg.eventsPerFile).foreach { _ =>
      eventSeq += 1
      val key = zipfKey()
      val ts = 1700000000000L + eventSeq
      val line =
        if (rng.nextDouble() < cfg.storiesFrac) {
          val v = latestStory.get(key).fold(0L)(_._3) + 1
          val title = s"story-$key-v$v"
          val score = 1 + rng.nextInt(1000).toLong
          latestStory(key) = (title, score, v)
          val l = s"""{"payload":{"op":"u","ts_ms":$ts,"source":{"table":"stories"},""" +
            s""""after":{"id":"$key","title":"$title","score":"$score","version":"$v"}}}"""
          sBytes += l.length + 1
          l
        } else {
          val inc = 1 + rng.nextInt(5).toLong
          val s = voteSum.getOrElse(key, 0L) + inc
          voteSum(key) = s
          due.put((key, s), (dueNs, tail))
          s"""{"payload":{"op":"c","ts_ms":$ts,"source":{"table":"votes"},"after":{"id":"$key","inc":"$inc"}}}"""
        }
      sb.append(line).append('\n')
    }
    fileSeq += 1
    val name = f"f-$fileSeq%08d.json"
    val t = Paths.get(tmp, name)
    Files.write(t, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(t, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    linesWritten.addAndGet(cfg.eventsPerFile)
    storyBytes.addAndGet(sBytes)
  }

  /** Write the backlog, start the consumers and wait until they have
    * caught up with it.
    */
  def startAndCatchUp(): CatchUp = {
    val now = System.nanoTime()
    (0 until cfg.backlogFiles).foreach(_ => writeFile(now, tail = false))
    spark.streams.addListener(listener)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val votes = Subscribe.incrementalSum(
      Subscribe.changelogTable(
        Subscribe.fromChangelog(spark, spark.readStream.text(dir), "id"),
        "votes", Map("inc" -> "long")),
      "key", "inc")
    val vq = votes.writeStream.outputMode("update")
      .option("checkpointLocation", s"$work/ckpt-votes")
      .foreachBatch((b: DataFrame, _: Long) => onNotify(b.collect()))
      .start()
    votesQuery = Some(vq)
    queries = Seq(vq)
    val st = Subscribe.changelogTable(
        Subscribe.fromChangelog(spark, spark.readStream.text(dir), "id"),
        "stories", Map("title" -> "string", "score" -> "long", "version" -> "long"))
      .withColumn("part", pmod(col("key"), lit(8L)))
    val uq = Subscribe.parquetUpsertSink(st, viewPath, s"$work/ckpt-view",
      key = Seq("key"), tsCol = "ts", tiebreak = Seq("version"), partitionCol = "part")
    upsertQuery = Some(uq)
    queries :+= uq
    queries.foreach(_.processAllAvailable())
    val seconds = (System.nanoTime() - t0) / 1e9
    // a query reports a batch's progress just after committing it
    val waitUntil = System.nanoTime() + 2000000000L
    def firstBatchMs(q: StreamingQuery): Option[Long] =
      q.recentProgress.find(_.numInputRows > 0).map(p => java.time.Instant.parse(p.timestamp).toEpochMilli)
    while (queries.exists(q => firstBatchMs(q).isEmpty) && System.nanoTime() < waitUntil) Thread.sleep(10)
    val startS = queries.flatMap(firstBatchMs).maxOption.fold(0.0)(ms => (ms - wall0) / 1e3)
    CatchUp(cfg.backlogFiles.toLong * cfg.eventsPerFile, seconds, startS, seconds - startS)
  }

  private def onNotify(rows: Array[Row]): Unit = {
    val now = System.nanoTime()
    rows.foreach { r =>
      val key = r.getLong(0)
      val sum = r.getLong(1)
      Option(due.get((key, sum))) match {
        case Some((d, tail)) => if (tail) notifyMs.add((now - d) / 1e6)
        case None => badNotes.add(s"($key, $sum) is not a prefix sum the generator wrote")
      }
      notified.merge(key, sum, (a: Long, b: Long) => math.max(a, b))
    }
  }

  private val running = new AtomicReference[Thread]()
  @volatile private var stopping = false

  /** Start the open-loop tail generator. */
  def startTail(): Unit = {
    val period = (1e9 / cfg.filesPerSec).toLong
    val t = new Thread(() => {
      val start = System.nanoTime()
      var i = 0L
      while (!stopping) {
        val sched = start + i * period
        val wait = sched - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        if (!stopping) {
          genLateMsMax = math.max(genLateMsMax, (System.nanoTime() - sched) / 1e6)
          writeFile(sched, tail = true)
          val processed = votesQuery.map(q => rowsRead.getOrDefault(q.id, 0L)).getOrElse(0L)
          backlogFilesMax = math.max(backlogFilesMax,
            (linesWritten.get - processed).toDouble / cfg.eventsPerFile)
          i += 1
        }
      }
    }, "perfbench-generator")
    t.setDaemon(true)
    running.set(t)
    t.start()
  }

  def stopTail(): Unit = {
    stopping = true
    Option(running.get).foreach(_.join())
  }

  def notifyLatencies: Seq[Double] = notifyMs.asScala.toSeq

  /** Drain the consumers and check what they produced. Returns named
    * checks with their failure, if any.
    */
  def drainAndCheck(): Seq[(String, Option[String])] = {
    val drained = try { queries.foreach(_.processAllAvailable()); None }
      catch { case t: Throwable => Some(s"${t.getClass.getName}: ${t.getMessage}") }
    val bad = badNotes.asScala.toSeq
    val notes = if (bad.nonEmpty) Some(s"${bad.size} bad notifications, first ${bad.head}") else None
    val finals = {
      val wrong = voteSum.collect { case (k, s) if notified.getOrDefault(k, -1L) != s => k }
      if (wrong.isEmpty) None
      else Some(s"${wrong.size} keys end on a sum other than the generator's total, e.g. key ${wrong.head}: " +
        s"${notified.getOrDefault(wrong.head, -1L)} vs ${voteSum(wrong.head)}")
    }
    val view = Seq("view_final" -> {
      val got = spark.read.parquet(viewPath).select("key", "title", "score", "version").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      val want = latestStory.toMap
      if (got == want) None
      else Some(s"view has ${got.size} keys, expected ${want.size}; " +
        s"first difference at key ${(got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k)).getOrElse(-1)}")
    })
    Seq("subscription_drain" -> drained, "notifications" -> notes, "final_sums" -> finals) ++ view
  }

  def stateRowsAndBytes: (Double, Double) =
    votesQuery.flatMap(q => Option(q.lastProgress)).flatMap(_.stateOperators.headOption)
      .map(s => (s.numRowsTotal.toDouble, s.memoryUsedBytes.toDouble)).getOrElse((0.0, 0.0))

  def stop(): Unit = {
    stopTail()
    queries.foreach(q => try q.stop() catch { case _: Throwable => () })
    queries.foreach(q => try q.awaitTermination(30000) catch { case _: Throwable => () })
    spark.streams.removeListener(listener)
  }
}

object Subscription {
  /** The feed every workload runs after its clients: a 50k-event
    * backlog, then 8 s at 5,000 events/s (5 files of 1,000), 20% story
    * upserts, keys Zipf(1.1) over 1,000 stories.
    */
  val feed = FeedConfig(keys = 1000, backlogFiles = 50, eventsPerFile = 1000,
    filesPerSec = 5.0, storiesFrac = 0.2, tailSeconds = 8.0)
}
