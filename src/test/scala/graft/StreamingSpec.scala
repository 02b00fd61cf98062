package graft

import graft.streaming.Subscribe
import graft.streaming.Subscribe.CdcRecord
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpecBase {

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  test("incremental sum over a stream matches the batch sum and updates on deltas") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val sums = Subscribe.incrementalSum(
      input.toDF().toDF("user_id", "value"), "user_id", "value")
    val q = sums.writeStream.format("memory").queryName("sums")
      .outputMode("complete").start()
    try {
      // catch-up batch (the reference's State records)
      input.addData((1L, 10.0), (1L, 5.0), (2L, 7.0))
      q.processAllAvailable()
      val afterCatchup = spark.table("sums").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(afterCatchup === Map(1L -> 15.0, 2L -> 7.0))
      // delta (subscribe notification)
      input.addData((1L, 1.0))
      q.processAllAvailable()
      val afterDelta = spark.table("sums").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(afterDelta(1L) === 16.0)
    } finally q.stop()
  }

  test("materialized join upserts per-key state from both tables") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[CdcRecord]
    val joined = Subscribe.materializedJoin(spark, input.toDS(), leftTable = "story")
    val q = joined.toDF().writeStream.format("memory").queryName("joined")
      .outputMode("update").start()
    try {
      input.addData(CdcRecord("story", 1L, ts(0), Map("title" -> "a")))
      q.processAllAvailable()
      input.addData(CdcRecord("vote", 1L, ts(1), Map("vote_sum" -> "3")))
      q.processAllAvailable()
      val rows = spark.table("joined").collect()
      val last = rows.last
      assert(last.getAs[Boolean]("complete"))
      val attrs = last.getAs[Map[String, String]]("attrs")
      assert(attrs === Map("title" -> "a", "vote_sum" -> "3"))
      // delta on an existing key refreshes the merged row
      input.addData(CdcRecord("vote", 1L, ts(2), Map("vote_sum" -> "4")))
      q.processAllAvailable()
      val refreshed = spark.table("joined").collect().last.getAs[Map[String, String]]("attrs")
      assert(refreshed("vote_sum") === "4")
    } finally q.stop()
  }

  test("jdbc-backed CDC: SQL-store snapshot catch-up then binlog-style tail") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // The reference's MySQL datastore driver tails a binlog after a
    // snapshot scan (mysql/store.go). Stand-in: an embedded Derby
    // store read through the jdbc source supplies the catch-up State
    // records; the MemoryStream supplies the tail Delta records.
    val db = s"${java.nio.file.Files.createTempDirectory("graft-cdc")}/store"
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db;create=true")
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE stories (story_id INT, title VARCHAR(64))")
      st.execute("INSERT INTO stories VALUES (1, 'spark')")
      st.execute("INSERT INTO stories VALUES (2, 'catalyst')")
    } finally conn.close()

    val snapshot = graft.qpu.FormatSourceQpu(spark, "jdbc", options = Map(
      "url" -> s"jdbc:derby:$db",
      "dbtable" -> "stories",
      "driver" -> "org.apache.derby.jdbc.EmbeddedDriver")).toDF
      .collect().map(r => CdcRecord("story", r.getInt(0).toLong, ts(0),
        Map("title" -> r.getString(1))))

    val input = MemoryStream[CdcRecord]
    val joined = Subscribe.materializedJoin(spark, input.toDS(), leftTable = "story")
    val q = joined.toDF().writeStream.format("memory").queryName("cdc_joined")
      .outputMode("update").start()
    try {
      input.addData(snapshot.toSeq) // catch-up == the store's snapshot scan
      q.processAllAvailable()
      assert(spark.table("cdc_joined").collect()
        .map(_.getAs[Long]("key")).toSet === Set(1L, 2L))
      // tail: vote deltas upsert into the materialized join state
      input.addData(CdcRecord("vote", 2L, ts(1), Map("vote_sum" -> "9")))
      q.processAllAvailable()
      val row2 = spark.table("cdc_joined").collect()
        .filter(_.getAs[Long]("key") == 2L).last
      assert(row2.getAs[Boolean]("complete"))
      assert(row2.getAs[Map[String, String]]("attrs") ===
        Map("title" -> "catalyst", "vote_sum" -> "9"))
    } finally q.stop()
  }

  test("streaming as-of join answers probes with the latest version at arrival") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[CdcRecord]
    val enriched = Subscribe.streamingAsOfJoin(spark, input.toDS(), dimTable = "dim")
    val q = enriched.toDF().writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      // two versions + one probe between them, all in one batch: the
      // in-batch event-time ordering must resolve the probe to v1
      input.addData(
        CdcRecord("dim", 1L, ts(10), Map("price" -> "100")),
        CdcRecord("probe", 1L, ts(15), Map.empty),
        CdcRecord("dim", 1L, ts(20), Map("price" -> "200")))
      q.processAllAvailable()
      // later probe sees v2; a probe before any version gets None
      input.addData(
        CdcRecord("probe", 1L, ts(25), Map.empty),
        CdcRecord("probe", 2L, ts(5), Map.empty))
      q.processAllAvailable()
      val rows = spark.table("asof_stream").collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[java.sql.Timestamp]("probeTs").getTime / 1000,
          r.getAs[Map[String, String]]("attrs").get("price"))).toSet
      assert(rows === Set(
        (1L, 15L, Some("100")),
        (1L, 25L, Some("200")),
        (2L, 5L, None)))
    } finally q.stop()
  }

  test("parquet upsert sink maintains a latest-per-key table, untouched partitions intact") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert")
    val path = s"$dir/view"; val ckpt = s"$dir/ckpt"
    val input = MemoryStream[(Long, String, Double, java.sql.Timestamp)]
    val q = Subscribe.parquetUpsertSink(
      input.toDF().toDF("k", "part", "value", "ts"), path, ckpt,
      key = Seq("k"), tsCol = "ts", tiebreak = Nil, partitionCol = "part")
    try {
      input.addData((1L, "p1", 10.0, ts(1)), (2L, "p2", 50.0, ts(1)))
      q.processAllAvailable()
      val p2FilesBefore = new java.io.File(s"$path/part=p2").listFiles().map(_.getName).toSet
      // update k1, insert k3 — both in p1; p2 must not be rewritten
      input.addData((1L, "p1", 11.0, ts(2)), (3L, "p1", 99.0, ts(2)))
      q.processAllAvailable()
      val state = spark.read.parquet(path).collect()
        .map(r => r.getAs[Long]("k") -> r.getAs[Double]("value")).toMap
      assert(state === Map(1L -> 11.0, 2L -> 50.0, 3L -> 99.0))
      val p2FilesAfter = new java.io.File(s"$path/part=p2").listFiles().map(_.getName).toSet
      assert(p2FilesAfter === p2FilesBefore,
        "a partition the batch did not touch must keep its exact files")
      // null partition values must be merged, not silently overwritten
      // (a bare isin() drops nulls and would delete key 8 here)
      input.addData((8L, null.asInstanceOf[String], 1.0, ts(3)))
      q.processAllAvailable()
      input.addData((9L, null.asInstanceOf[String], 2.0, ts(4)))
      q.processAllAvailable()
      val nullPart = spark.read.parquet(path)
        .filter(col("part").isNull)
        .collect().map(_.getAs[Long]("k")).toSet
      assert(nullPart === Set(8L, 9L),
        "existing null-partition keys must survive later null-partition batches")
    } finally q.stop()
  }

  test("upsert batch refuses a partition column with per-row cardinality") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-neg")
    val batch = (1L to 50L).map(i => (i, s"part_$i", i * 1.0, ts(i)))
      .toDF("k", "part", "value", "ts")
    // partitionCol == key: every row is its own partition — the
    // driver-side partition-value collect must stop with the named
    // contract error instead of collecting without bound
    val e = intercept[IllegalArgumentException] {
      Subscribe.upsertBatch(batch, s"$dir/view", key = Seq("k"), tsCol = "ts",
        tiebreak = Nil, partitionCol = "part", maxPartitionsPerBatch = 10)
    }
    assert(e.getMessage.contains("low-cardinality"))
  }

  test("upsert read-back keeps string partition values that look numeric") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-leadzero")
    val path = s"$dir/view"
    // '01' would be inferred as int 1 on read-back without the pinned
    // schema, coercing rows into a different partition directory
    val b1 = Seq((1L, "01", 10.0, ts(1)), (2L, "2", 20.0, ts(1)))
      .toDF("k", "part", "value", "ts")
    Subscribe.upsertBatch(b1, path, Seq("k"), "ts", Nil, "part")
    val b2 = Seq((1L, "01", 11.0, ts(2))).toDF("k", "part", "value", "ts")
    val jobs = jobsDuring(Subscribe.upsertBatch(b2, path, Seq("k"), "ts", Nil, "part"))
    assert(jobs <= 3, s"upsertBatch ran $jobs jobs")
    val rows = spark.read.schema(b1.schema).parquet(path).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("part"), r.getAs[Double]("value")))
      .toSet
    assert(rows === Set((1L, "01", 11.0), (2L, "2", 20.0)),
      "leading-zero partition value must stay '01' and hold exactly one row version")
    assert(new java.io.File(s"$path/part=01").exists(), "partition dir keeps raw value")
  }

  test("subscribeTable replays a stored table as a stream (catch-up phase)") {
    val stream = Subscribe.subscribeTable(spark, sf(), "events")
    val agg = Subscribe.incrementalSum(stream, "user_id", "value")
    val q = agg.writeStream.format("memory").queryName("sub_events")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sub_events").collect()
        .map(r => r.getLong(0) -> math.round(r.getDouble(1) * 100)).toMap
      val batch = Tables.load(spark, sf(), "events")
        .groupBy("user_id").sum("value").collect()
        .map(r => r.getLong(0) -> math.round(r.getDouble(1) * 100)).toMap
      assert(streamed === batch, "catch-up must equal the batch snapshot")
    } finally q.stop()
  }

  test("stream-stream interval join with watermarks") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long)]
    val joined = clicks.toDF().toDF("cts", "user")
      .withWatermark("cts", "1 hour")
      .join(buys.toDF().toDF("bts", "buyer").withWatermark("bts", "1 hour"),
        expr("user = buyer AND bts BETWEEN cts AND cts + INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      // base is well past epoch: rows AT the initial watermark (epoch 0)
      // would be dropped as late
      val base = 1000000L
      clicks.addData((ts(base), 1L), (ts(base), 2L))
      buys.addData((ts(base + 600), 1L), (ts(base + 7200), 2L)) // 10 min ok; 2h too late
      q.processAllAvailable()
      val users = spark.table("ssj").collect().map(_.getLong(1))
      assert(users.toSeq === Seq(1L), "only the purchase within 30 minutes joins")
    } finally q.stop()
  }

  test("streaming session windows mirror the batch sessionizer") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val sessions = input.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(org.apache.spark.sql.functions.col("ts"), "30 minutes"),
        org.apache.spark.sql.functions.col("user_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_events"))
    val q = sessions.writeStream.format("memory").queryName("ssw")
      .outputMode("complete").start()
    try {
      // two events 10 min apart (one session), then one 2h later (new session)
      input.addData((ts(0), 1L, 1.0), (ts(600), 1L, 1.0), (ts(7800), 1L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssw").collect()
      assert(rows.length === 2, "gap > 30min must open a second session")
      assert(rows.map(_.getAs[Long]("n_events")).sorted.sameElements(Array(1L, 2L)))
    } finally q.stop()
  }

  test("router QPU fans over streaming children too") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val left = MemoryStream[(Long, String)]
    val right = MemoryStream[(Long, String)]
    val routed = graft.qpu.RouterQpu(Seq(
      graft.qpu.DataFrameQpu(left.toDF().toDF("id", "v")),
      graft.qpu.DataFrameQpu(right.toDF().toDF("id", "v")))).toDF
    val q = routed.writeStream.format("memory").queryName("routed")
      .outputMode("append").start()
    try {
      left.addData((1L, "a")); right.addData((2L, "b"), (3L, "c"))
      q.processAllAvailable()
      assert(spark.table("routed").count() === 3)
    } finally q.stop()
  }

  test("cache invalidates when the subscribed stream delivers updates") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val cache = new graft.qpu.QueryCache()
    val base = Tables.load(spark, sf(), "nation")
    cache.getOrCache("nations", base)
    assert(cache.size === 1)
    // the reference's cache QPU subscribes to its upstream and evicts on
    // notification (cache.go WaitInvalidate); here the notification
    // stream drives invalidate via foreachBatch
    val updates = MemoryStream[Long]
    val q = updates.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) cache.invalidate("nations")
      }.start()
    try {
      updates.addData(1L)
      q.processAllAvailable()
      assert(cache.size === 0, "update notification must evict the cached entry")
    } finally q.stop()
  }

  test("streaming near-dup probe flags incoming dups of the reference, stateless") {
    import graft.operators.Dedup
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different reference content on another topic")
    ).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val probe = Dedup.streamingNearDupProbe(input.toDF().toDF("doc_id", "text"),
      ref, "doc_id", "text", bands = 2, rowsPerBand = 4, num = 4, den = 5)
    val q = probe.writeStream.format("memory").queryName("ndprobe")
      .outputMode("append").start()
    try {
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
        (11L, "zebra yankee xray whiskey victor uniform tango"))      // novel
      q.processAllAvailable()
      val hits = spark.table("ndprobe").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits === Set((10L, 1L)), "only the duplicate pairs with its source")
      // later batches probe independently — no state carried
      input.addData((12L, "completely different reference content on another topic"))
      q.processAllAvailable()
      assert(spark.table("ndprobe").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet === Set((10L, 1L), (12L, 2L)))
    } finally q.stop()
  }

  test("streaming hamming probe flags incoming perceptual dups of the reference, stateless") {
    import graft.operators.{Dedup, Multimodal}
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // reference = decoded dHashes of two catalog images; the stream
    // delivers raw image payloads that decode+hash per micro-batch
    def rec(id: Long, srcId: Long, fmt: String) = Multimodal.MediaRecord(
      id, "image",
      if (fmt == "bmp") Multimodal.bmpBytes(srcId, 8, 6)
      else Multimodal.imageBytes(srcId, 8, 6, fmt), 8, 6, 0L)
    val ref = Multimodal.imageDHash(spark, Seq(rec(1L, 100L, "png"), rec(2L, 200L, "png")).toDS())
      .select(col("doc_id").as("id"), col("dhash").as("hash"))
    val input = MemoryStream[Multimodal.MediaRecord]
    val streamHashes = Multimodal.imageDHash(spark, input.toDS())
      .select(col("doc_id").as("id"), col("dhash").as("hash"))
    val probe = Dedup.streamingHammingProbe(streamHashes, ref, bits = 42, maxHamming = 2)
    val q = probe.writeStream.format("memory").queryName("phashprobe")
      .outputMode("append").start()
    try {
      input.addData(
        rec(10L, 100L, "bmp"),  // format-shifted re-upload of ref 1: hamming 0
        rec(11L, 777L, "png"))  // novel image
      q.processAllAvailable()
      val hits = spark.table("phashprobe").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(hits.map(h => (h._1, h._2)) === Set((10L, 1L)),
        "only the re-encoded duplicate pairs with its reference")
      assert(hits.forall(_._3 === 0), "lossless re-encode is hamming 0")
      // later batches probe independently — no state carried
      input.addData(rec(12L, 200L, "bmp"))
      q.processAllAvailable()
      assert(spark.table("phashprobe").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet === Set((10L, 1L), (12L, 2L)))
    } finally q.stop()
  }

  test("streaming chunk probe == batch probe on the same prefix, stateless") {
    import graft.operators.Dedup
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mk = (n: Int) => (0 until n).map(i => s"tok$i").mkString(" ")
    val ref = Seq(
      (1L, mk(8) + " alpha beta gamma delta"), // chunks: tok0..tok3, tok4..tok7, alpha..delta
      (2L, "epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, mk(4) + " iota kappa lambda mu"), // first chunk known (ref 1), second novel
      (11L, "epsilon zeta eta theta"))        // fully known (ref 2)
    val batch2 = Seq((12L, "nu xi omicron pi")) // fully novel
    val input = MemoryStream[(Long, String)]
    val probe = Dedup.streamingChunkProbe(input.toDF().toDF("doc_id", "text"),
      ref, "doc_id", "text", chunkTokens = 4)
    val q = probe.writeStream.format("memory").queryName("chunkprobe")
      .outputMode("append").start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*) // later batches probe independently — no state
      q.processAllAvailable()
      val streamed = spark.table("chunkprobe").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getAs[Any]("ref_doc_id"),
          r.getBoolean(4))).toSet
      // the batch expectation over the SAME prefix: every chunk joined
      // against the reference ownership table
      val expected = Dedup.streamingChunkProbe((batch1 ++ batch2).toDF("doc_id", "text"),
        ref, "doc_id", "text", chunkTokens = 4).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getAs[Any]("ref_doc_id"),
          r.getBoolean(4))).toSet
      assert(streamed === expected, "streaming flags must equal the batch probe")
      assert(streamed((10L, 0, 1L, false)) && streamed((11L, 0, 2L, false)),
        "known chunks carry their reference owner")
      assert(streamed((10L, 1, null, true)) && streamed((12L, 0, null, true)),
        "novel chunks are flagged with no owner")
    } finally q.stop()
  }

  test("streaming mix probe: thresholds from the reference, batch == streaming, unseen groups kept") {
    import spark.implicits._
    import graft.operators.Sampling
    implicit val sc = spark.sqlContext
    // reference corpus with a skewed group: 30 'en', 5 'fr'
    val ref = ((1L to 30L).map(_ -> "en") ++ (31L to 35L).map(_ -> "fr"))
      .toDF("doc_id", "lang")
    val input = MemoryStream[(Long, String)]
    val probe = Sampling.streamingMixProbe(input.toDF().toDF("doc_id", "lang"),
      ref, "doc_id", "lang", num = 50, den = 100)
    val q = probe.writeStream.format("memory").queryName("mixprobe")
      .outputMode("append").start()
    val batch1 = (100L to 140L).map(id => id -> (if (id % 7 == 0) "fr" else "en"))
    val batch2 = Seq(200L -> "de", 201L -> "de") // group the reference never saw
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("mixprobe").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
      val expected = Sampling.streamingMixProbe(
        (batch1 ++ batch2).toDF("doc_id", "lang"), ref, "doc_id", "lang", 50, 100)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
      assert(streamed === expected, "streaming flags must equal the batch probe")
      assert(streamed((200L, "de", true)) && streamed((201L, "de", true)),
        "groups unseen in the reference keep everything (p = 1)")
      val keptEn = streamed.count(t => t._2 == "en" && t._3)
      val keptFr = streamed.count(t => t._2 == "fr" && t._3)
      assert(keptEn > 0 && keptFr > 0, "both reference groups must pass some rows")
    } finally q.stop()
  }

  test("streaming quality probe: reference quantile bar, batch == streaming, edge scores") {
    import spark.implicits._
    import graft.operators.Sampling
    implicit val sc = spark.sqlContext
    // reference: 10 'en' docs scored 0.0..0.9 — the 30% cut keeps the
    // top 3 (0.9, 0.8, 0.7), so the quality bar is 0.7; 'tiny' keeps
    // floor(2*0.3)=0 rows, so it has NO bar
    val ref = ((1L to 10L).map(id => (id, "en", (id - 1).toDouble / 10.0)) ++
      Seq((11L, "tiny", 0.5), (12L, "tiny", 0.6))).toDF("doc_id", "lang", "score")
    val input = MemoryStream[(Long, String, Double)]
    val probe = Sampling.streamingQualityProbe(
      input.toDF().toDF("doc_id", "lang", "score"), ref,
      "doc_id", "score", "lang", num = 30, den = 100)
    val q = probe.writeStream.format("memory").queryName("qualprobe")
      .outputMode("append").start()
    val batch1 = Seq((100L, "en", 0.71), (101L, "en", 0.7), (102L, "en", 0.69),
      (103L, "en", Double.NaN))
    val batch2 = Seq((200L, "de", 0.01), (201L, "tiny", 0.0))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("qualprobe").collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(streamed === Map(100L -> true, 101L -> true, 102L -> false,
        103L -> false, 200L -> true, 201L -> true),
        "threshold semantics: ties kept, below-bar dropped, NaN never kept, " +
          "unseen/empty-cut groups keep everything")
      val batchFlags = Sampling.streamingQualityProbe(
        (batch1 ++ batch2).toDF("doc_id", "lang", "score"), ref,
        "doc_id", "score", "lang", 30, 100)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(streamed === batchFlags, "streaming flags must equal the batch probe")
    } finally q.stop()
  }

  test("sliding windows run unchanged on a stream — stateless per-row chunking") {
    import spark.implicits._
    import graft.operators.Pack
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val windows = Pack.slidingWindows(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", windowTokens = 4, strideTokens = 2)
    val q = windows.writeStream.format("memory").queryName("slidewin")
      .outputMode("append").start()
    val docs = Seq(1L -> "t0 t1 t2 t3 t4 t5 t6", 2L -> "solo")
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("slidewin").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
      val batch = Pack.slidingWindows(docs.toDF("doc_id", "text"),
        "doc_id", "text", 4, 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
      assert(streamed === batch, "chunking is per-row, so streaming == batch exactly")
    } finally q.stop()
  }

  test("windowed sum with watermark bounds state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val sums = Subscribe.windowedSum(input.toDF().toDF("ts", "user_id", "value"),
      "ts", "user_id", "value", "1 hour", "2 hours")
    val q = sums.writeStream.format("memory").queryName("wsums")
      .outputMode("update").start()
    try {
      input.addData((ts(0), 1L, 2.0), (ts(1800), 1L, 3.0), (ts(3700), 1L, 4.0))
      q.processAllAvailable()
      val rows = spark.table("wsums").collect()
      val byWindow = rows.map(r => r.getStruct(0).getTimestamp(0).getTime / 1000 -> r.getDouble(2)).toMap
      assert(byWindow(0L) === 5.0, "first hour sums 2+3")
      assert(byWindow(3600L) === 4.0)
    } finally q.stop()
  }

  test("changelog CDC: Debezium envelopes parse and drive the incremental sum") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def env(op: String, ts: Long, table: String, kv: (String, String)*): String = {
      val fields = kv.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
      val body = if (op == "d") s""""before":{$fields}""" else s""""after":{$fields}"""
      s"""{"payload":{"op":"$op","ts_ms":$ts,"source":{"table":"$table"},$body}}"""
    }
    val input = MemoryStream[String]
    val records = Subscribe.fromChangelog(spark, input.toDF(), keyField = "id")
    val sums = Subscribe.incrementalSum(
      Subscribe.changelogTable(records, "orders", Map("value" -> "double")),
      "key", "value")
    val q = sums.writeStream.format("memory").queryName("cdc_sums")
      .outputMode("complete").start()
    try {
      // snapshot phase: op=r records (Debezium's initial-load marker)
      input.addData(
        env("r", 1000, "orders", "id" -> "1", "value" -> "2.5"),
        env("r", 1001, "orders", "id" -> "2", "value" -> "4.0"),
        env("r", 1002, "other", "id" -> "1", "value" -> "99.0"), // different table: ignored
        "not json at all", // noise lines must not kill the stream
        // malformed ENVELOPES (missing / non-numeric key) must drop
        // like noise — a null key would wedge every typed consumer
        env("c", 1003, "orders", "value" -> "7.0"),
        env("c", 1004, "orders", "id" -> "abc", "value" -> "8.0"))
      q.processAllAvailable()
      val snap = spark.table("cdc_sums").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(snap === Map(1L -> 2.5, 2L -> 4.0), "snapshot catch-up")
      // binlog tail: inserts and updates accumulate, tombstones excluded
      input.addData(
        env("c", 2000, "orders", "id" -> "1", "value" -> "1.5"),
        env("u", 2001, "orders", "id" -> "2", "value" -> "6.0"),
        env("d", 2002, "orders", "id" -> "9", "value" -> "123.0"))
      q.processAllAvailable()
      val tailed = spark.table("cdc_sums").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(tailed === Map(1L -> 4.0, 2L -> 10.0),
        "incremental sum over the changelog equals the batch replay")
    } finally q.stop()
  }

  test("changelog CDC: two tables' changelogs drive the materialized join") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def env(op: String, ts: Long, table: String, kv: (String, String)*): String = {
      val fields = kv.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
      s"""{"payload":{"op":"$op","ts_ms":$ts,"source":{"table":"$table"},"after":{$fields}}}"""
    }
    val input = MemoryStream[String]
    val records = Subscribe.fromChangelog(spark, input.toDF(), keyField = "id")
    val joined = Subscribe.materializedJoin(spark, records, leftTable = "customer")
    val q = joined.writeStream.format("memory").queryName("cdc_join")
      .outputMode("update").start()
    try {
      input.addData(env("c", 1000, "customer", "id" -> "7", "name" -> "acme"))
      q.processAllAvailable()
      input.addData(env("c", 1001, "orders", "id" -> "7", "total" -> "42"))
      q.processAllAvailable()
      val rows = spark.table("cdc_join").collect()
        .map(r => (r.getLong(0), r.getAs[Map[String, String]](1), r.getBoolean(2)))
      assert(rows.exists { case (k, attrs, complete) =>
        k == 7L && complete && attrs.get("name").contains("acme") &&
          attrs.get("total").contains("42")
      }, s"merged row from both changelogs, got: ${rows.mkString("; ")}")
      assert(rows.exists { case (k, _, complete) => k == 7L && !complete },
        "the half-open row (customer only) was emitted first")
    } finally q.stop()
  }

  test("incremental sum and upsert sink resume from their checkpoints after a restart") {
    import java.nio.file.{Files, StandardCopyOption}
    val dir = Files.createTempDirectory("graft-restart")
    val feed = Files.createDirectories(dir.resolve("feed"))
    val staging = Files.createDirectories(dir.resolve("staging"))
    val view = s"$dir/view"
    val sums = scala.collection.mutable.Map.empty[Long, Long]
    val latest = scala.collection.mutable.Map.empty[Long, (String, Long)]
    var seq = 0
    // one changelog file per batch, moved in whole like a producer's commit
    def writeFile(): Unit = {
      seq += 1
      val lines = (0 until 20).map { i =>
        val key = ((seq * 7 + i) % 5).toLong
        val ts = seq * 1000L + i
        if (i % 8 == 0) {
          val version = seq * 100L + i
          latest(key) = (s"t$version", version)
          s"""{"payload":{"op":"u","ts_ms":$ts,"source":{"table":"stories"},""" +
            s""""after":{"id":"$key","title":"t$version","version":"$version"}}}"""
        } else {
          val inc = (seq + i).toLong
          sums(key) = sums.getOrElse(key, 0L) + inc
          s"""{"payload":{"op":"c","ts_ms":$ts,"source":{"table":"votes"},""" +
            s""""after":{"id":"$key","inc":"$inc"}}}"""
        }
      }
      val tmp = staging.resolve(f"f-$seq%04d.json")
      Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.move(tmp, feed.resolve(tmp.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    def records = Subscribe.fromChangelog(spark, spark.readStream.text(feed.toString), "id")
    def startSums() = Subscribe.incrementalSum(
        Subscribe.changelogTable(records, "votes", Map("inc" -> "long")), "key", "inc")
      .writeStream.format("memory").queryName("restart_sums").outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt-votes").start()
    def startView() = Subscribe.parquetUpsertSink(
      Subscribe.changelogTable(records, "stories",
        Map("title" -> "string", "version" -> "long"))
        .withColumn("part", pmod(col("key"), lit(2L))),
      view, s"$dir/ckpt-view", key = Seq("key"), tsCol = "ts",
      tiebreak = Seq("version"), partitionCol = "part")
    def batchIds(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Long] =
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    def run(n: Int): Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
      val qs = Seq(startSums(), startView())
      try (1 to n).foreach { _ => writeFile(); qs.foreach(_.processAllAvailable()) }
      finally qs.foreach(_.stop())
      qs
    }

    val first = run(3)
    assert(first.map(batchIds) === Seq(Seq(0L, 1L, 2L), Seq(0L, 1L, 2L)))
    // the restarted queries reload offsets, commits, the file source's
    // seen-file log and the state-store deltas: they resume at batch 3,
    // replay no file, and the running sums carry the first run's state
    val second = run(2)
    assert(second.map(batchIds) === Seq(Seq(3L, 4L), Seq(3L, 4L)))
    val got = spark.table("restart_sums").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === sums.toMap, "complete-mode sums after the restart")
    val rows = spark.read.parquet(view).collect()
      .map(r => r.getAs[Long]("key") -> (r.getAs[String]("title"), r.getAs[Long]("version")))
    assert(rows.length === latest.size, "one view row per story")
    assert(rows.toMap === latest.toMap, "the view holds each story's latest version")
  }

  test("object store: atomic puts, snapshot listing, batch read-back") {
    import graft.sources.ObjectStore
    val bucket = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val nation = Tables.load(spark, sf(), "nation")
    ObjectStore.put(spark, bucket, "n1.parquet", nation.filter(col("n_nationkey") < 10))
    ObjectStore.put(spark, bucket, "n2.parquet", nation.filter(col("n_nationkey") >= 10))
    val listing = ObjectStore.list(spark, bucket).collect()
    assert(listing.map(_.getString(0)).toSet === Set("n1.parquet", "n2.parquet"))
    assert(listing.forall(_.getLong(1) > 0), "listed objects carry real sizes")
    assert(ObjectStore.read(spark, bucket).count() === nation.count(),
      "batch read over the bucket sees every committed object")
    // objects are immutable: a repeat PUT is refused unless the caller
    // opts into batch-side overwrite, which replaces without duplicating
    val dup = intercept[IllegalArgumentException] {
      ObjectStore.put(spark, bucket, "n1.parquet", nation.filter(col("n_nationkey") < 10))
    }
    assert(dup.getMessage.contains("immutable"))
    ObjectStore.put(spark, bucket, "n1.parquet",
      nation.filter(col("n_nationkey") < 10), overwrite = true)
    assert(ObjectStore.read(spark, bucket).count() === nation.count())
  }

  test("object store subscribe: State catch-up, then Delta tail of mid-stream arrivals") {
    import graft.sources.ObjectStore
    import graft.streaming.StreamingMetrics
    val bucket = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val events = Tables.load(spark, sf(), "events")
    // two objects exist BEFORE the subscriber attaches -> State phase
    ObjectStore.put(spark, bucket, "a.parquet", events.filter(col("event_id") % 3 === 0))
    ObjectStore.put(spark, bucket, "b.parquet", events.filter(col("event_id") % 3 === 1))
    // notification latency measured on the arrival tail itself — the
    // reference's measurement point (S3 op delivery)
    val tracker = StreamingMetrics.attach(spark, queryName = Some("bucket_tail"))
    val stream = ObjectStore.subscribe(spark, bucket,
      ObjectStore.read(spark, bucket).schema)
    val q = stream.writeStream.format("memory").queryName("bucket_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val catchup = spark.table("bucket_tail").groupBy("_phase").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val preCount = events.filter(col("event_id") % 3 =!= 2).count()
      assert(catchup === Map("state" -> preCount),
        "catch-up phase must replay exactly the subscribe-time objects as State")
      // a third object arrives MID-STREAM -> Delta phase
      ObjectStore.put(spark, bucket, "c.parquet", events.filter(col("event_id") % 3 === 2))
      q.processAllAvailable()
      val phases = spark.table("bucket_tail").groupBy("_phase").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(phases("state") === preCount, "State rows are not re-emitted")
      assert(phases("delta") === events.count() - preCount,
        "the tail delivers exactly the new object's rows as Delta")
      val objects = spark.table("bucket_tail").select("_object").distinct()
        .collect().map(_.getString(0)).toSet
      assert(objects === Set("a.parquet", "b.parquet", "c.parquet"))
      // end-to-end: stream contents == batch re-read of the bucket
      assert(spark.table("bucket_tail").count() ===
        ObjectStore.read(spark, bucket).count(),
        "subscribe stream must equal the batch snapshot after the tail")
      // delivery latency was recorded per micro-batch for this
      // subscription (catch-up + the mid-stream arrival)
      val withRows = tracker.batches.filter(_.inputRows > 0)
      assert(withRows.size >= 2 && withRows.forall(_.triggerMs > 0),
        s"arrival batches must carry trigger latency: ${tracker.batches}")
      assert(tracker.percentiles(Seq(0.5)).nonEmpty)
    } finally {
      q.stop()
      graft.streaming.StreamingMetrics.detach(spark, tracker)
    }
  }

  test("streaming stratified exact-k sample == batch exactKSample per group on the same prefix") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = (1L to 300L).map(i => (s"g${i % 2}", i))
    val input = MemoryStream[(String, Long)]
    val out = graft.streaming.StreamingSketch.streamingExactKSample(
      input.toDF().toDF("grp", "id"), "grp", "id", k = 8)
    val q = out.writeStream.format("memory").queryName("xksample")
      .outputMode("update").start()
    try {
      input.addData(rows.take(180): _*)
      q.processAllAvailable()
      input.addData(rows.drop(180): _*) // later ids must evict larger hashes
      q.processAllAvailable()
      // the sample per group only ever improves (k smallest hashes),
      // so the final membership is the k smallest (hash, id) across
      // every emission — sink row order never matters
      val emitted = spark.table("xksample").collect()
        .map(r => (r.getString(0), r.getAs[Long]("sample_hash"), r.getAs[Long]("id")))
      val streaming = emitted.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(v => (v._2, v._3)).distinct.sorted.take(8).map(_._2).toSet
      }
      Seq("g0", "g1").foreach { g =>
        val batch = graft.operators.Sampling.exactKSample(
          rows.filter(_._1 == g).toDF("grp", "id"), "id", k = 8)
          .as[Long].collect().toSet
        assert(streaming(g) === batch,
          s"group $g: streaming sample ${streaming(g)} != batch $batch")
        assert(streaming(g).size === 8)
      }
      // state actually merged across batches: at least one first-batch
      // emission for some group is absent from the final membership
      val firstBatchOnly = emitted.map(e => (e._1, e._3)).toSet
        .diff(streaming.flatMap { case (g, ids) => ids.map((g, _)) }.toSet)
      assert(firstBatchOnly.nonEmpty,
        "across 300 ids some early sample member should have been evicted")
    } finally q.stop()
  }
}
