package graft

import org.apache.spark.sql.functions._

import graft.operators.Ivm

/** Batch incremental view maintenance: every refresh path is pinned
  * EQUAL to full recompute — the defining contract of IVM.
  */
class IvmSpec extends SparkSpecBase {

  private def ordersCents = Tables.load(spark, sf(), "orders")
    .select(col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))

  test("group-by-sum delta refresh equals full recompute (inserts, deletes, vanishing + new groups)") {
    val ord = ordersCents
    // state over the "yesterday" snapshot; delta = today's CDC extract
    val state = Ivm.groupState(ord.filter(col("o_orderkey") % 10 =!= 0),
      Seq("o_custkey"), "cents")
    val ins = ord.filter(col("o_orderkey") % 10 === 0).withColumn("__op", lit("I"))
    val del = ord.filter(col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 7 === 0)
      .withColumn("__op", lit("D"))
    val refreshed = Ivm.applyGroupDelta(state, ins.unionByName(del), "__op",
      Seq("o_custkey"), "cents")
    val recomputed = Ivm.groupState(
      ord.filter(col("o_orderkey") % 10 === 0 || col("o_orderkey") % 7 =!= 0),
      Seq("o_custkey"), "cents")
    assert(refreshed.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(refreshed).isEmpty,
      "incremental refresh must equal recompute from scratch")
  }

  test("group-by-sum delta: a group deleted to zero vanishes; a brand-new key appears") {
    import spark.implicits._
    val base = Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("k", "v")
    val state = Ivm.groupState(base, Seq("k"), "v")
    val delta = Seq(("D", 2L, 5L), ("I", 3L, 7L)).toDF("__op", "k", "v")
    val out = Ivm.applyGroupDelta(state, delta, "__op", Seq("k"), "v")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(1L -> (30L, 2L), 3L -> (7L, 1L)),
      s"group 2 must vanish, group 3 must appear: $out")
  }

  test("group-by-sum delta: corrupt feeds fail loudly") {
    import spark.implicits._
    val state = Ivm.groupState(Seq((1L, 10L)).toDF("k", "v"), Seq("k"), "v")
    // deleting a row the state never had drives the count negative
    val badDelete = Seq(("D", 9L, 1L), ("D", 9L, 2L)).toDF("__op", "k", "v")
    val e1 = intercept[Exception] {
      Ivm.applyGroupDelta(state, badDelete, "__op", Seq("k"), "v").collect()
    }
    assert(e1.getMessage.contains("negative") || e1.getCause != null)
    // an op outside {I, D} is rejected, not silently dropped
    val badOp = Seq(("U", 1L, 1L)).toDF("__op", "k", "v")
    val e2 = intercept[Exception] {
      Ivm.applyGroupDelta(state, badOp, "__op", Seq("k"), "v").collect()
    }
    assert(e2.getMessage.contains("I or D") ||
      String.valueOf(e2.getCause).contains("I or D"))
  }

  test("materialized-join delta refresh equals full recompute (ΔR ⋈ S, never R)") {
    val ord = ordersCents
    val cust = Tables.load(spark, sf(), "customer").select("c_custkey", "c_nationkey")
    val oldR = ord.filter(col("o_orderkey") % 10 =!= 0)
    val mat = oldR.join(cust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_custkey", "cents", "c_custkey", "c_nationkey")
    val delta = ord.filter(col("o_orderkey") % 10 === 0).withColumn("__op", lit("I"))
      .unionByName(ord.filter(col("o_orderkey") % 10 =!= 0 && col("o_orderkey") % 7 === 0)
        .withColumn("__op", lit("D")))
    // join the DELTA against the dimension; the old fact side is not re-read
    val refreshed = Ivm.applyJoinDelta(mat, delta, "__op", "o_orderkey",
      cust.withColumnRenamed("c_custkey", "o_custkey")
        .withColumn("c_custkey", col("o_custkey")), "o_custkey")
    val recomputed = ord.filter(col("o_orderkey") % 10 === 0 || col("o_orderkey") % 7 =!= 0)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_custkey", "cents", "c_custkey", "c_nationkey")
    assert(refreshed.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(refreshed).isEmpty,
      "join IVM must equal the recomputed join")
  }

  test("join delta: intra-batch insert-then-delete nets to a no-op (order-insensitive batch)") {
    import spark.implicits._
    val dim = Seq((100L, "x"), (200L, "y")).toDF("k", "attr")
    val matJoin = Seq((1L, 100L, "x")).toDF("id", "k", "attr")
    // row 2 is inserted AND deleted within the batch — recompute over the
    // post-delta base never sees it, so neither may the maintained join;
    // row 3 survives; row 1 is updated (D old + I new content)
    val delta = Seq(
      ("I", 2L, 200L), ("D", 2L, 200L),
      ("I", 3L, 100L),
      ("D", 1L, 100L), ("I", 1L, 200L)).toDF("__op", "id", "k")
    val out = Ivm.applyJoinDelta(matJoin, delta, "__op", "id", dim, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out === Set((3L, 100L, "x"), (1L, 200L, "y")),
      s"I-then-D must vanish, the update must land once: $out")
  }

  test("two-sided join IVM equals recompute: many-to-many keys, deltas on both sides") {
    val cust = Tables.load(spark, sf(), "customer")
      .select(col("c_custkey"), col("c_nationkey").as("nationkey"))
    val supp = Tables.load(spark, sf(), "supplier")
      .select(col("s_suppkey"), col("s_nationkey").as("nationkey"))
    val rState = cust.filter(col("c_custkey") % 4 =!= 0)
    val sState = supp.filter(col("s_suppkey") % 3 =!= 0)
    val deltaR = cust.filter(col("c_custkey") % 4 === 0).withColumn("__op", lit("I"))
      .unionByName(cust.filter(col("c_custkey") % 4 =!= 0 && col("c_custkey") % 9 === 0)
        .withColumn("__op", lit("D")))
      .unionByName(cust.filter(col("c_custkey") % 4 === 0 && col("c_custkey") % 10 === 0)
        .withColumn("__op", lit("D"))) // intra-batch I-then-D
    val deltaS = supp.filter(col("s_suppkey") % 3 === 0).withColumn("__op", lit("I"))
      .unionByName(supp.filter(col("s_suppkey") % 3 =!= 0 && col("s_suppkey") % 7 === 0)
        .withColumn("__op", lit("D")))
    val matJoin = rState.join(sState, "nationkey")
    val refreshed = Ivm.applyTwoSidedJoinDelta(matJoin, rState, deltaR, sState, deltaS,
      "__op", "c_custkey", "s_suppkey", "nationkey")
    val rPost = cust.filter((col("c_custkey") % 4 =!= 0 && col("c_custkey") % 9 =!= 0) ||
      (col("c_custkey") % 4 === 0 && col("c_custkey") % 10 =!= 0))
    val sPost = supp.filter((col("s_suppkey") % 3 =!= 0 && col("s_suppkey") % 7 =!= 0) ||
      col("s_suppkey") % 3 === 0)
    val recomputed = rPost.join(sPost, "nationkey")
      .select(refreshed.columns.map(col): _*)
    assert(refreshed.exceptAll(recomputed).isEmpty &&
      recomputed.exceptAll(refreshed).isEmpty,
      "two-sided join IVM must equal the recomputed join")
  }

  test("two-sided join IVM: a join-key-changing update migrates the row between key groups") {
    import spark.implicits._
    val rState = Seq((1L, 10L, "r1"), (2L, 20L, "r2")).toDF("rid", "k", "rv")
    val sState = Seq((7L, 10L, "s7"), (8L, 20L, "s8"), (9L, 20L, "s9"))
      .toDF("sid", "k", "sv")
    val matJoin = rState.join(sState, "k")
    // row 1 moves from key 10 to key 20: it must LEAVE s7 and JOIN s8+s9
    val deltaR = Seq(("D", 1L, 10L, "r1"), ("I", 1L, 20L, "r1"))
      .toDF("__op", "rid", "k", "rv")
    val deltaS = Seq.empty[(String, Long, Long, String)].toDF("__op", "sid", "k", "sv")
    val out = Ivm.applyTwoSidedJoinDelta(matJoin, rState, deltaR, sState,
        deltaS, "__op", "rid", "sid", "k")
      .select("rid", "sid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 8L), (1L, 9L), (2L, 8L), (2L, 9L)),
      s"key-changing update must re-home the row: $out")
  }

  test("parquet-backed JOIN refresh rewrites only touched buckets, drops emptied ones, equals recompute") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivm-join").toString
    val path = s"$dir/matjoin"
    val cust = Tables.load(spark, sf(), "customer")
      .select(col("c_custkey"), col("c_nationkey").as("nationkey"))
    val supp = Tables.load(spark, sf(), "supplier")
      .select(col("s_suppkey"), col("s_nationkey").as("nationkey"))
    val rState = cust.filter(col("c_custkey") % 4 =!= 0)
    val sState = supp.filter(col("s_suppkey") % 3 =!= 0)
    val nBuckets = 8
    Ivm.writeJoinTable(path, rState, sState, "nationkey", nBuckets)
    def files(): Map[String, Long] = {
      val root = new java.io.File(path)
      root.listFiles().filter(_.getName.startsWith("__jb=")).flatMap { d =>
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${d.getName}/${f.getName}" -> f.lastModified())
      }.toMap
    }
    val before = files()
    // delta confined to ONE nation (one join-key bucket): nation 7
    // customers churn; every other bucket's files must not move
    val deltaR = cust.filter(col("nationkey") === 7 && col("c_custkey") % 4 === 0)
      .withColumn("__op", lit("I"))
      .unionByName(cust.filter(col("nationkey") === 7 &&
          col("c_custkey") % 4 =!= 0 && col("c_custkey") % 9 === 0)
        .withColumn("__op", lit("D")))
    val deltaS = supp.filter(col("nationkey") === 7 && col("s_suppkey") % 3 === 0)
      .withColumn("__op", lit("I")).limit(0) // S delta empty this batch
    Ivm.refreshJoinTable(path, rState, deltaR, sState, deltaS,
      "__op", "c_custkey", "s_suppkey", "nationkey", nBuckets)
    val after = files()
    val jb7 = cust.filter(col("nationkey") === 7).limit(1)
      .select(Ivm.joinBucket("nationkey", nBuckets)).collect().head.getInt(0)
    before.keys.filterNot(_.startsWith(s"__jb=$jb7/")).foreach { f =>
      assert(after.get(f) === before.get(f), s"untouched bucket file moved: $f")
    }
    // table equals recompute over the post-delta sides
    val rPost = cust.filter(!(col("nationkey") === 7 && col("c_custkey") % 4 =!= 0 &&
        col("c_custkey") % 9 === 0) &&
        (col("c_custkey") % 4 =!= 0 || (col("nationkey") === 7 && col("c_custkey") % 4 === 0)))
    val expect = rPost.join(sState, "nationkey")
    val got = spark.read.parquet(path).drop("__jb")
      .select(expect.columns.map(col): _*)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "refreshed join table must equal recompute")
    // a second batch into a bucket that holds joined rows (nation 12 has
    // a supplier in S): the merge is not empty, and the surviving
    // buckets are observed by the checkpoint job, not a collect of their own
    val deltaR2 = cust.filter(col("nationkey") === 12 && col("c_custkey") % 4 === 0)
      .withColumn("__op", lit("I"))
    val jobs = jobsDuring {
      Ivm.refreshJoinTable(path, rPost, deltaR2, sState, deltaS,
        "__op", "c_custkey", "s_suppkey", "nationkey", nBuckets)
    }
    assert(jobs <= 7, s"refreshJoinTable ran $jobs jobs")
    val expect2 = rPost.unionByName(deltaR2.drop("__op")).join(sState, "nationkey")
    val got2 = spark.read.parquet(path).drop("__jb")
      .select(expect2.columns.map(col): _*)
    assert(got2.exceptAll(expect2).isEmpty && expect2.exceptAll(got2).isEmpty,
      "second refresh must equal recompute")
  }

  test("vanished-partition cleanup escapes Hive path characters (space, colon, slash, percent)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivm-esc").toString
    val path = s"$dir/state"
    // partition values that differ on disk from their raw form
    val base = Seq(("a b:c/d%e", 1L, 10L), ("plain", 2L, 20L)).toDF("pc", "k", "v")
    Ivm.groupState(base, Seq("pc", "k"), "v").write.partitionBy("pc").parquet(path)
    val dirsBefore = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("pc="))
    assert(dirsBefore.length === 2, s"writer must create 2 partition dirs: ${dirsBefore.toSeq}")
    // delete the tricky partition's only group → the escaped dir must go
    val delta = Seq(("D", "a b:c/d%e", 1L, 10L)).toDF("__op", "pc", "k", "v")
    Ivm.refreshGroupBySumTable(path, delta, "__op", Seq("pc", "k"), "v", "pc")
    val dirsAfter = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("pc="))
    assert(dirsAfter.toSeq === Seq("pc=plain"),
      s"escaped vanished partition must be dropped from disk: ${dirsAfter.toSeq}")
    val left = spark.read.parquet(path).select("k").as[Long].collect().toSet
    assert(left === Set(2L), "only the surviving group remains")
    // null and "" both land in the writer's default-partition directory
    Seq(null, "").foreach { v =>
      assert(Ivm.partitionDirName("p", v) === "p=__HIVE_DEFAULT_PARTITION__", s"value '$v'")
    }
  }

  test("vanished-partition cleanup rejects writer-formatted types (date) up front") {
    val e = intercept[IllegalArgumentException] {
      Ivm.partitionDirName("d", java.sql.Date.valueOf("2026-01-01"))
    }
    assert(e.getMessage.contains("integral/string/boolean"))
  }

  test("parquet-backed refresh rewrites ONLY touched partitions and drops vanished ones") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivm").toString
    val path = s"$dir/state"
    // initial state across 4 partitions of key-bucket `pb`
    val base = Seq(
      (0L, 1L, 10L), (0L, 2L, 20L), // pb 0
      (1L, 11L, 30L),               // pb 1
      (2L, 21L, 40L),               // pb 2
      (3L, 31L, 50L))               // pb 3
      .toDF("pb", "k", "v")
    Ivm.groupState(base, Seq("pb", "k"), "v")
      .write.partitionBy("pb").parquet(path)
    def files(): Map[String, Long] = {
      val fs = new java.io.File(path)
      fs.listFiles().filter(_.getName.startsWith("pb=")).flatMap { d =>
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${d.getName}/${f.getName}" -> f.lastModified())
      }.toMap
    }
    val before = files()
    // delta: touch pb 0 (update), empty out pb 2 entirely, leave 1 and 3 alone
    val delta = Seq(("I", 0L, 1L, 5L), ("D", 2L, 21L, 40L))
      .toDF("__op", "pb", "k", "v")
    val jobs = jobsDuring {
      Ivm.refreshGroupBySumTable(path, delta, "__op", Seq("pb", "k"), "v", "pb")
    }
    assert(jobs <= 6, s"refreshGroupBySumTable ran $jobs jobs")
    val after = files()
    // untouched partitions: identical files, untouched on disk
    Seq("pb=1", "pb=3").foreach { p =>
      val b = before.filter(_._1.startsWith(p)); val a = after.filter(_._1.startsWith(p))
      assert(a === b, s"$p must not be rewritten: before=$b after=$a")
    }
    assert(!after.keys.exists(_.startsWith("pb=2")),
      "a partition whose groups all vanished must be dropped from disk")
    // and the table equals full recompute over the post-delta base
    val expect = Ivm.groupState(
      base.filter(col("pb") =!= 2L).unionByName(Seq((0L, 1L, 5L)).toDF("pb", "k", "v")),
      Seq("pb", "k"), "v")
    // schema pinned: partition-dir inference would retype pb LONG → INT
    val got = spark.read.schema(expect.schema).parquet(path)
      .select("pb", "k", "sum_v", "n_rows")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "refreshed table must equal recompute")
  }

  test("keyed MERGE: upsert + delete semantics, touched-bucket-only IO, batch guards") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivm-merge").toString
    val path = s"$dir/tbl"
    val nb = 32
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, "d", 40L), (5L, "e", 50L)).toDF("k", "name", "v")
    Ivm.writeKeyedTable(path, base, "k", nb)
    def files(): Map[String, Long] = {
      val root = new java.io.File(path)
      root.listFiles().filter(_.getName.startsWith("__kb=")).flatMap { d =>
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${d.getName}/${f.getName}" -> f.lastModified())
      }.toMap
    }
    val before = files()
    val bucketOf = base.select(col("k"),
        org.apache.spark.sql.functions.pmod(hash(col("k")), lit(nb)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // update 1, delete 3, insert 9 — the MERGE INTO triple
    val changes = Seq((1L, "a2", 11L, "U"), (3L, "zz", 0L, "D"),
      (9L, "i", 90L, "I")).toDF("k", "name", "v", "op")
    val jobs = jobsDuring(Ivm.mergeKeyedTable(path, changes, "op", "k", nb))
    assert(jobs <= 7, s"mergeKeyedTable ran $jobs jobs")
    val got = spark.read.parquet(path).drop("__kb")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1L, "a2", 11L), (2L, "b", 20L), (4L, "d", 40L),
      (5L, "e", 50L), (9L, "i", 90L)), s"merge result: $got")
    // untouched buckets' files never moved
    val touchedB = changes.select(
        org.apache.spark.sql.functions.pmod(hash(col("k")), lit(nb)).as("b"))
      .collect().map(_.getInt(0)).toSet
    val after = files()
    before.keys.filterNot(f => touchedB.exists(b => f.startsWith(s"__kb=$b/")))
      .foreach { f =>
        assert(after.get(f) === before.get(f), s"untouched bucket file moved: $f")
      }
    // a key alone in its bucket, deleted → its bucket directory vanishes
    val lone = bucketOf.find { case (k, b) =>
      k != 3L && bucketOf.values.count(_ == b) == 1 && !touchedB.contains(b) }
    lone.foreach { case (k, b) =>
      Ivm.mergeKeyedTable(path,
        Seq((k, "x", 0L, "D")).toDF("k", "name", "v", "op"), "op", "k", nb)
      assert(!new java.io.File(path, s"__kb=$b").exists(),
        s"emptied bucket __kb=$b must be dropped")
    }
    // guards: two changes to one key, and NULL keys, both refuse
    intercept[IllegalArgumentException] {
      Ivm.mergeKeyedTable(path, Seq((2L, "x", 1L, "U"), (2L, "y", 2L, "U"))
        .toDF("k", "name", "v", "op"), "op", "k", nb)
    }
    intercept[IllegalArgumentException] {
      Ivm.mergeKeyedTable(path,
        Seq((Option.empty[Long], "x", 1L, "U")).toDF("k", "name", "v", "op"),
        "op", "k", nb)
    }
  }

  test("topk IVM: insert/delete maintenance equals recompute until underflow flags") {
    import spark.implicits._
    val k = 2; val b = 2
    // base: group A values 50,40,30,20 (retained all 4 = k+b), B: 9,8
    val state = Seq(("A", 1L, 50L), ("A", 2L, 40L), ("A", 3L, 30L), ("A", 4L, 20L),
      ("B", 10L, 9L), ("B", 11L, 8L)).toDF("g", "id", "v")
    // insert a new top row into A; delete one mid row; B untouched
    val delta = Seq(("I", "A", 5L, 45L), ("D", "A", 3L, 30L))
      .toDF("op", "g", "id", "v")
    val out = Ivm.applyTopKDelta(state, delta, "op", "g", "id", "v", k, b)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    // A retained (k+b=4): 50,45,40,20 — no flag (still >= k after delete)
    assert(out(("A", 1L))._1 === 50L && out(("A", 5L))._1 === 45L &&
      out(("A", 2L))._1 === 40L && out(("A", 4L))._1 === 20L)
    assert(!out.exists { case ((g, _), (_, f)) => g == "A" && f }, "A not flagged")
    assert(out(("B", 10L))._1 === 9L && !out(("B", 10L))._2, "B untouched")
    assert(out.size === 6)

    // delete storm: kill 3 of A's 4 retained -> 1 < k -> flagged
    val storm = Seq(("D", "A", 1L, 50L), ("D", "A", 2L, 40L), ("D", "A", 4L, 20L))
      .toDF("op", "g", "id", "v")
    val st2 = Seq(("A", 1L, 50L), ("A", 2L, 40L), ("A", 3L, 30L), ("A", 4L, 20L))
      .toDF("g", "id", "v")
    val flagged = Ivm.applyTopKDelta(st2, storm, "op", "g", "id", "v", k, b).collect()
    assert(flagged.length === 1 && flagged(0).getLong(1) === 3L &&
      flagged(0).getBoolean(3), "survivor carries the recompute flag")

    // total wipe-out: the group may owe trimmed rows — NULL carrier row
    val wipe = Seq(("D", "A", 1L, 50L), ("D", "A", 2L, 40L), ("D", "A", 3L, 30L),
      ("D", "A", 4L, 20L)).toDF("op", "g", "id", "v")
    val gone = Ivm.applyTopKDelta(st2, wipe, "op", "g", "id", "v", k, b).collect()
    assert(gone.length === 1 && gone(0).isNullAt(1) && gone(0).getBoolean(3),
      "vanished group cannot disappear unflagged")

    // ADVICE r10 counterexample: inserts refilling the merged count
    // must NOT clear the underflow flag — k=2, b=0: state {10,9} with
    // 8 trimmed away earlier; delete 9, insert 1 → kept={10} < k, the
    // group owes the trimmed 8 even though merged count is back to 2
    val st3 = Seq(("A", 1L, 10L), ("A", 2L, 9L)).toDF("g", "id", "v")
    val refill = Seq(("D", "A", 2L, 9L), ("I", "A", 3L, 1L))
      .toDF("op", "g", "id", "v")
    val ref = Ivm.applyTopKDelta(st3, refill, "op", "g", "id", "v", 2, 0).collect()
    assert(ref.length === 2 && ref.forall(_.getBoolean(3)),
      s"post-delete count < k flags even when inserts refill to k: ${ref.toSeq}")

    // intra-batch I-then-D nets to a no-op
    val noop = Seq(("I", "A", 9L, 99L), ("D", "A", 9L, 99L)).toDF("op", "g", "id", "v")
    val same = Ivm.applyTopKDelta(st2, noop, "op", "g", "id", "v", k, b)
      .collect().map(r => r.getLong(1)).toSet
    assert(same === Set(1L, 2L, 3L, 4L), "netting discipline")
  }
}
