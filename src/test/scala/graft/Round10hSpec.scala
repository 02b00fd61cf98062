package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

class Round10hSpec extends SparkSpecBase {

  test("html strip: tags become spaces, whitespace collapses, words never splice") {
    import spark.implicits._
    val in = Seq(
      "<html><body><p>hello</p><p>world</p></body></html>",
      "a<br>b",
      "no tags here",
      "<div class=\"x\" data-y='1'>inner</div>",
      "").toDF("h")
    val out = in.select(TextFunctions.stripHtmlTags(col("h")).as("t"))
      .collect().map(_.getString(0)).toList
    assert(out(0) === "hello world", "adjacent block contents separated")
    assert(out(1) === "a b", "a tag never splices words")
    assert(out(2) === "no tags here")
    assert(out(3) === "inner", "attributes with quotes strip with the tag")
    assert(out(4) === "")
  }

  test("prop z-test: literal pooled formula and the degenerate-pool NULL") {
    import spark.implicits._
    import graft.operators.Stats
    // arm0: 10 users, 3 convert; arm1: 8 users, 6 convert
    val u = ((1 to 10).map(i => (0L, i <= 3)) ++ (1 to 8).map(i => (1L, i <= 6)))
      .toDF("arm", "c")
    val r = Stats.propZTest(u, col("arm"), col("c")).collect()(0)
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ===
      ((10L, 8L, 3L, 6L)), "cells")
    val (p0, p1) = (3.0 / 10.0, 6.0 / 8.0)
    val phat = 9.0 / 18.0
    val z = (p1 - p0) / math.sqrt(phat * (1.0 - phat) * (1.0 / 10.0 + 1.0 / 8.0))
    assert(math.abs(r.getDouble(9) - z) < 1e-12, s"z: ${r.getDouble(9)} vs $z")
    // nobody converts anywhere -> zero pooled variance -> NULL z
    val none = Seq((0L, false), (0L, false), (1L, false)).toDF("arm", "c")
    assert(Stats.propZTest(none, col("arm"), col("c")).collect()(0).isNullAt(9),
      "degenerate pool reports NULL, not a division blowup")
    // a third arm is a named error, not a silently dropped arm
    val three = Seq((0L, true), (1L, false), (2L, true)).toDF("arm", "c")
    val err = intercept[IllegalArgumentException](Stats.propZTest(three, col("arm"), col("c")))
    assert(err.getMessage.contains("propZTest needs exactly 2 arms, got 3"), err.getMessage)
  }

  test("mojibake count: marker occurrences, trailing markers, clean zero, NULL") {
    import spark.implicits._
    val in = Seq("clean text", "caffÃ©", "xÃ", "â€™ quote â€œ", null).toDF("t")
    val out = in.select(TextFunctions.mojibakeCount(col("t")).as("m"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getInt(0)).toList
    assert(out(0) === 0, "clean text has zero markers")
    assert(out(1) === 1, "one corrupted character")
    assert(out(2) === 1, "a TRAILING marker still counts (split keeps empties)")
    assert(out(3) === 2, "both smart-quote artifacts")
    assert(out(4) === null, "NULL in, NULL out")
  }
}
