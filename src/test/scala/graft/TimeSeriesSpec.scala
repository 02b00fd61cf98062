package graft

import graft.operators.TimeSeries
import org.apache.spark.sql.functions._

class TimeSeriesSpec extends SparkSpecBase {

  test("resample: gap days are synthesized and carry the previous day-end value") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 09:00:00", 7L, 10.0),
      (1L, "2024-01-01 17:00:00", 8L, 20.0), // day-end value for Jan 1
      (1L, "2024-01-04 12:00:00", 9L, 40.0)  // Jan 2-3 are gaps
    ).toDF("user_id", "ts_s", "event_id", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = TimeSeries.resampleDailyFfill(ev, "user_id", "ts", "event_id", "value")
      .orderBy("day_no").collect()
      .map(r => (r.getAs[Int]("day_no"), r.getAs[Double]("value_ffill"),
        r.getAs[Boolean]("is_gap")))
    assert(out.toSeq === Seq((0, 20.0, false), (1, 20.0, true),
      (2, 20.0, true), (3, 40.0, false)),
      "grid spans first..last day; gaps forward-fill the last day-end value")
  }

  test("resample: ts ties on a day resolve by event id, per entity independently") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-02 12:00:00", 5L, 1.0),
      (1L, "2024-01-02 12:00:00", 6L, 2.0), // same ts — higher id wins
      (2L, "2024-01-03 12:00:00", 7L, 9.0)
    ).toDF("user_id", "ts_s", "event_id", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val out = TimeSeries.resampleDailyFfill(ev, "user_id", "ts", "event_id", "value")
      .collect().map(r => (r.getAs[Long]("entity_id"), r.getAs[Int]("day_no"),
        r.getAs[Double]("value_ffill"))).toSet
    assert(out === Set((1L, 1, 2.0), (2L, 2, 9.0)),
      "deterministic day-end pick; single-day entities get a single-row grid")
  }

  test("trend decompose: hand window sums, gap-shrunk RANGE frame, exact micro") {
    import spark.implicits._
    // days 0..6 values 10..70 plus a gap: day 20 value 100
    val ser = ((0L to 6L).map(d => ("A", d, (d + 1) * 10)) :+ (("A", 20L, 100L)))
      .toDF("g", "d", "v")
    val out = TimeSeries.trendDecompose(ser, "g", "d", "v", radius = 3)
      .collect().map(r => r.getLong(1) -> r).toMap
    // day 3: full window 0..6 -> wn 7, wsum 280, trend 40e6, dev 0
    val d3 = out(3L)
    assert((d3.getLong(3), d3.getLong(4)) === ((7L, 280L)))
    assert(d3.getLong(5) === 40000000L && d3.getLong(6) === 0L)
    // day 0: window [−3,3] has days 0..3 -> wn 4, wsum 100, trend 25e6
    val d0 = out(0L)
    assert((d0.getLong(3), d0.getLong(4)) === ((4L, 100L)))
    assert(d0.getLong(5) === 25000000L && d0.getLong(6) === 10L * 1000000L - 25000000L)
    // the gapped day 20 sees ONLY itself (RANGE, not ROWS)
    val d20 = out(20L)
    assert(d20.getLong(3) === 1L && d20.getLong(5) === 100000000L && d20.getLong(6) === 0L,
      s"calendar gap isolates the point: ${d20.toSeq}")
  }
}
