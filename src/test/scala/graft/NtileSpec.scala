package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Pins `exactNtile`'s dual-path equality: q_rfm/q_lorenz/q_lift rank
  * through `Stats.prefixSums`, which runs one window below
  * `spark.graft.tally.windowMax` rows and the range-partitioned
  * parallel rank above it. This spec runs BOTH paths (the gate forced
  * to 0, and the default) and asserts each equals Spark's own ntile
  * bit-for-bit, on sizes that cover every bucket-boundary shape
  * (n % k = 0, n < k, n == k, ragged).
  */
class NtileSpec extends SparkSpecBase {

  private def check(n: Int, k: Int): Unit = {
    import spark.implicits._
    // deterministic values with heavy ties; id tiebreak = total order
    val df = (1 to n).map(i => (i.toLong, (i * 7919 % 97).toLong)).toDF("id", "v")
    val order = Seq(col("v"), col("id"))
    val want = df.withColumn("nt", ntile(k).over(Window.orderBy(order: _*)).cast("long"))
      .select("id", "nt").as[(Long, Long)].collect().toMap
    def got = operators.Analytics.exactNtile(df, n.toLong, k, order, "nt")
      .select("id", "nt").as[(Long, Long)].collect().toMap
    val distributed = withConf("spark.graft.tally.windowMax", "0")(got)
    assert(distributed === want, s"distributed exactNtile != window ntile at n=$n k=$k")
    assert(got === want, s"windowed exactNtile != window ntile at n=$n k=$k")
  }

  test("exactNtile equals window ntile across boundary shapes, on both sides of the gate") {
    check(50000, 5)  // n % k = 0, large
    check(5003, 10)  // ragged remainder
    check(7, 10)     // n < k: buckets of size 1
    check(10, 10)    // n == k
  }
}
