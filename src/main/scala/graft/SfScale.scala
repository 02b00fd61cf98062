package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build a replica-scaled dataset for out-of-band scale benching:
  * `sbt "runMain graft.SfScale /root/testdata/sf0.1 /tmp/graft-sf1 10"`
  * produces an sf1-equivalent star schema (no sf1 generator exists in
  * this sandbox, and the driver's testdata is read-only).
  *
  * Scaling follows TPC-H's own shape: fixed dimensions (region,
  * nation) stay fixed; everything sf-proportional (customer, supplier,
  * part, orders, lineitem, events, documents, embeddings) is
  * replicated `factor`× with key offsets chosen so every foreign-key
  * relationship stays intact WITHIN a replica (orders point at their
  * replica's customers, lineitems at their replica's parts/suppliers)
  * — per-key fan-outs are preserved, which is what makes the timing
  * comparable to a generator-produced sf1.
  *
  * Content perturbation — the part naive replication gets wrong:
  * copying documents verbatim multiplies every doc's duplicate
  * multiplicity by `factor`, which inflates pair-emitting dedup work
  * quadratically (the r4 scale-probe lesson, SURVEY §5) and measures
  * output writing, not operators. Replica i > 0 suffixes every token with
  * `·i` (distinct content, same length/statistics — duplicate GROUPS
  * replicate instead of growing) and re-derives n_chars; embeddings
  * keep their vectors but move to per-replica label buckets so
  * bucketed similarity joins see `factor`× more buckets of the
  * original size, not original-count buckets `factor`× the size.
  */
object SfScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(name: String)(transform: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, name)
      val big = (0 until factor).map(i => transform(base, i)).reduce(_.unionByName(_))
      big.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    def off(c: String, i: Int, step: Long = 100000000L) =
      col(c) + lit(i.toLong * step)

    // fixed dimensions: copied once
    Seq("region", "nation").foreach { t =>
      Tables.load(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"$t: copied")
    }
    replicate("customer")((df, i) => df.withColumn("c_custkey", off("c_custkey", i)))
    replicate("supplier")((df, i) => df.withColumn("s_suppkey", off("s_suppkey", i)))
    replicate("part")((df, i) => df.withColumn("p_partkey", off("p_partkey", i)))
    replicate("orders")((df, i) => df
      .withColumn("o_orderkey", off("o_orderkey", i))
      .withColumn("o_custkey", off("o_custkey", i)))
    replicate("lineitem")((df, i) => df
      .withColumn("l_orderkey", off("l_orderkey", i))
      .withColumn("l_partkey", off("l_partkey", i))
      .withColumn("l_suppkey", off("l_suppkey", i)))
    replicate("events")((df, i) => df
      .withColumn("event_id", off("event_id", i))
      .withColumn("user_id", off("user_id", i)))
    replicate("documents") { (df, i) =>
      val moved = df.withColumn("doc_id", off("doc_id", i, 10000000L))
      if (i == 0) moved
      else moved
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1·$i"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    replicate("embeddings") { (df, i) =>
      df.withColumn("vec_id", off("vec_id", i, 10000000L))
        .withColumn("label", (col("label") + lit(i * 100000)).cast("int"))
    }
    spark.stop()
  }
}
