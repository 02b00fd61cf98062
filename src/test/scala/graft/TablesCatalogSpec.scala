package graft

import graft.qpu._
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}

/** The schema catalog behind [[Tables.load]]: a table's parquet schema
  * is inferred once per path, file set and schema-affecting conf, and
  * every load still builds a fresh relation over the current files.
  */
class TablesCatalogSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshDir(): Path = Files.createTempDirectory("graft-tables-catalog")

  /** Write `df` as ONE parquet file at `dir/name.parquet` — the layout
    * of the bundled test data (a file, not a Spark output directory).
    */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s"_$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a warm single-table load runs no Spark job; a cold one runs one") {
    val dir = freshDir()
    writeSingleFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "t")
    var cold: StructType = null
    var warm: StructType = null
    assert(jobsDuring { cold = Tables.load(spark, dir.toString, "t").schema } === 1)
    assert(jobsDuring { warm = Tables.load(spark, dir.toString, "t").schema } === 0)
    assert(warm === cold)
    assert(warm === spark.read.parquet(s"$dir/t.parquet").schema)
  }

  test("a table rewritten under the same path with an added column is seen by the next load") {
    val dir = freshDir()
    writeSingleFile(Seq(1L, 2L).toDF("k"), dir, "t")
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq === Seq("k"))
    writeSingleFile(Seq((7L, "x"), (8L, "y"), (9L, "z")).toDF("k", "extra"), dir, "t")
    val next = Tables.load(spark, dir.toString, "t")
    assert(next.columns.toSeq === Seq("k", "extra"))
    assert(next.as[(Long, String)].collect().sorted.toSeq === Seq((7L, "x"), (8L, "y"), (9L, "z")))
  }

  test("a new file added under a directory table is seen by the next load") {
    val dir = freshDir()
    val path = s"$dir/t.parquet"
    Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(path)
    assert(Tables.load(spark, dir.toString, "t").count() === 2)
    Seq(3L).toDF("k").coalesce(1).write.mode("append").parquet(path)
    assert(Tables.load(spark, dir.toString, "t").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("a datastore QPU joined with itself still resolves and returns every row") {
    val orders = DatastoreQpu(spark, sf(), "orders")
    orders.toDF.schema // warm the catalog so both sides below are catalog hits
    val j = JoinQpu(orders, DatastoreQpu(spark, sf(), "orders"), "o_orderkey", "o_orderkey").toDF
    assert(j.count() === Tables.load(spark, sf(), "orders").count())
  }

  test("flipping a schema-affecting parquet conf between loads does not serve the stale schema") {
    // a raw parquet writer, not Spark's: a Spark-written footer carries
    // its own schema, which inference prefers over binaryAsString
    val dir = freshDir()
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message t { required binary b; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("b", "hi"))
    finally writer.close()
    val conf = "spark.sql.parquet.binaryAsString"
    assert(Tables.load(spark, dir.toString, "t").schema("b").dataType === BinaryType)
    spark.conf.set(conf, "true")
    try {
      val df = Tables.load(spark, dir.toString, "t")
      assert(df.schema("b").dataType === StringType)
      assert(df.as[String].collect().toSeq === Seq("hi"))
    } finally spark.conf.unset(conf)
    assert(Tables.load(spark, dir.toString, "t").schema("b").dataType === BinaryType)
  }

  test("four threads loading one table at once all get the same schema") {
    val dir = freshDir()
    writeSingleFile(Seq((1L, 2.0, "c")).toDF("k", "d", "s"), dir, "t")
    val barrier = new CyclicBarrier(4)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map(_ => pool.submit(new Callable[StructType] {
        def call(): StructType = { barrier.await(); Tables.load(spark, dir.toString, "t").schema }
      }))
      val schemas = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(schemas.distinct.size === 1)
      assert(schemas.head === spark.read.parquet(s"$dir/t.parquet").schema)
    } finally pool.shutdownNow()
  }
}
