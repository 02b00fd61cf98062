package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the shipped session config
  * ([[GraftSession.builder]]) at a fixed small parallelism — unit tests,
  * not benchmarks, and the job/stage pins were measured at 4 cores.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Run `body` with one session conf set, restoring the previous value. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Spark jobs started while `body` runs (SparkListener, bus drained
    * on both sides so no earlier job leaks in and no late event out).
    */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftbridge.CoreBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftbridge.CoreBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSession.builder(4)
    .master("local[4]")
    .appName("graft-test")
    .config("spark.ui.enabled", "false")
    // static conf consumed by EndpointSpec's in-process Thrift server:
    // JDBC connections share THIS session (its temp views + injected
    // kernel functions) instead of cloning bare sessions
    .config("spark.sql.hive.thriftServer.singleSession", "true")
    .getOrCreate()
}
