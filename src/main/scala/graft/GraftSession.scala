package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration this library is designed
  * around. On a real cluster, master/memory come from spark-submit;
  * these settings are the ones that change plan shapes:
  *
  *  - AQE on (default in Spark 4, pinned here): runtime coalescing,
  *    skew-join splitting, dynamic broadcast decisions.
  *  - shuffle.partitions sized to cores for local runs — at cluster
  *    scale set it to ~2-3x total executor cores or rely on AQE
  *    coalescing from a high initial value.
  *  - nanosAsLong: the only way Spark reads parquet TIMESTAMP(NANOS)
  *    columns (see Tables.load for the repair back to timestamps).
  *  - GraftExtensions: registers the native expressions under SQL names
  *    and the BindLiterals physical rule, which binds a request's
  *    primitive literals as codegen parameters (one compiled class per
  *    query shape, not one per key). Only a session built with this
  *    conf gets the rule; `GraftExtensions.register` cannot add it to a
  *    session that is already running.
  */
object GraftSession {
  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(cores).master(s"local[$cores]")
      .config("spark.ui.enabled", "false").getOrCreate()
    plans.GraftExtensions.register(s) // cover pre-existing sessions too
    s
  }
}
