package graft.api

import graft.Tables
import graft.qpu._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Programmatic query API with the same surface as the reference's
  * query constructors (reference: internal/queries/queries.go —
  * NewQuerySnapshot / NewQuerySubscribe / NewQuerySnapshotAndSubscribe:
  * table, projection, isNull / isNotNull attribute predicates, limit)
  * and its SQL subset (reference: internal/sqlparser/sqlparse.go —
  * SELECT cols FROM t [WHERE a = v] [ORDER BY a ASC|DESC] [LIMIT n]).
  *
  * A snapshot query compiles to one declarative plan; Catalyst pushes
  * the null predicates and projection into the scan. The subscribe
  * flavors are in [[graft.streaming.Subscribe]].
  */
object ProteusQL {

  final case class OrderBy(attr: String, desc: Boolean = false)

  /** One-shot snapshot query (reference: NewQuerySnapshot). */
  def snapshot(spark: SparkSession, dir: String, table: String,
               projection: Seq[String] = Nil,
               isNull: Seq[String] = Nil,
               isNotNull: Seq[String] = Nil,
               predicates: Seq[Predicate] = Nil,
               orderBy: Option[OrderBy] = None,
               limit: Long = 0): DataFrame = {
    val preds: Seq[Predicate] =
      isNull.map(IsNull) ++ isNotNull.map(IsNotNull) ++ predicates
    val base: Qpu = FilterQpu(DatastoreQpu(spark, dir, table), preds)
    var df = base.toDF
    orderBy.foreach { o =>
      df = df.orderBy(if (o.desc) col(o.attr).desc else col(o.attr).asc)
    }
    if (limit > 0) df = df.limit(limit.toInt)
    if (projection.nonEmpty) df = df.select(projection.map(col): _*)
    df
  }

  /** SQL entry point covering (and exceeding) the reference's parser
    * subset: registers the scale-factor tables and hands the statement
    * to Spark SQL. The statement→AST parse is memoized (LRU 128),
    * mirroring the reference's sqlToASTCache
    * (internal/apiprocessor/apiprocessor.go). Only the UNRESOLVED plan
    * is cached — analysis (catalog binding, file listing) reruns per
    * call, so cached statements always see current data.
    */
  def sql(spark: SparkSession, dir: String, statement: String): DataFrame = {
    // registerAll lists and re-resolves all ten tables: 150–260 ms
    // with every schema already in Tables' catalog, 0.7–0.9 s when each
    // must be inferred (local[4], sf0.01 and sf0.1) — only re-register
    // when this session last saw a DIFFERENT scale-factor dir. Data
    // refreshes (new files under the same dir) need an explicit
    // Tables.registerAll: a temp view pins its file listing at
    // registration time either way.
    lastRegisteredDir.synchronized {
      if (lastRegisteredDir.get(spark) != dir) {
        Tables.registerAll(spark, dir)
        lastRegisteredDir.put(spark, dir)
      }
    }
    val ast = astCache.synchronized {
      astCache.remove(statement) match {
        case Some(plan) =>
          astCache.put(statement, plan) // re-insert → most-recently-used
          plan
        case None =>
          val plan = org.apache.spark.sql.graftbridge.Bridge.parsePlan(spark, statement)
          astCache.put(statement, plan)
          if (astCache.size > 128) astCache.remove(astCache.head._1)
          plan
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, ast)
  }

  private val astCache = scala.collection.mutable.LinkedHashMap
    .empty[String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]

  // weak keys: a stopped session must be collectable, not pinned by
  // this registry for the life of the process
  private val lastRegisteredDir =
    new java.util.WeakHashMap[SparkSession, String]()
}
