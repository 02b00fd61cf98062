package perfbench

import graft.api.ProteusQL
import graft.qpu.{CacheQpu, DatastoreQpu, Eq, GraphConfig, IndexQpu, QueryCache}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import java.util.SplittableRandom

/** A workload: client threads that each run passes over a list of
  * requests.
  */
trait Workload {
  def clients: Int
  /** Compute reference answers; runs before any timed work. */
  def prepare(): Unit
  /** One pass for `client`; parameters come from `rng`. */
  def pass(client: Int, rng: SplittableRandom): Seq[Request]
  /** Called with the first (untimed) result of each request kind. */
  def warmedUp(kind: String, rows: Seq[Row], schema: StructType): Unit = ()
  /** QueryCache hits over lookups since the traced window began. */
  def cacheHitRatio: Double = 0.0
  /** Marks the start of the traced window. */
  def beginTraced(): Unit = ()
  /** When set, the wrong-answer self-check perturbs one reference. */
  var corruptExpected = false
}

object Workloads {
  def apply(name: String, spark: SparkSession, dir: String, seed: Long, work: String): Workload = name match {
    case "qpu_point" => new QpuPoint(spark, dir, seed)
    case "analytics_mix" => new AnalyticsMix(spark, dir, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def canon(rows: Seq[Row]): Seq[Rows.Canon] = rows.map(Rows.canon)
}

/** The Proteus client-query mix: six request types, each building its
  * QPU graph and collecting a bounded result. Two clients, closed loop.
  */
final class QpuPoint(spark: SparkSession, dir: String, seed: Long) extends Workload {
  val clients = 2
  private val cache = new QueryCache(32)
  private var hits0 = 0L
  private var misses0 = 0L
  private val flagshipJson = {
    val in = getClass.getResourceAsStream("/graft/flagship.json")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
  private val topKs = Seq(5, 10, 20)

  private var customers: Map[Long, Rows.Canon] = Map.empty
  private var linesByPart: Map[Long, Seq[Rows.Canon]] = Map.empty
  private var ordersByPrice: IndexedSeq[Rows.Canon] = IndexedSeq.empty
  private var ordersByCust: Map[Long, Seq[Row]] = Map.empty
  private var ranking: Seq[Rows.Canon] = Nil
  private var custPool: IndexedSeq[Long] = IndexedSeq.empty
  private var partPool: IndexedSeq[Long] = IndexedSeq.empty
  private var rangePool: IndexedSeq[(Double, Double)] = IndexedSeq.empty

  def prepare(): Unit = {
    val rng = new SplittableRandom(seed * 31 + 7)
    val nCust = spark.table("customer").count()
    val nPart = spark.table("part").count()
    val nOrders = spark.table("orders").count()
    custPool = IndexedSeq.fill(64)(rng.nextLong(nCust))
    partPool = IndexedSeq.fill(64)(rng.nextLong(nPart))
    val width = 499000.0 * 20 / nOrders
    rangePool = IndexedSeq.fill(32) { val lb = 1000.0 + rng.nextDouble() * (499000.0 - width); (lb, lb + width) }
    customers = spark.table("customer").collect().map(r => r.getLong(0) -> Rows.canon(r)).toMap
    linesByPart = spark.sql(s"SELECT * FROM lineitem WHERE l_partkey IN (${partPool.mkString(", ")})")
      .collect().toSeq.groupBy(_.getAs[Long]("l_partkey")).map { case (k, rs) => k -> rs.map(Rows.canon) }
    val orders = spark.table("orders").collect().toSeq
    ordersByPrice = orders.map(Rows.canon).sortBy(_(3).asInstanceOf[Double]).toIndexedSeq
    ordersByCust = orders.groupBy(_.getAs[Long]("o_custkey"))
    ranking = spark.sql(
      """SELECT o_custkey AS custkey, c_name, count(*) AS order_cnt, sum(o_totalprice) AS total_spent
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_custkey, c_name ORDER BY order_cnt DESC, custkey LIMIT 20""".stripMargin)
      .collect().map(Rows.canon).toSeq
    if (corruptExpected) ranking = ranking.updated(0, ranking.head.updated(2, -1L))
  }

  private def graph(k: Int) =
    GraphConfig.fromJson(spark, flagshipJson.replaceAll("\"topk\"\\s*:\\s*\\d+", s""""topk": $k"""), dir)

  def pass(client: Int, rng: SplittableRandom): Seq[Request] = {
    val k = custPool(rng.nextInt(custPool.size))
    val p = partPool(rng.nextInt(partPool.size))
    val (lb, ub) = rangePool(rng.nextInt(rangePool.size))
    val sqlCust = custPool(rng.nextInt(custPool.size))
    val topK = topKs(rng.nextInt(topKs.size))
    val reqs = Seq(
      Request("snapshot_customer", "api",
        () => ProteusQL.snapshot(spark, dir, "customer", predicates = Seq(Eq("c_custkey", k))),
        rows => Rows.diffBag(Workloads.canon(rows), customers.get(k).toSeq)),
      Request("index_point_lineitem", "qpu",
        () => IndexQpu(DatastoreQpu(spark, dir, "lineitem"), "l_partkey").point(p),
        rows => Rows.diffBag(Workloads.canon(rows), linesByPart.getOrElse(p, Nil))),
      Request("index_range_orders", "qpu",
        () => IndexQpu(DatastoreQpu(spark, dir, "orders"), "o_totalprice").range(lb, ub),
        rows => {
          val prices = rows.map(_.getDouble(3))
          if (prices != prices.sorted) Some("range result not ordered by o_totalprice")
          else Rows.diffBag(Workloads.canon(rows), ordersByPrice.filter { r =>
            val x = r(3).asInstanceOf[Double]; x >= lb && x < ub })
        }),
      Request("sql_orders_by_customer", "api",
        () => ProteusQL.sql(spark, dir,
          s"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total FROM orders " +
            s"WHERE o_custkey = $sqlCust GROUP BY o_orderpriority"),
        rows => Rows.diffBag(Workloads.canon(rows),
          ordersByCust.getOrElse(sqlCust, Nil).groupBy(_.getAs[String]("o_orderpriority")).toSeq.map {
            case (prio, rs) => IndexedSeq[Any](prio, rs.size.toLong, rs.map(_.getAs[Double]("o_totalprice")).sum)
          })),
      Request("flagship_ranking", "qpu",
        () => GraphConfig.fromResource(spark, "/graft/flagship.json", dir).toDF,
        rows => Rows.diffSeq(Workloads.canon(rows), ranking)),
      Request("cached_ranking", "qpu",
        () => CacheQpu(graph(topK), cache).toDF,
        rows => Rows.diffSeq(Workloads.canon(rows), ranking.take(topK))))
    // each client walks the mix in its own seeded order
    val order = reqs.indices.toArray
    for (i <- order.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    order.map(reqs).toSeq
  }

  override def beginTraced(): Unit = { hits0 = cache.hits; misses0 = cache.misses }

  override def cacheHitRatio: Double = {
    val h = cache.hits - hits0
    val m = cache.misses - misses0
    if (h + m == 0) 0.0 else h.toDouble / (h + m)
  }
}

/** Sequential passes over a fixed list of registry queries: iterative
  * with eager construction jobs (q_pagerank), execution-heavy
  * (q_triangles), a native kernel (dedup_minhash) and a six-table join
  * (q5_local_supplier). The list is as short as covering those kinds
  * allows, because every run pays for an untimed warm-up pass too.
  *
  * The first (untimed) result of each query is the reference every
  * timed pass must reproduce, and is written out for the DuckDB oracle
  * check.
  */
final class AnalyticsMix(spark: SparkSession, dir: String, work: String) extends Workload {
  val clients = 1
  val queries = Seq("q_pagerank", "q_triangles", "dedup_minhash", "q5_local_supplier")
  private val reference = new java.util.concurrent.ConcurrentHashMap[String, Seq[Rows.Canon]]()

  def prepare(): Unit = ()

  def pass(client: Int, rng: SplittableRandom): Seq[Request] = queries.map { q =>
    Request(q, "operators", () => graft.SparkEntry.queries(q)(spark, dir),
      rows => Option(reference.get(q)) match {
        case Some(want) => Rows.diffBag(Workloads.canon(rows), want)
        case None => None // the warm-up run that records the reference
      })
  }

  override def warmedUp(kind: String, rows: Seq[Row], schema: StructType): Unit = {
    val ref = Workloads.canon(rows)
    reference.put(kind, if (corruptExpected && kind == queries.last) ref.drop(1) else ref)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$work/oracle/$kind")
    val sql = graft.SparkEntry.oracleSql(kind)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/oracle/$kind.sql"), sql.getBytes("UTF-8"))
  }
}
