package graft.qpu

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-native re-expression of the reference's QPU graph
  * (reference: /root/reference/internal/qpu_classes, Documentation.md).
  *
  * In the reference, each QPU is a network service holding materialized
  * state, and a query plan is a DAG of such services wired by gRPC
  * streams. Here each QPU is a *declarative transform* over a
  * `DataFrame`; composing QPUs composes logical plans, and Catalyst
  * collapses the whole graph into one distributed physical plan —
  * filters reach the parquet scan, joins pick broadcast/shuffle
  * strategies, aggregation is map-side partial. No RPC hops, no
  * per-operator state services.
  *
  * Scale notes (100 TB): every transform here stays inside
  * whole-stage codegen; nothing collects to the driver. See each
  * subclass's scaladoc for its shuffle/pushdown behavior.
  *
  * Per-request cost: a request's literal values (an index key, a
  * range's bounds, a filter's EQ value) are bound as codegen
  * parameters by [[graft.plans.BindLiterals]], so each query shape
  * compiles one class and a new key reuses it. This holds in sessions
  * built with the `GraftExtensions` conf (`graft.GraftSession`).
  */
trait Qpu {
  def toDF: DataFrame
}

/** A predicate in the reference's query model
  * (reference: internal/queries/queries.go:SatisfiesPredicate — EQ,
  * RANGE `[lb, ub)`, ISNULL, ISNOTNULL).
  */
sealed trait Predicate { def toColumn: Column }
final case class Eq(attr: String, value: Any) extends Predicate {
  def toColumn: Column = col(attr) === lit(value)
}
/** Half-open range `[lb, ub)` — matches the reference's RANGE compare. */
final case class Range(attr: String, lb: Any, ub: Any) extends Predicate {
  def toColumn: Column = col(attr) >= lit(lb) && col(attr) < lit(ub)
}
final case class IsNull(attr: String) extends Predicate {
  def toColumn: Column = col(attr).isNull
}
final case class IsNotNull(attr: String) extends Predicate {
  def toColumn: Column = col(attr).isNotNull
}

/** Datastore driver QPU: source abstraction
  * (reference: internal/qpu_classes/datastore_driver/datastoredriver.go —
  * one driver per store kind: s3/store.go, mysql/store.go, mock/store.go).
  * Batch snapshot = a scan in any Spark-supported format; the subscribe
  * path lives in [[graft.streaming.Subscribe]]. Projection here is
  * applied *before* any downstream op so Catalyst prunes columns at the
  * scan (ReadSchema shrinks — verified in QpuSpec).
  */
final case class DatastoreQpu(spark: SparkSession, dir: String, table: String,
                              projection: Seq[String] = Nil) extends Qpu {
  def toDF: DataFrame = {
    val df = graft.Tables.load(spark, dir, table)
    if (projection.isEmpty) df else df.select(projection.map(col): _*)
  }
}

/** Format-generic datastore driver (the reference's per-store driver
  * plugins map to Spark DataSource formats — parquet, csv, json, orc,
  * jdbc...). `options` passes through to the reader, e.g. header/
  * inferSchema for csv, or url/dbtable/driver for the jdbc path (the
  * reference's MySQL driver, mysql/store.go); path-less formats like
  * jdbc pass `path = ""`.
  */
final case class FormatSourceQpu(spark: SparkSession, format: String, path: String = "",
                                 options: Map[String, String] = Map.empty,
                                 projection: Seq[String] = Nil) extends Qpu {
  def toDF: DataFrame = {
    val reader = spark.read.format(format).options(options)
    val df = if (path.isEmpty) reader.load() else reader.load(path)
    if (projection.isEmpty) df else df.select(projection.map(col): _*)
  }
}

/** Wrap an existing DataFrame as a QPU graph node (for composing with
  * non-parquet sources or mid-graph results).
  */
final case class DataFrameQpu(df: DataFrame) extends Qpu { def toDF: DataFrame = df }

/** Filter QPU (reference: queries.go:SatisfiesPredicate). Predicates are
  * plain Catalyst expressions, so they push down to the scan
  * (PushedFilters) instead of evaluating per-record in the service layer
  * like the reference does.
  */
final case class FilterQpu(input: Qpu, predicates: Seq[Predicate]) extends Qpu {
  def toDF: DataFrame =
    predicates.foldLeft(input.toDF)((df, p) => df.filter(p.toColumn))
}

/** Index QPU: secondary-attribute index with EQ + range lookup
  * (reference: internal/qpu_classes/inMemIndex/inMemIndex.go:519
  * `lookup` / bTree `AscendRange`).
  *
  * The reference maintains a B-tree per indexed attribute and serves
  * ordered range scans from it. On Spark the equivalent *read path* is a
  * filter that prunes at the scan (parquet row-group min/max stats) plus
  * a sort on the indexed attribute; the equivalent *materialized* form
  * at 100 TB is `materialize()`: parquet repartitioned by range on the
  * key and sorted within partitions, so lookups touch only matching
  * files (partition + row-group pruning), exactly what the B-tree buys
  * the reference on one node.
  */
final case class IndexQpu(input: Qpu, attr: String) extends Qpu {
  def toDF: DataFrame = input.toDF

  /** EQ lookup (reference: AttributePredicate_EQ). */
  def point(value: Any): DataFrame = input.toDF.filter(col(attr) === lit(value))

  /** Range lookup `[lb, ub)`, ordered by the indexed attribute
    * (reference: AscendRange).
    */
  def range(lb: Any, ub: Any): DataFrame =
    input.toDF.filter(col(attr) >= lit(lb) && col(attr) < lit(ub)).sort(col(attr))

  /** Top-k by the indexed attribute, descending — the reference's
    * lobsters `vote_sum` ranking read. Spark plans order-by+limit as
    * TakeOrderedAndProject: per-partition top-k, no global sort.
    */
  def topK(k: Int, tiebreak: Seq[String] = Nil): DataFrame = {
    val order = (col(attr).desc +: tiebreak.map(col(_).asc))
    input.toDF.orderBy(order: _*).limit(k)
  }

  /** Write the index as a range-partitioned, sorted parquet dataset —
    * the scale path for repeated lookups (file-level pruning).
    */
  def materialize(path: String, numPartitions: Int = 32): Unit =
    input.toDF.repartitionByRange(numPartitions, col(attr))
      .sortWithinPartitions(attr)
      .write.mode("overwrite").parquet(path)

  /** Two-dimensional index materialization: cluster the files along
    * the Morton (Z-order) curve of `(attr, attr2)` so parquet min/max
    * stats prune files for range predicates on EITHER or BOTH
    * columns — a single-column sort leaves every file spanning the
    * full range of the second column (ZOrderSpec measures the
    * difference). Both columns are first quantized to non-negative
    * longs by rank over `quantBits`-bit buckets.
    */
  def materializeZOrder(path: String, attr2: String,
                        numPartitions: Int = 32, quantBits: Int = 16): Unit = {
    val df = input.toDF
    import graft.functions.SpaceFillingCurve
    Seq(attr, attr2).foreach { c =>
      require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
        || df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.DateType]
        || df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType],
        s"z-order needs orderable numeric/temporal columns; '$c' is " +
          s"${df.schema(c).dataType.simpleString} — use materialize() for 1-D string keys")
    }
    // DATE cannot cast straight to double (disallowed in Spark 3/4);
    // route it through timestamp. NaN would poison max() and then the
    // ANSI cast-to-long — exclude it from the stats and pin NaN rows to
    // the top bucket below (deterministic, keeps them clustered).
    def asD(c: String): Column = {
      val base =
        if (df.schema(c).dataType == org.apache.spark.sql.types.DateType)
          col(c).cast("timestamp").cast("double")
        else col(c).cast("double")
      base
    }
    def finite(c: String): Column =
      when(isnan(asD(c)), lit(null)).otherwise(asD(c))
    // quantize each dimension to [0, 2^quantBits) by min-max scaling —
    // rank-free (no global sort), two cheap aggregates
    val stats = df.agg(
      min(finite(attr)).as("amin"), max(finite(attr)).as("amax"),
      min(finite(attr2)).as("bmin"), max(finite(attr2)).as("bmax")
    ).head()
    if (stats.isNullAt(0) || stats.isNullAt(2)) { // empty (or all-null) input
      df.write.mode("overwrite").parquet(path)
      return
    }
    val buckets = (1L << quantBits) - 1
    def q(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else when(isnan(asD(c)), lit(buckets))
        .otherwise(((asD(c) - lit(lo)) / lit(hi - lo) * buckets).cast("long"))
    val z = SpaceFillingCurve.mortonInterleave(
      q(attr, stats.getDouble(0), stats.getDouble(1)),
      q(attr2, stats.getDouble(2), stats.getDouble(3)), bits = quantBits)
    df.withColumn("__z", z)
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}

/** Sum QPU: incremental `sum(attr) group by key`
  * (reference: internal/qpu_classes/sum/sum.go — state keyed by the
  * group-by attribute, emits `<attr>_sum`).
  * Batch form = hash aggregation with map-side partial combine (one
  * shuffle of the partial sums, not the rows). The continuously
  * maintained form is [[graft.streaming.Subscribe.incrementalSum]].
  */
final case class SumQpu(input: Qpu, aggAttr: String, groupBy: String) extends Qpu {
  def toDF: DataFrame =
    input.toDF.groupBy(col(groupBy)).agg(sum(col(aggAttr)).as(s"${aggAttr}_sum"))
}

/** Join QPU: 2-table equi-join materialization
  * (reference: internal/qpu_classes/join/join.go — joins two input
  * streams on per-table join attributes into one state table keyed by
  * the join attribute alias).
  * `broadcastRight` marks the dimension side for a broadcast-hash join
  * (no shuffle of the fact side) — the right call whenever the right
  * side fits in executor memory, which holds for all the star-schema
  * dimensions here at any scale factor.
  */
final case class JoinQpu(left: Qpu, right: Qpu,
                         leftAttr: String, rightAttr: String,
                         joinAlias: String = "",
                         broadcastRight: Boolean = false) extends Qpu {
  def toDF: DataFrame = {
    val l = left.toDF
    val r0 = right.toDF
    val r = if (broadcastRight) broadcast(r0) else r0
    val joined = l.join(r, l(leftAttr) === r(rightAttr))
    val dropped = joined.drop(r(rightAttr))
    if (joinAlias.isEmpty) dropped else dropped.withColumnRenamed(leftAttr, joinAlias)
  }
}

/** Static intersection tests between predicates — the routing logic
  * of [[PartitionedRouterQpu]]. Conservative: `true` whenever
  * compatibility cannot be decided statically (different attributes,
  * incomparable values), so routing never prunes a child that might
  * hold matching records.
  */
object Predicates {
  def mayIntersect(a: Predicate, b: Predicate): Boolean = (a, b) match {
    case (Eq(x, v), Eq(y, w)) if x == y => cmp(v, w).forall(_ == 0)
    case (Eq(x, v), Range(y, lb, ub)) if x == y => inRange(v, lb, ub)
    case (Range(y, lb, ub), Eq(x, v)) if x == y => inRange(v, lb, ub)
    case (Range(x, alb, aub), Range(y, blb, bub)) if x == y =>
      cmp(alb, bub).forall(_ < 0) && cmp(blb, aub).forall(_ < 0)
    case (IsNull(x), IsNotNull(y)) if x == y => false
    case (IsNotNull(x), IsNull(y)) if x == y => false
    case (IsNull(x), Eq(y, _)) if x == y => false
    case (Eq(x, _), IsNull(y)) if x == y => false
    case _ => true // different attributes / undecidable → don't prune
  }

  private def inRange(v: Any, lb: Any, ub: Any): Boolean =
    cmp(v, lb).forall(_ >= 0) && cmp(v, ub).forall(_ < 0)

  /** None = not statically comparable (conservative).
    *
    * Numbers compare through BigDecimal — doubleValue would round
    * longs past 2^53 (nanosecond timestamps, snowflake ids) and could
    * falsely prune a covering shard. Strings compare by UTF-8 bytes,
    * matching Spark's UTF8String binary ordering (Java's compareTo is
    * UTF-16 code-unit order, which disagrees beyond the BMP).
    */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Number, y: Number) =>
      try Some(new java.math.BigDecimal(x.toString)
        .compareTo(new java.math.BigDecimal(y.toString)))
      catch { case _: NumberFormatException => None } // NaN/Infinity
    case (x: String, y: String) =>
      Some(java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case _ => None
  }
}

/** A router child plus the coverage predicate declaring which records
  * its store can hold (e.g. `Eq("region", "EU")` or
  * `Range("ts", t0, t1)` for a time-sharded store).
  */
final case class RoutedChild(coverage: Predicate, qpu: Qpu)

/** Metadata-routed scatter (reference: Documentation.md "Decentralized
  * query processing protocol" + router.go — the reference's router
  * forwards a query only to the children whose advertised state can
  * answer it). `route(query)` statically drops children whose
  * coverage cannot intersect the query predicate, so a point or range
  * query scans only the covering shards instead of every child — the
  * metadata-pruned complement to [[RouterQpu]]'s same-source scan
  * merging. Undecidable cases keep the child (correctness over
  * pruning).
  */
final case class PartitionedRouterQpu(children: Seq[RoutedChild]) extends Qpu {
  require(children.nonEmpty, "routed router needs at least one child")

  /** Unrouted scatter-gather over every child. */
  def toDF: DataFrame = RouterQpu(children.map(_.qpu)).toDF

  /** Scan only children whose coverage may hold matching records; the
    * query predicate is still applied (coverage may be coarser).
    */
  def route(query: Predicate): DataFrame = {
    val covering = children.filter(c => Predicates.mayIntersect(c.coverage, query))
    // provably empty: keep the schema from ONE child instead of
    // resolving and unioning every shard just to filter it all out
    if (covering.isEmpty) children.head.qpu.toDF.filter(lit(false))
    else FilterQpu(RouterQpu(covering.map(_.qpu)), Seq(query)).toDF
  }
}

/** Router QPU: scatter-gather
  * (reference: internal/qpu_classes/router/router.go — fans a query to
  * all adjacent QPUs and concatenates their responses).
  *
  * Children that are pure predicate filters over the SAME datastore
  * source are planned as ONE scan: a pushable disjunctive filter,
  * then one output row per *matching child* (array + explode), so
  * scatter-gather over n same-source children costs one scan instead
  * of n while preserving exact union-all multiplicity when child
  * predicates overlap. The reference pays this n× tax per query (each
  * child QPU re-reads its store); at 100 TB a 5-child router over one
  * table must not scan it 5×. Children over genuinely distinct
  * sources keep their own scans, scheduled in parallel as before.
  */
final case class RouterQpu(children: Seq[Qpu]) extends Qpu {
  require(children.nonEmpty, "router needs at least one child")

  def toDF: DataFrame = {
    val keyed: Seq[(Option[DatastoreQpu], Qpu)] = children.map {
      case f @ FilterQpu(src: DatastoreQpu, _) => (Some(src), f)
      case q => (None, q)
    }
    val seen = scala.collection.mutable.Set.empty[DatastoreQpu]
    val dfs = keyed.flatMap {
      case (Some(src), _) if !seen.contains(src) =>
        seen += src
        val preds = keyed.collect {
          case (Some(s), FilterQpu(_, ps)) if s == src =>
            ps.map(_.toColumn).reduceOption(_ && _).getOrElse(lit(true))
        }
        if (preds.size == 1) Some(src.toDF.filter(preds.head))
        else {
          // one row per matching child; matched-child indices computed
          // once per row, empty array rows die at the (pushed) OR filter
          val hits = preds.zipWithIndex.map { case (c, i) => when(c, lit(i)) }
          Some(src.toDF
            .filter(preds.reduce(_ || _))
            .withColumn("__router_child", explode(array_compact(array(hits: _*))))
            .drop("__router_child"))
        }
      case (Some(_), _) => None // merged into its source group's scan
      case (None, q) => Some(q.toDF)
    }
    dfs.reduce(_.unionByName(_))
  }
}
