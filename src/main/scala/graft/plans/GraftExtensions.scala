package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** Optimizer rule: `sorted_intersect_count(x, x)` is the element count
  * of x — the merge loop over two identical arrays matches every
  * element, sorted or not. `Size` must be constructed with
  * `legacySizeOfNull = false`: the legacy mode (still the default
  * through a conf) returns -1 for NULL input, which would CHANGE the
  * query result (the kernel is null-intolerant → NULL out); the
  * non-legacy form is null in → null out, making the rewrite sound
  * for every input — unlike a naive `cosine_sim(x, x) → 1.0` fold
  * (null → 1.0, zero vector's NaN → 1.0).
  */
object SelfIntersectFold extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case SortedIntersectCount(a, b) if a.semanticEquals(b) && a.deterministic =>
      Size(a, legacySizeOfNull = false)
  }
}

/** SparkSessionExtensions entry point: registers ALL of graft's native
  * kernels under SQL names (so `spark.sql("... cosine_sim(a, b) ...")`
  * works from pure SQL — including over the Thrift server / Spark
  * Connect, where no Scala Column API is reachable), graft's
  * optimizer rules and [[BindLiterals]], the physical rule that binds
  * a request's primitive literals as codegen parameters. Enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // composed pipeline operators as TABLE functions (r12): pure-SQL
    // clients compose quality -> dedup -> sample without any Scala
    SqlPipelines.builders.foreach { case (name, builder) =>
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    ext.injectOptimizerRule(_ => SelfIntersectFold)
    // the columnar hook is the one extension point that runs on the
    // physical plan after EnsureRequirements and before codegen stages
    // are collapsed; only its pre-transition half is used
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = BindLiterals
    })
  }
}

object GraftExtensions {

  /** Shape-literal arguments (band counts, dimensions) must be plan
    * constants — the kernels bake them into codegen.
    */
  private def intLit(name: String)(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
      org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name: expected an integer literal argument, got $other")
  }

  private def strLit(name: String)(e: Expression): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$name: expected a string literal argument, got $other")
  }

  /** Fail a wrong-arity SQL call with the function name and expected
    * signature instead of a bare IndexOutOfBoundsException from deep
    * inside analysis — pure-SQL (Thrift/Connect) users see only this
    * message.
    */
  private def arity(name: String, n: Int, sig: String)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    c => {
      if (c.length != n) throw new IllegalArgumentException(
        s"$name expects $n arguments: $name($sig), got ${c.length}")
      f(c)
    }

  /** One SQL name per native kernel. */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> arity("cosine_sim", 2, "array<float>, array<float>")(
      c => CosineSimilarity(c(0), c(1))),
    "all_finite" -> arity("all_finite", 1, "array<float> | array<double>")(
      c => AllFinite(c(0))),
    "int_dot_q20" -> arity("int_dot_q20", 2, "array<float>, array<float>")(
      c => IntDotQ20(c(0), c(1))),
    "sorted_intersect_count" ->
      arity("sorted_intersect_count", 2, "array<bigint>, array<bigint>")(
        c => SortedIntersectCount(c(0), c(1))),
    "simhash56" -> arity("simhash56", 1, "array<bigint>")(c => SimHash56(c(0))),
    "char_bigram_entropy_q" ->
      arity("char_bigram_entropy_q", 1, "string")(c => CharBigramEntropyQ(c(0))),
    "minhash_sig" -> arity("minhash_sig", 2, "array<string>, int literal")(
      c => MinhashSig(c(0), intLit("minhash_sig")(c(1)))),
    "md5_hash56_array" ->
      arity("md5_hash56_array", 2, "array<string>, string literal")(
        c => Md5Hash56Array(c(0), strLit("md5_hash56_array")(c(1)))),
    "hyperplane_buckets" ->
      arity("hyperplane_buckets", 4, "array<float>, dim, planes, tables (int literals)")(
        c => HyperplaneBuckets(c(0), intLit("hyperplane_buckets")(c(1)),
          intLit("hyperplane_buckets")(c(2)), intLit("hyperplane_buckets")(c(3)))),
  )

  /** The SQL functions, table functions and optimizer rule applied to
    * an already-running session. A running session cannot gain a
    * physical preparation rule, so literal binding ([[BindLiterals]])
    * exists only in sessions built with the extension conf
    * (`GraftSession.builder`).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    builders.foreach { case (name, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, name, builder)
    }
    SqlPipelines.builders.foreach { case (name, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerTableFunction(spark, name, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(SelfIntersectFold))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SelfIntersectFold
  }
}
