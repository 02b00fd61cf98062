package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, BinaryArithmetic, BinaryComparison, Expression, In, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive constant that whole-stage codegen reads as a
  * parameter instead of inlining it.
  *
  * Spark writes every primitive `Literal` into the generated Java
  * (`(l_partkey = 4711L)`), so a request shape that is served with a
  * new key each time compiles a new class per key — ~15–20 ms of
  * driver-side Janino time per request, and the churn evicts stable
  * classes from the 100-entry codegen cache. `BoundLiteral` puts its
  * value into the generated class's `references` array and reads it
  * into a field once at class init, so the Java text — and with it the
  * compiled class — depends only on the query's shape.
  *
  * It renders exactly like the `Literal` it replaces (`toString`,
  * `sql`), so explain output does not change. It is not `foldable`: it
  * only ever sits where a value is consumed (see [[BindLiterals]]),
  * never where an operator needs a compile-time constant.
  */
case class BoundLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && BoundLiteral.bindable(dataType),
    s"BoundLiteral holds a non-null primitive, got $value: ${dataType.simpleString}")

  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundLiteral", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "boundLiteral",
      v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.variable(field, dataType))
  }
}

object BoundLiteral {
  /** Types whose `Literal` codegen inlines the value. String and
    * Decimal literals are already reference-backed in Spark.
    */
  val bindable: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, DateType, TimestampType)
}

/** Physical rule: turn the primitive literals that a Filter or Project
  * consumes as values — comparison, arithmetic and `IN` operands, and
  * projected aliases — into [[BoundLiteral]]s, so one query shape
  * compiles one class whatever its keys.
  *
  * Runs before the columnar transitions, which Spark applies ahead of
  * `CollapseCodegenStages` both in `QueryExecution`'s preparations and
  * in AQE's per-stage rules. Scan nodes are untouched: their pushed
  * filters keep real `Literal`s, so parquet pruning and `PushedFilters`
  * are as before. Literals that must be compile-time constants (a
  * `round` scale, a `like` pattern, a kernel's shape argument) are not
  * operands of these node kinds and stay inline.
  */
object BindLiterals extends Rule[SparkPlan] {
  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && BoundLiteral.bindable(t) => BoundLiteral(v, t)
    case other => other
  }

  private def bindOperands(e: Expression): Expression = e.transformUp {
    case c @ (_: BinaryComparison | _: BinaryArithmetic) => c.withNewChildren(c.children.map(param))
    case i: In => i.copy(list = i.list.map(param))
  }

  private def bindProjected(e: NamedExpression): NamedExpression = e match {
    case a: Alias => a.withNewChildren(Seq(param(bindOperands(a.child)))).asInstanceOf[Alias]
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = bindOperands(f.condition))
    case p: ProjectExec => p.copy(projectList = p.projectList.map(bindProjected))
  }
}
