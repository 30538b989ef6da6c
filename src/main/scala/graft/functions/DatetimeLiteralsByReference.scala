package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType, TimestampType}

/** A non-null literal whose generated code reads its value from the
  * generated class's references instead of writing it into the source.
  * `eval` returns the value; the value is read once into a field of the
  * class, so the source, and with it Spark's class-cache key, does not
  * depend on it. It prints as the literal it replaces.
  */
case class ReferencedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "literal",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }

  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql
}

/** Pass the datetime literals of physical plans to generated code by
  * reference. The optimizer folds `current_timestamp()` and a run's
  * `lit(now)` or `lit(day)` into timestamp and date literals, and codegen
  * inlines a literal's value into the Java source, so a daily job that
  * is otherwise the same every run generates new source each run and
  * compiles it again in Janino. Rewriting those literals to
  * [[ReferencedLiteral]] keeps the source equal across runs, and Spark's
  * generated-class cache serves it.
  *
  * Only the expressions of non-leaf nodes are rewritten: a scan keeps its
  * literal filters, which parquet pushdown and partition pruning read.
  * It runs just before whole-stage codegen collapses the plan (the
  * columnar rules' pre-transition hook), in the non-adaptive
  * preparations and in each adaptive stage alike.
  */
object DatetimeLiteralsByReference extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case node if node.children.nonEmpty => node.transformExpressions {
      case Literal(v, t @ (DateType | TimestampType | TimestampNTZType)) if v != null =>
        ReferencedLiteral(v, t)
    }
  }
}
