package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive literal that generated code reads from the
  * plan's `references[]` instead of inlining. `Literal.doGenCode`
  * writes a primitive's value into the Java source (`1700001050286L`),
  * so a query that differs only in a bound is new source text: a
  * codegen-cache miss and a Janino compile. A held literal's source
  * names one class field, set once from `references[]` when the class
  * is initialised, so the text is the same for every value. It prints
  * as its literal in plan text and SQL.
  */
case class HeldLiteral(value: Any, dataType: DataType) extends LeafExpression {

  private lazy val literal = Literal(value, dataType)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("held", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "held",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }

  override def toString: String = literal.toString

  override def sql: String = literal.sql
}

/** Physical rule: hold every literal that `Literal.doGenCode` would
  * inline when it is an operand of a comparison (`<=>` included;
  * `BETWEEN` is `>=`/`<=` by now) or of an `IN` list in a
  * `FilterExec` condition, so a range query with new bounds reuses the
  * compiled class of the last one. It runs after the optimizer, so
  * push-down, file pruning and [[MvRewrite]] still see real literals,
  * and it touches no other operator or expression position (scales,
  * seeds and patterns stay foldable). A held literal is no `Literal`,
  * so re-applying the rule, as adaptive re-planning does, is a no-op.
  */
object HoldLiterals extends Rule[SparkPlan] {

  private def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def hold(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && inlined(t) => HeldLiteral(v, t)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val held = f.condition.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map(hold))
        case i: In => i.withNewChildren(i.children.map(hold))
      }
      if (held eq f.condition) f else f.copy(condition = held)
  }
}
