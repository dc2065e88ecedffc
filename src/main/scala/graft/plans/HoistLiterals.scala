package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive constant whose generated code reads the value from the
  * compiled class's `references` once, at init, into a primitive field,
  * instead of inlining it as Java source like [[Literal]] does. Two plans
  * that differ only in such constants generate byte-identical source, so
  * the second hits Spark's codegen cache and runs the class the JIT has
  * already compiled. Everything else reads like the `Literal` it wraps:
  * `toString` and `sql` (so explain output does not change) and `eval`
  * (so the interpreted path does not change).
  */
case class HoistedLiteral(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("hoisted", lit.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "hoisted",
      v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical-plan rule: a non-null primitive literal that is a direct
  * operand of a binary comparison or binary arithmetic expression, inside
  * a `FilterExec` condition or a `ProjectExec` list, becomes a
  * [[HoistedLiteral]]. Statements that differ only in such constants (q06
  * served with new dates and discount bands) then reuse one compiled
  * class. Scans keep their literal pushed and partition filters; strings
  * and decimals are already passed by reference. Only an expression that
  * is not foldable is rewritten, so no expression's foldability changes and
  * arguments Spark needs foldable (Like patterns, round scales) stay
  * literals.
  */
object HoistLiterals extends Rule[SparkPlan] {

  private def hoistable(l: Literal): Boolean = l.value != null && (l.dataType match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  })

  private def hoist(e: Expression): Expression = e.transformUp {
    case b @ (_: BinaryComparison | _: BinaryArithmetic) if !b.foldable =>
      b.mapChildren {
        case l: Literal if hoistable(l) => HoistedLiteral(l)
        case c => c
      }
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = hoist(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(hoist(_).asInstanceOf[NamedExpression]))
  }

  /** Installed before the columnar transitions, so it runs in
    * `QueryExecution.preparations` and again on every adaptive query stage.
    */
  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = HoistLiterals
  }
}
