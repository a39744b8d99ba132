package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.types.{DataType, UserDefinedType}

/** A constant whose generated code does not depend on its value. The
  * value rides in the generated class's `references` array (boxed) and
  * is unboxed once into a primitive field when the class initialises,
  * so two plans that differ only in such constants produce the same
  * Java source and share one compiled class.
  *
  * Renders, evaluates and compares exactly like the wrapped [[Literal]];
  * non-foldable so ConstantFolding doesn't turn it back into one.
  */
case class ChConst(lit: Literal) extends LeafExpression {
  def value: Any = lit.value
  override def dataType: DataType = lit.dataType
  override def foldable: Boolean = false
  override def nullable: Boolean = value == null
  override def eval(input: InternalRow): Any = value
  override def toString: String = lit.toString
  override def sql: String = lit.sql
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (value == null) ExprCode.forNullValue(dataType)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("const", value,
        CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(javaType, "const",
        v => s"$v = $ref.${javaType}Value();", forceInline = true)
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    }
  }
}

/** Optimizer rule: replace primitive-carrier UDT literals (produced by
  * ConstantFolding evaluating toIPv4/true-Bool/... over constants) with
  * [[ChConst]]. Spark's `Literal.doGenCode` reaches such values through
  * `references[i]` with a cast straight to the primitive
  * (`(long) references[i]`), which is invalid Java — the whole stage
  * then compiles-and-aborts per batch and falls back to interpretation.
  * Logical, not physical: partition-filter predicates on scans need it.
  */
object ChUdtLiteralRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_ => true) {
      case l @ Literal(v, udt: UserDefinedType[_])
          if v != null && CodeGenerator.isPrimitiveType(udt) =>
        ChConst(l)
    }
}

/** Physical rule: operands of comparisons and arithmetic become
  * [[ChConst]] when they are primitive literals. Spark's
  * `Literal.doGenCode` writes int/long/double/date/timestamp/... values
  * into the generated Java source, so the same query shape with new
  * constants misses `CodeGenerator`'s cache and compiles (then
  * JIT-compiles) fresh classes every time. Leaf operators keep their
  * literals, so scan pushdown and partition pruning see them unchanged.
  * Runs before `CollapseCodegenStages`, for AQE stages and plain plans.
  */
object ChConstHoistRule extends Rule[SparkPlan] {
  private def hoist(e: Expression): Expression = e match {
    case l @ Literal(v, dt) if v != null && CodeGenerator.isPrimitiveType(dt) =>
      ChConst(l)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p if p.children.nonEmpty =>
      p.transformExpressions {
        case e @ (_: BinaryComparison | _: BinaryArithmetic) =>
          e.withNewChildren(e.children.map(hoist))
      }
  }
}

/** Injects [[ChConstHoistRule]] ahead of the columnar transitions. */
object ChConstColumnarRule extends ColumnarRule {
  override def preColumnarTransitions: Rule[SparkPlan] = ChConstHoistRule
}
