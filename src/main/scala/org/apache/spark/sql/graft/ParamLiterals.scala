package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A literal whose value stays out of the generated Java source — the
  * reference's `ParamLiteral` (SURVEY.md §3.1), applied to generated code.
  *
  * Spark's `Literal.doGenCode` writes primitive, date, timestamp and
  * interval values into the source text, and `CodeGenerator`'s compile
  * cache is keyed by that text: `WHERE k = 17` and `WHERE k = 18` each
  * run Janino inside the task. This expression instead reads its value
  * from the `references` array into a class field when the generated
  * object is constructed, so structurally equal plans share one class.
  *
  * It evaluates, prints (`toString`, `sql`) and compares equal exactly
  * like the `Literal` it replaces, so interpreted fallbacks, EXPLAIN and
  * exchange/subquery reuse (two filters differing only in the value
  * stay distinct) see no difference. Built only by [[ParamLiterals]],
  * always with a non-null value.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }
  override def hashCode(): Int = literal.hashCode()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Rewrites the literals Spark would inline into generated code into
  * [[ParamLiteral]]s. Injected as a `preColumnarTransitions` rule, so it
  * runs on the prepared physical plan right before `CollapseCodegenStages`
  * (in each AQE query stage too); logical plans, scan pushdown (bucket
  * pruning, the row store's PK probe) never see it.
  *
  * Scope: non-null literals of an inlined type that are a direct operand
  * of a `BinaryComparison` or an `In`, inside a `FilterExec` condition or
  * a `ProjectExec` list — the positions TokenizationSpec pins. Strings,
  * decimals and binaries already go through `references`.
  */
object ParamLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = tokenize(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(tokenize(_).asInstanceOf[NamedExpression]))
  }

  private def tokenize(e: Expression): Expression = e.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    case in: In => in.withNewChildren(in.children.map(param))
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && inlined(dt) => ParamLiteral(v, dt)
    case other => other
  }

  private def inlined(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _: YearMonthIntervalType | _: DayTimeIntervalType => true
    case _ => false
  }
}
