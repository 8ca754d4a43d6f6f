package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CodegenSupport, ColumnarRule, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code reads its value from
  * the compiled class's `references` array — the way Spark already passes
  * String and Decimal literals — instead of writing it into the Java
  * source. Everything else behaves as the wrapped [[Literal]]: it is
  * foldable, `eval` returns the value, and `toString`/`sql`/equality are
  * the literal's, so plan strings and canonical forms do not change. */
case class ParamLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", literal.value,
      CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(JavaCode.global(
      s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
  }
}

/** Literal-parameterized codegen. Spark writes primitive literals straight
  * into the generated source, so two statements that differ only in a
  * probe value (`WHERE doc_id = 7` vs `= 8`, `distance < 4` vs `< 5`)
  * miss the codegen cache and each pay a Janino compile. This rule swaps
  * those literals for [[ParamLiteral]]s in the expressions of non-leaf
  * codegen operators, so such statements generate the same source and
  * share one compiled class; the values travel as reference objects.
  *
  * Left alone:
  *  - leaf scans, so pushed and partition filters keep their `Literal`s;
  *  - logical plans (the rule is physical), so optimizer rules such as
  *    [[MetricPrefixPruning]] still match `Literal`;
  *  - null literals and types Spark already passes by reference;
  *  - aggregate functions: each instance allocates its own buffer
  *    attributes, so a rewritten copy in the partial aggregate would no
  *    longer line up with the final aggregate's input.
  */
object ParameterizeLiterals extends Rule[SparkPlan] {

  /** The types `Literal.doGenCode` inlines as Java source text. */
  private def inlined(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
         BooleanType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case l: Literal if l.value != null && inlined(l.dataType) => ParamLiteral(l)
    case a: AggregateExpression => a
    case other => other.mapChildren(param)
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p: CodegenSupport if p.children.nonEmpty => p.mapExpressions(param)
  }

  /** Columnar rules run right before `CollapseCodegenStages`, both in the
    * non-adaptive preparations and in AQE's post-stage-creation rules —
    * the one extension point that sees every physical plan before its
    * code is generated. */
  object Hook extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParameterizeLiterals
  }
}
