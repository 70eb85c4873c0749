package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, ExpandExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.types._

/** Physical rule that lets statements differing only in their constants
  * share compiled code. `Literal.doGenCode` pastes numeric and temporal
  * values into the generated Java source, and Spark's compiled-class cache
  * is keyed by that source, so every new number, date or timestamp compiled
  * fresh classes. The rule replaces each non-null literal of those types in
  * the expressions of the code-generated operators (Filter, Project,
  * HashAggregate, Expand) with a [[ParamLiteral]], whose code reads the
  * value from the class's `references`, as string and decimal literals
  * already do.
  *
  * It runs before the columnar transitions, so it sees every final physical
  * plan just before `CollapseCodegenStages`: each AQE query stage, AQE's
  * final stage, plans without AQE and streaming micro-batch plans. Scans
  * (and their pushed filters), window frames and limits keep their
  * literals, and everything planned earlier saw plain literals. */
object ParameterizeLiterals extends ColumnarRule {

  override def preColumnarTransitions: Rule[SparkPlan] = plan => plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec | _: HashAggregateExec | _: ExpandExec) =>
      p.transformExpressions {
        case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
      }
  }

  /** The types whose values `Literal.doGenCode` writes into the source
    * (booleans stay: they have two values). */
  private def inlined(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _: YearMonthIntervalType | _: DayTimeIntervalType | _: TimeType => true
    case _ => false
  }
}

/** A literal whose generated code reads its value once, when the class is
  * initialised, from `references` into a primitive field, so the source is
  * the same for every value. Evaluates, prints and folds like
  * `Literal(value, dataType)`. */
final case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "literal", f => s"$f = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}
