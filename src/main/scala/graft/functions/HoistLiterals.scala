package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive constant whose value rides in a codegen REFERENCE OBJECT
  * instead of the Java source: [[Literal]] writes `7`, `3L` or `100.0D`
  * into the generated text, so two plans that differ only in a constant
  * are two Janino compiles (plus their JIT warm-up) and two entries of
  * Spark's compiled-class cache. This expression's generated source is
  * the same for every value: the constant is loaded once per generated
  * object into a primitive field (the [[ArgminDist]] centroid pattern)
  * and the per-row code reads that field unboxed.
  *
  * Everything but codegen behaves as the Literal it replaces: it is
  * foldable, never null, evaluates to `value`, and prints (toString,
  * sql) exactly as the Literal, so EXPLAIN output and plan audits do not
  * change. The value is part of equality and of the canonical form, so
  * two exchanges that differ in a constant are never reused for each
  * other. */
case class HoistedLiteral(value: Any, dataType: DataType)
    extends LeafExpression {

  private def literal: Literal = Literal(value, dataType)

  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  // boxed-object equality: 0.0 and -0.0 differ, NaN equals NaN (Scala's
  // numeric `==` on Any would merge the first pair and split the second)
  override def equals(other: Any): Boolean = other match {
    case o: HoistedLiteral => dataType == o.dataType &&
      java.util.Objects.equals(value, o.value)
    case _ => false
  }
  override def hashCode(): Int = 31 * dataType.hashCode + value.hashCode

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("hoisted", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "hoisted",
      v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** The physical-plan rule that replaces every non-null constant Spark
  * would inline into generated Java (boolean, integral, floating, date,
  * time, timestamp and interval types) by a [[HoistedLiteral]], in the
  * expressions of `FilterExec` and `ProjectExec` only: a dashboard
  * variant that differs from an earlier one only in its `only` literals
  * then reuses the earlier variant's compiled classes. Scans and every
  * other operator are left alone, and pushdown (parquet, OData) was
  * decided during planning, before this rule runs, so pushed filters do
  * not change.
  *
  * [[graft.Sessions.builder]] installs it as a pre-transition columnar
  * rule, which Spark applies just before `CollapseCodegenStages` on the
  * batch, the adaptive query-stage and the streaming incremental
  * execution paths. */
object HoistLiterals extends Rule[SparkPlan] {

  /** The types whose Literal codegen writes the value into the source. */
  private def inlined(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType |
        TimestampNTZType | _: TimeType | _: YearMonthIntervalType |
        _: DayTimeIntervalType => true
    case _ => false
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec) => p.transformExpressionsUp {
      case Literal(v, t) if v != null && inlined(t) => HoistedLiteral(v, t)
    }
  }

  /** This rule as a `SparkSessionExtensions.injectColumnar` rule. */
  val columnar: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = HoistLiterals
  }
}
