package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** Physical rule: keep request values out of generated Java source.
  *
  * Spark's `Literal` writes int, long and double values into the code
  * it generates, and the janino class cache is keyed by that code's
  * text. So `timestamp = t` compiles a fresh class for every `t`: on a
  * serving loop of point and range lookups, compilation (and the JIT
  * work on each new class) outweighs the data work. This rule swaps the
  * non-null primitive literals that are direct operands of a
  * `FilterExec` comparison for a [[ParamLiteral]], whose code loads the
  * value from the generated class's `references` array. Two requests of
  * the same shape then produce identical code and share one compiled
  * class.
  *
  * It runs as a `ColumnarRule.preColumnarTransitions` — after physical
  * planning, before `CollapseCodegenStages`, in AQE stages and non-AQE
  * plans alike. Everything that decides WHICH data is read (parquet
  * filter pushdown, partition pruning, the catalog's manifest pruning)
  * has already consumed the original `Literal` by then; only the
  * residual row filter is rewritten.
  */
object ParamLiterals extends Rule[SparkPlan] {

  /** The types whose `Literal` codegen inlines the value as Java source. */
  private def parameterizable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DoubleType | FloatType | ShortType | ByteType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && parameterizable(dt) => ParamLiteral(v, dt)
    case other => other
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = f.condition.transformUp {
        case c: BinaryComparison => c.withNewChildren(c.children.map(param))
      }
      if (cond.fastEquals(f.condition)) f else f.copy(condition = cond)
  }

  /** The rule in the shape `SparkSessionExtensions.injectColumnar` takes. */
  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
  }
}

/** A non-null primitive constant whose generated code reads the value
  * from `references` into a primitive field once, when the generated
  * object is initialized, instead of writing it into the source. Evaluates,
  * prints and renders as SQL exactly as the `Literal` it replaced.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {

  private def literal: Literal = Literal(value, dataType)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override def toString: String = literal.toString

  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "paramLit",
      v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}
