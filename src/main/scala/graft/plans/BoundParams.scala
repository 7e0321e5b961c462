package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types._

/** Per-query comparison values as bound parameters of generated code.
  *
  * Spark inlines every literal into the Java source of a whole-stage
  * codegen stage, and the codegen cache is keyed by that source. A scan
  * filtered on `time BETWEEN start AND end` therefore compiles a fresh
  * class (two Janino compiles for the engine's scan) for every new window, and
  * the query then runs code the JIT has never seen. Here the literal
  * operands of the comparisons in the `FilterExec` placed over a file scan
  * reach the generated code through the stage's `references` array
  * instead, so every query of one plan shape shares one compiled class.
  *
  * Only that `FilterExec` changes: the scan's data filters, and so the
  * Parquet row-group and page skipping pushed down from them, keep the real
  * literals. Literals outside a comparison, and everything outside the
  * filter (a `LIMIT`, an IN-list), stay inlined.
  */
object BoundParams {

  /** A non-null primitive literal whose value generated code reads from a
    * field, set once from the `references` array when the class is
    * instantiated. Prints, renders as SQL, evaluates and canonicalizes as
    * the literal it replaces, so plans, explain text and plan reuse are
    * unchanged. */
  case class Param(literal: Literal) extends LeafExpression {
    override def dataType: DataType = literal.dataType
    override def nullable: Boolean = false
    override def foldable: Boolean = true
    override def eval(input: InternalRow): Any = literal.value
    override lazy val canonicalized: Expression = literal
    override def toString: String = literal.toString
    override def sql: String = literal.sql

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("param", literal.value, CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    }
  }

  /** The types a [[Param]] carries: those whose generated-code value is a
    * Java primitive. */
  private def supported(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** `condition` with the bindable literal operands of its comparisons
    * (`=`, `<=>`, `<`, `<=`, `>`, `>=`) replaced by [[Param]]s. */
  def bind(condition: Expression): Expression = condition.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map {
      case l: Literal if l.value != null && supported(l.dataType) => Param(l)
      case e => e
    })
  }

  /** `FileSourceStrategy`'s plans, with the filter over each file scan
    * reading its comparison values as bound parameters. */
  object Strategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] =
      FileSourceStrategy(plan).map(_.transformUp {
        case f @ FilterExec(condition, _: FileSourceScanExec) =>
          f.copy(condition = bind(condition))
      })
  }

  /** Add [[Strategy]] to `spark`'s planner once; safe to call from any
    * number of threads and any number of times. */
  def install(spark: SparkSession): Unit = {
    val methods = spark.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(Strategy))
        methods.extraStrategies = methods.extraStrategies :+ Strategy
    }
  }
}
