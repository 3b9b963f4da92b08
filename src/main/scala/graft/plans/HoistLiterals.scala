package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive constant whose generated code does not depend on its
  * value. `Literal` writes an int, long, double or date straight into
  * the generated Java, so two statements that differ only in a key or a
  * bound produce different source and each compiles its own Janino
  * classes. This leaf passes the value through the compiled class's
  * `references` array instead and copies it once per instance into a
  * primitive field: the source is identical for every value, so
  * `CodeGenerator`'s class cache hits, and rows read a field, with no
  * per-row unboxing.
  *
  * Not foldable: code generators that evaluate a foldable operand once
  * and write its value into the source must not do so here. It
  * renders exactly as the `Literal` it replaces, so EXPLAIN output and
  * plan strings do not change. */
case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hoisted", value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType),
      "hoisted", v => s"$v = $ref;")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical-plan rule: same-shape statements reuse their compiled
  * classes. Every non-null primitive `Literal` (integral, float/double,
  * date, timestamp) that is a direct operand of a comparison or of
  * arithmetic inside a `FilterExec` condition or a `ProjectExec`
  * projection becomes a [[HoistedLiteral]]. `WHERE c_custkey = 17` and
  * `WHERE c_custkey = 42` then generate the same Java, and the second
  * compiles nothing.
  *
  * Runs as a pre-columnar-transition rule (see
  * [[graft.functions.GraftExtensions]]), which Spark applies in the
  * plain `QueryExecution` preparations and to every adaptive query
  * stage, in both cases before `CollapseCodegenStages`.
  *
  * Left as they are:
  *  - the logical plan, so constant folding, statistics and parquet
  *    pushdown see the `Literal`;
  *  - scan nodes' filters (`FileSourceScanExec` data, partition and
  *    pushed filters, `InMemoryTableScanExec.predicates`): pushdown and
  *    cached-batch pruning pattern-match on `Literal`;
  *  - strings and decimals, which `Literal` already passes by reference;
  *  - `Like`, `In`/`InSet` and every other expression whose code is
  *    built from the constant itself. */
object HoistLiterals extends Rule[SparkPlan] {

  private def primitive(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def hoist(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && primitive(dt) => HoistedLiteral(v, dt)
    case other => other
  }

  private def rewrite(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryComparison | _: BinaryArithmetic) =>
      op.withNewChildren(op.children.map(hoist))
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = rewrite(f.condition))
    case p: ProjectExec =>
      p.copy(projectList =
        p.projectList.map(rewrite(_).asInstanceOf[NamedExpression]))
  }
}
