package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.DataType

/** A per-run value (a date, an hour, a version) as a bound parameter
  * instead of an inlined literal.
  *
  * Spark writes int and long literals straight into the generated Java
  * source, and its codegen cache is keyed by that source, so a plan
  * that differs from the last one only in such a literal compiles every
  * whole-stage class again (Janino, then the JIT). A parameter reaches
  * the generated code through `ctx.addReferenceObj` — the way Spark
  * already passes string and decimal literals — so the source text is
  * the same for every value and the cache hits.
  *
  * It is not foldable: use it only where nothing must fold on the
  * driver (a partition key that resolves to a leaf without a job stays
  * a literal). A predicate over it is not pushed down to Parquet, which
  * costs nothing where the predicate could not be pushed anyway (over a
  * derived column) or the scan is already pruned to its leaf.
  */
object Param {
  /** `v` (non-null; any type `lit` accepts) as a parameter column. */
  def apply(v: Any): Column = {
    require(v != null, "Param: a parameter is never NULL")
    val l = Literal(v)
    bridge.column(ParamExpr(l.value, l.dataType))
  }
}

/** The leaf behind [[Param]]: `value` in Catalyst's internal form. */
case class ParamExpr(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val ref = ctx.addReferenceObj("param", value, boxed)
    val read =
      if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = code"final $javaType ${ev.value} = $read;", isNull = FalseLiteral)
  }

  override def toString: String = s"param($value)"
  override def sql: String = s"param(${Literal(value, dataType).sql})"
}
