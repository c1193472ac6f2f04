package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.{DataType, IntegerType}

/** An int constant that generated code reads from its stage's
  * references array instead of inlining as a Java literal.
  *
  * Spark compiles one class per distinct generated source and caches
  * the classes per JVM, so a plan rerun with a different constant (the
  * crawl wave number) recompiles every pipeline the constant reaches.
  * Bound, the constant leaves the source byte-identical from run to
  * run. The expression is deterministic, so filters over it still push
  * through projections, joins and aggregates, but it is never
  * foldable: constant folding would turn it back into an inlined
  * literal. For the same reason a data source cannot take a predicate
  * over it as a pushed filter; prune by other means (the crawl selects
  * snapshot segments by wave instead).
  *
  * Built by [[Kernels.bound_int]] (SQL: `graft_bound_int(n)`).
  */
final case class BoundInt(value: Int) extends LeafExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", Integer.valueOf(value), "java.lang.Integer")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(s"$ref.intValue()", IntegerType))
  }

  override def sql: String = s"graft_bound_int($value)"
  override def toString: String = s"bound($value)"
}
