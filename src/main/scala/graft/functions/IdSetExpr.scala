package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}

/** `id ∈ ids` over a driver-resident id set: a binary search in one sorted
  * `Array[Long]`. Plans and prints as one node whatever the set's size —
  * an `In`/`InSet` filter of the same ids carries thousands of literals
  * through every optimizer pass and plan string.
  */
case class InIdSetExpr(child: Expression, ids: Array[Long])
    extends UnaryExpression with Predicate {
  override def prettyName: String = "in_id_set"
  override def toString: String = s"$prettyName($child, ${ids.length} ids)"

  protected override def nullSafeEval(id: Any): Any =
    java.util.Arrays.binarySearch(ids, id.asInstanceOf[Long]) >= 0

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arr = ctx.addReferenceObj("ids", ids, "long[]")
    defineCodeGen(ctx, ev, c => s"java.util.Arrays.binarySearch($arr, $c) >= 0")
  }

  override protected def withNewChildInternal(newChild: Expression): InIdSetExpr =
    copy(child = newChild)
}
