package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate, UnaryExpression}

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

/** `(id, seq)` is one of a driver-resident set of version keys: `ids` is
  * sorted and unique, `seqs` is parallel to it (the key set holds one
  * version per id). A binary search on `id`, then one compare of `seq`
  * at the found slot. Plans and prints as one node, like [[InIdSetExpr]].
  */
case class InLiveVersionExpr(left: Expression, right: Expression,
                             ids: Array[Long], seqs: Array[Long])
    extends BinaryExpression with Predicate {
  override def prettyName: String = "in_live_version"
  override def toString: String = s"$prettyName($left, $right, ${ids.length} keys)"

  protected override def nullSafeEval(id: Any, seq: Any): Any = {
    val at = java.util.Arrays.binarySearch(ids, id.asInstanceOf[Long])
    at >= 0 && seqs(at) == seq.asInstanceOf[Long]
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
    val seqsRef = ctx.addReferenceObj("seqs", seqs, "long[]")
    val at = ctx.freshName("at")
    nullSafeCodeGen(ctx, ev, (id, seq) =>
      s"""int $at = java.util.Arrays.binarySearch($idsRef, $id);
         |${ev.value} = $at >= 0 && $seqsRef[$at] == $seq;""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): InLiveVersionExpr =
    copy(left = newLeft, right = newRight)
}

object InLiveVersionExpr {
  /** the key arrays ordered by id (as given when `ids` already ascends);
    * rejects a repeated id */
  def sortedKeys(ids: Array[Long], seqs: Array[Long]): (Array[Long], Array[Long]) = {
    require(ids.length == seqs.length,
      s"in_live_version: ${ids.length} ids but ${seqs.length} seqs")
    def ascending(a: Array[Long]) = (1 until a.length).forall(i => a(i - 1) < a(i))
    if (ascending(ids)) (ids, seqs)
    else {
      val order = ids.indices.sortBy(ids(_)).toArray
      val sorted = order.map(ids(_))
      require(ascending(sorted), "in_live_version: an id appears twice")
      (sorted, order.map(seqs(_)))
    }
  }
}
