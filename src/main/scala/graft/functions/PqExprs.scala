package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels, called from generated code (r20: the PQ
  * encode/score path was the last interpreted ScalaUDF on a corpus-sized
  * scan — `UDF(UDF(embedding))` in the vec_pq_search plan; every other
  * distance kernel was already a codegen expression). Arithmetic is
  * bit-identical to the former UDFs: per-element float→double widening,
  * strictly sequential double accumulation, argmin ties to the LOWEST
  * centroid index (strict `<`), so the DuckDB oracle replay is unchanged.
  */
object PqKernels {

  /** per-subspace nearest-centroid codes (ProductQuantizer.encode):
    * codebooks is float[M][K][subDim]; v supplies M contiguous subDim
    * slices */
  def encode(v: ArrayData, cb: Array[Array[Array[Float]]]): ArrayData = {
    val m = cb.length
    val subDim = cb(0)(0).length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cents = cb(s)
      val base = s * subDim
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val t = cents(c)(j).toDouble - v.getFloat(base + j).toDouble
          d += t * t
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  /** asymmetric distance: sqrt of the sum of M table lookups
    * (ProductQuantizer.asymmetricDistance); table is double[M][K] */
  def adist(codes: ArrayData, table: Array[Array[Double]]): Double = {
    var s = 0
    var d = 0.0
    val n = codes.numElements()
    while (s < n) { d += table(s)(codes.getInt(s)); s += 1 }
    math.sqrt(d)
  }
}

/** the literal-argument contract both PQ expressions check at analysis:
  * the second child is evaluated once with no input row, so a column
  * reference or a wrongly-shaped literal must fail analysis by name */
private object PqLiteralArg {
  def check(fn: String, e: Expression, want: String)(
      shape: PartialFunction[DataType, Unit]): TypeCheckResult =
    if (!e.foldable)
      TypeCheckResult.TypeCheckFailure(s"$fn: the second argument must be a literal $want, not ${e.sql}")
    else if (!shape.isDefinedAt(e.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"$fn: the second argument must be $want, not ${e.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess
}

/** `pq_encode(vec, codebooksLit)` → array<int> of per-subspace codes.
  * The codebook child must be FOLDABLE (a literal): it is evaluated once
  * at plan time into a primitive float[][][] and shipped to generated
  * code as a reference object — rows never touch the nested literal. */
case class PqEncodeExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    PqLiteralArg.check(prettyName, right, "array<array<array<float>>>") {
      case ArrayType(ArrayType(ArrayType(FloatType, _), _), _) => }

  @transient private lazy val cb: Array[Array[Array[Float]]] = {
    val a = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(a.numElements()) { s =>
      val b = a.getArray(s)
      Array.tabulate(b.numElements())(c => b.getArray(c).toFloatArray())
    }
  }

  protected override def nullSafeEval(v: Any, @annotation.unused c: Any): Any =
    PqKernels.encode(v.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebooks", cb, "float[][][]")
    defineCodeGen(ctx, ev, (v, _) => s"graft.functions.PqKernels.encode($v, $ref)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `pq_adist(codes, tableLit)` → double asymmetric distance; the query's
  * (M × K) distance table rides as a foldable literal, precomputed into
  * a primitive double[][] exactly like [[PqEncodeExpr]]'s codebooks. */
case class PqAsymmetricExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "pq_adist"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    PqLiteralArg.check(prettyName, right, "array<array<double>>") {
      case ArrayType(ArrayType(DoubleType, _), _) => }

  @transient private lazy val tbl: Array[Array[Double]] = {
    val a = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(a.numElements())(s => a.getArray(s).toDoubleArray())
  }

  protected override def nullSafeEval(codes: Any, @annotation.unused t: Any): Any =
    PqKernels.adist(codes.asInstanceOf[ArrayData], tbl)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqTable", tbl, "double[][]")
    defineCodeGen(ctx, ev, (c, _) => s"graft.functions.PqKernels.adist($c, $ref)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}
