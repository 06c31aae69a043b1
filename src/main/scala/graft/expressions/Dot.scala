package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.bitset.BitSetMethods

/** Native dot product Σaᵢbᵢ over `array<float>` or `array<double>` (either
  * side, mixed allowed), accumulated in double left to right from +0.0.
  *
  * It is the codegen'd twin of `aggregate(zip_with(a, b, _*_), 0d, _+_)`:
  * the same double ops in the same order, so the results are bit-identical,
  * and identical to DuckDB's `list_dot_product` on the oracle side. The HOF
  * form runs interpreted (lambda dispatch and a boxed element read per
  * component); this one is a primitive loop inside the fused stage.
  *
  * Null contract, the HOF form's: a null array, any null element, or a
  * length mismatch (zip_with pads the shorter side with nulls) → null.
  * Empty arrays → 0.0. */
case class Dot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot expects (array<float|double>, array<float|double>), got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  private def read(a: ArrayData, i: Int, t: DataType): Double =
    if (t == FloatType) a.getFloat(i).toDouble else a.getDouble(i)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements() || VectorKernel.anyNull(x) || VectorKernel.anyNull(y)) return null
    val (lt, rt) = (elemType(left).get, elemType(right).get)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += read(x, i, lt) * read(y, i, rt)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val x = CodeGenerator.getValue(a, elemType(left).get, i)
      val y = CodeGenerator.getValue(b, elemType(right).get, i)
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements() || ${VectorKernel.anyNullCall(a, b)}) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $x * (double) $y;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Dot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot"
}

object VectorKernel {
  /** Whether `a` holds a null element. For an `UnsafeArrayData` this tests
    * its null bitmap (the words `isNullAt` reads, zero-filled past the
    * last element) one 64-element word at a time, so the kernels' inner
    * loops need no per-element null check. */
  def anyNull(a: ArrayData): Boolean = a match {
    case u: UnsafeArrayData =>
      BitSetMethods.anySet(u.getBaseObject, u.getBaseOffset + 8, (u.numElements() + 63) / 64)
    case _ =>
      var i = 0
      while (i < a.numElements() && !a.isNullAt(i)) i += 1
      i < a.numElements()
  }

  /** Generated-code test: either array holds a null element. */
  def anyNullCall(a: String, b: String): String =
    s"graft.expressions.VectorKernel.anyNull($a) || graft.expressions.VectorKernel.anyNull($b)"
}
