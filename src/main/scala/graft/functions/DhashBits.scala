package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression packing neighbor-gradient sign bits of a
  * numeric array into one long — `dhash_bits(arr, bits)` replaces the
  * interpreted higher-order dHash fold
  * `aggregate(zip_with(slice(arr,1,bits), slice(arr,2,bits), (a,b) -> when(a>b,1L,0L)), (s,p)=(0,1), (acc,bit) -> (s+bit*p, 2p), acc -> s)`
  * — which is `CodegenFallback` and allocates two slice arrays, a
  * zipped array, and `bits` intermediate accumulator structs PER ROW
  * (r22 §11; the perceptual media/audio fingerprint stage). Bit i of
  * the result is set iff `arr(i) > arr(i+1)`, for i in
  * `[0, min(bits, len))`, exactly replicating the original's edge
  * semantics (PerceptualKernelsSpec pins them): a comparison whose
  * right neighbor falls off the array or touches a NULL element votes
  * 0 (`when(a > b, ...)` over a null comparison takes the otherwise
  * branch; `zip_with` pads the shorter slice with nulls), an empty
  * array folds to 0, and a NULL array is NULL. Accepts `array<int>`
  * and `array<long>`; `bits` must be a foldable int in [0, 63].
  */
case class DhashBits(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemOk(e: Expression): Boolean = e.dataType match {
    case ArrayType(IntegerType, _) | ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!elemOk(left) || right.dataType != IntegerType || !right.foldable)
      return TypeCheckResult.TypeCheckFailure(
        s"dhash_bits expects (array<int>|array<long>, foldable int bits), " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
    val b = right.eval()
    if (b == null || b.asInstanceOf[Int] < 0 || b.asInstanceOf[Int] > 63)
      return TypeCheckResult.TypeCheckFailure(
        s"dhash_bits bits must be in [0, 63], got $b")
    TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "dhash_bits"

  @transient private lazy val isLongElem = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(arr: Any, bits: Any): Any =
    if (isLongElem)
      DhashBits.computeLong(arr.asInstanceOf[ArrayData], bits.asInstanceOf[Int])
    else
      DhashBits.computeInt(arr.asInstanceOf[ArrayData], bits.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (isLongElem) "computeLong" else "computeInt"
    nullSafeCodeGen(ctx, ev, (arr, bits) =>
      s"${ev.value} = graft.functions.DhashBits.$kernel($arr, $bits);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DhashBits =
    copy(left = newLeft, right = newRight)
}

object DhashBits {

  /** Shared kernels (interpreted eval and codegen both land here). A
    * pair votes 1 only when BOTH neighbors exist and are non-null —
    * the `when(a > b, 1).otherwise(0)` null semantics of the fold. */
  def computeInt(arr: ArrayData, bits: Int): Long = {
    val len = arr.numElements()
    val n = math.min(bits, len)
    var s = 0L
    var i = 0
    while (i < n) {
      if (i + 1 < len && !arr.isNullAt(i) && !arr.isNullAt(i + 1) &&
        arr.getInt(i) > arr.getInt(i + 1)) s |= 1L << i
      i += 1
    }
    s
  }

  def computeLong(arr: ArrayData, bits: Int): Long = {
    val len = arr.numElements()
    val n = math.min(bits, len)
    var s = 0L
    var i = 0
    while (i < n) {
      if (i + 1 < len && !arr.isNullAt(i) && !arr.isNullAt(i + 1) &&
        arr.getLong(i) > arr.getLong(i + 1)) s |= 1L << i
      i += 1
    }
    s
  }
}
