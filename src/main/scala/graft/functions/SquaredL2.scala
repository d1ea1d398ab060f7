package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression computing the SQUARED L2 distance of two
  * `array<float>`/`array<double>` columns (each side independently
  * typed), with whole-stage codegen — the distance kernel behind the
  * product-quantization family in [[graft.llm.Similarity]].
  *
  * Why this exists (the r19 HOF finding, SCALE.md): the PQ paths spelled
  * this distance as `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)),
  * 0D, (p,q) -> p+q)` — a SQL higher-order function, whose lambda
  * evaluates INTERPRETED with per-element boxing. That fold sits on the
  * corpus-wide hot paths: PQ encode visits it n·M·K times (every
  * subvector against every codebook entry), ADC search per candidate
  * per subspace. The same measurement that drove the argmax fold
  * (interpreted HOF 1.3× SLOWER than the shuffle it replaced) applies:
  * a native loop keeps the whole pass inside codegen.
  *
  * Arithmetic contract (oracle compatibility): accumulates
  * `(x_i − y_i)²` in ascending element order as doubles (floats widened
  * per element, exactly) — the precise op sequence of the HOF fold it
  * replaces and of DuckDB's `list_reduce(list_transform(list_zip(...)))`
  * spelling, so results are bit-identical and the 6dp edge rounding
  * downstream sees the same double. NULL when either array is null,
  * when lengths differ, or when any visited element is null — the
  * zip_with padding/poisoning semantics, matching [[DotProduct]]. */
case class SquaredL2(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(elemType(_).isDefined)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"squared_l2 expects two array<float>/array<double> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "squared_l2"

  private def isDoubleSide(e: Expression): Boolean =
    elemType(e).contains(DoubleType)

  // hoisted: dataType pattern-matching must not run once per interpreted row
  @transient private lazy val xd = isDoubleSide(left)
  @transient private lazy val yd = isDoubleSide(right)
  @transient private lazy val xMayHaveNulls = left.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }
  @transient private lazy val yMayHaveNulls = right.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0d
    var i = 0
    while (i < n) {
      if ((xMayHaveNulls && x.isNullAt(i)) || (yMayHaveNulls && y.isNullAt(i)))
        return null
      val xi = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      val d = xi - yi
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val sawNull = ctx.freshName("sawNull")
      val getX =
        if (isDoubleSide(left)) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getY =
        if (isDoubleSide(right)) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      val nullChecks = Seq(
        if (xMayHaveNulls) Some(s"$a.isNullAt($i)") else None,
        if (yMayHaveNulls) Some(s"$b.isNullAt($i)") else None).flatten
      val nullGuard =
        if (nullChecks.isEmpty) ""
        else s"if (${nullChecks.mkString(" || ")}) { $sawNull = true; break; }"
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |boolean $sawNull = $n != $b.numElements();
         |if (!$sawNull) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    double $d = ($getX) - ($getY);
         |    $acc += $d * $d;
         |  }
         |}
         |if ($sawNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)
}
