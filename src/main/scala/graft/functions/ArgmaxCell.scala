package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** The parsed centroid model behind [[ArgmaxCell]] — ids sorted
  * ascending, the K×Dim matrix in id order, and each centroid's squared
  * norm pre-accumulated ONCE (ascending-index double fold, the exact op
  * sequence [[CosineSimilarity]] runs per row — pre-folding it is safe
  * because IEEE addition over the same operands in the same order is
  * deterministic). Top-level class (not a companion nested type) so the
  * generated code's `addReferenceObj` cast names a `$`-free class that
  * Janino resolves unambiguously. */
final class ArgmaxCellModel(
    val ids: Array[Long],
    val matrix: Array[Array[Double]],
    val norms: Array[Double],
    val edIsDouble: Boolean,
    val edMayHaveNulls: Boolean) extends Serializable {

  /** Row kernel: the argmax-cosine cell of `ed`, bit-identical to the
    * `greatest(struct(round(cosine_similarity(ed, c_k), 6), -id_k))`
    * chain this expression replaces (see [[ArgmaxCell]]):
    *  - per-centroid csim = HALF_UP 6dp rounding of the same
    *    ascending-order dot/norm folds ([[CosineSimilarity]]'s
    *    arithmetic contract, with the ed-norm and centroid-norm folds
    *    hoisted — identical operand sequences, so identical doubles);
    *  - comparison keeps the FIRST maximum over ids ascending, so ties
    *    resolve to the lowest cent_id exactly like the struct max over
    *    (csim, -id) and the oracle's `ORDER BY csim DESC, cent_id`;
    *  - doubles compare with +0.0 normalization and NaN-largest
    *    (`Double.compare(x + 0.0, y + 0.0)`) — Spark's SQL double
    *    ordering inside the struct comparison;
    *  - a NULL csim (zero norm, length mismatch, null element) never
    *    beats a non-null one (struct ordering sorts null smallest);
    *    when EVERY csim is null the chain's max falls through to the
    *    nid field and yields the lowest cent_id — reproduced here by
    *    the `ids(0)` default (ids are sorted).
    * Called per row from both interpreted eval and the generated code
    * (the [[MinHashSig.compute]] static-kernel pattern: whole-stage
    * codegen emits one virtual call; the K×Dim loop is JIT-compiled
    * Scala, never an interpreted Catalyst lambda). */
  def assign(ed: ArrayData): Long = {
    val n = ed.numElements()
    var na = 0d
    var edNull = false
    var i = 0
    while (i < n && !edNull) {
      if (edMayHaveNulls && ed.isNullAt(i)) edNull = true
      else {
        val xi = if (edIsDouble) ed.getDouble(i) else ed.getFloat(i).toDouble
        na += xi * xi
        i += 1
      }
    }
    var bestId = ids(0)
    if (!edNull) {
      var any = false
      var best = 0d
      var k = 0
      while (k < matrix.length) {
        val c = matrix(k)
        if (c.length == n) {
          var dot = 0d
          var j = 0
          if (edIsDouble) {
            while (j < n) { dot += ed.getDouble(j) * c(j); j += 1 }
          } else {
            while (j < n) { dot += ed.getFloat(j).toDouble * c(j); j += 1 }
          }
          val denom = math.sqrt(na) * math.sqrt(norms(k))
          if (denom != 0d) {
            val q = dot / denom
            val csim =
              if (java.lang.Double.isNaN(q) || java.lang.Double.isInfinite(q)) q
              else java.math.BigDecimal.valueOf(q)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            if (!any || java.lang.Double.compare(csim + 0d, best + 0d) > 0) {
              any = true
              best = csim
              bestId = ids(k)
            }
          }
        }
        k += 1
      }
    }
    bestId
  }
}

/** Native Catalyst expression `argmax_cell(ed, ids, centroids)` — the
  * 11th native kernel: the cell id whose centroid has the maximum
  * 6dp-rounded cosine similarity with `ed`, ties to the lowest id.
  * `ids` (array<bigint>) and `centroids` (array<array<double>>) must be
  * FOLDABLE — they are the collected K-row centroid model, a bounded
  * artifact (K is the caller's dial, never data-sized).
  *
  * Why this exists (VERDICT r19 next-round #1): the assignment primitive
  * under the semantic-dedup family, IVF search, and every Lloyd round
  * was a `greatest()` over K struct columns, each carrying a Dim-element
  * array literal — K×Dim literals in the expression tree and a K-arm
  * greatest, a driver-side plan-size/codegen ceiling (wide-expression
  * codegen falls back past the JVM method/field limits) far below the
  * K ~ 10⁵ the published semantic-dedup pipelines run. Here the model is
  * ONE reference object: plan size is O(1) in K, codegen is one call
  * into the JIT-compiled [[ArgmaxCellModel.assign]] loop, and the
  * per-row work drops ~2× (ed and centroid norms fold once instead of
  * once per centroid per row).
  *
  * Null semantics: null `ed` → NULL (standard null-intolerant input) —
  * the ONE deliberate deviation from the greatest chain, which yields
  * the lowest cent_id for a null ed because every struct arm's csim is
  * null; no caller feeds null vectors (embeddings are non-null by
  * schema), and NULL is the honest answer. All other degenerate rows
  * (zero-norm ed, null element, dimension mismatch against every
  * centroid) reproduce the chain exactly: lowest cent_id.
  * Bit-identity with the chain is pinned by SimilaritySpec on a planted
  * fixture and on generated data at K=256. */
case class ArgmaxCell(ed: Expression, ids: Expression, cents: Expression)
  extends TernaryExpression {

  override def first: Expression = ed
  override def second: Expression = ids
  override def third: Expression = cents

  override def checkInputDataTypes(): TypeCheckResult = {
    val edOk = ed.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val idsOk = ids.dataType match {
      case ArrayType(LongType, _) => ids.foldable
      case _ => false
    }
    val centsOk = cents.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => cents.foldable
      case _ => false
    }
    if (edOk && idsOk && centsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "argmax_cell expects (array<float|double> ed, foldable array<bigint> ids, " +
        s"foldable array<array<double>> centroids), got (${ed.dataType.simpleString}, " +
        s"${ids.dataType.simpleString}, ${cents.dataType.simpleString})")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "argmax_cell"

  /** Parsed once per (driver plan / deserialized task), not per row:
    * ids and centroids are foldable, so eval(null) is legal here. The
    * zip is sorted by id so [[ArgmaxCellModel.assign]]'s first-max scan
    * reproduces the lowest-id tie-break. */
  @transient private lazy val model: ArgmaxCellModel = {
    val idData = ids.eval().asInstanceOf[ArrayData]
    val cData = cents.eval().asInstanceOf[ArrayData]
    require(idData != null && cData != null, "argmax_cell: null centroid model")
    val k = idData.numElements()
    require(k > 0, "argmax_cell: empty centroid model")
    require(k == cData.numElements(),
      s"argmax_cell: ${k} ids but ${cData.numElements()} centroids")
    val sorted = (0 until k).map { i =>
      require(!cData.isNullAt(i), s"argmax_cell: null centroid at $i")
      require(!idData.isNullAt(i), s"argmax_cell: null centroid id at $i")
      val row = cData.getArray(i)
      // ADVICE r20: toDoubleArray over an array with null ELEMENTS is
      // ArrayData-implementation-defined (NPE or silent 0.0) — reject
      // loudly; unreachable from internal callers (typedlit models), but
      // the function is SQL-registered so arbitrary literals can arrive
      require((0 until row.numElements()).forall(j => !row.isNullAt(j)),
        s"argmax_cell: centroid $i contains null elements")
      (idData.getLong(i), row.toDoubleArray())
    }.sortBy(_._1)
    require(sorted.map(_._1).distinct.length == k,
      "argmax_cell: duplicate centroid ids in the model")
    val norms = sorted.map { case (_, c) =>
      var nb = 0d
      var j = 0
      while (j < c.length) { nb += c(j) * c(j); j += 1 }
      nb
    }
    val edIsDouble = ed.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val edMayHaveNulls = ed.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    }
    new ArgmaxCellModel(sorted.map(_._1).toArray, sorted.map(_._2).toArray,
      norms.toArray, edIsDouble, edMayHaveNulls)
  }

  override def nullSafeEval(edVal: Any, idsVal: Any, centsVal: Any): Any =
    model.assign(edVal.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _, _) => {
      val m = ctx.addReferenceObj("argmaxModel", model,
        classOf[ArgmaxCellModel].getName)
      s"${ev.value} = $m.assign($a);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): ArgmaxCell =
    copy(ed = newFirst, ids = newSecond, cents = newThird)
}
