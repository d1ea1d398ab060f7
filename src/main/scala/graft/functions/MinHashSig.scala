package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native Catalyst expression for a document's k-hash MinHash signature:
  * `minhash_sig(shingles, k)` returns the array of k per-family minima in
  * one O(shingles·k) pass per row.
  *
  * Why a native expression and not explode+groupBy: the signature
  * aggregate (retained as the cross-check twin
  * [[graft.llm.Dedup.minhashSigExploded]]) explodes one row PER SHINGLE
  * and shuffles the whole shingle stream back onto doc_id to feed 64
  * min() buffers. Every minimum only reads its own row's shingles, so the
  * signature is row-local — this expression turns the stage into a map
  * (the same argument, and the same measured shuffle removal, as
  * [[SimHashWord]]), and it runs inside WholeStageCodegen where a
  * higher-order-function fold would be interpreted.
  *
  * Bit-for-bit contract with the exploded formulation (pinned corpus-wide
  * in DedupSpec): family i of shingle s hashes exactly as the SQL
  * `xxhash64(i, xxhash64(s))` — Spark's XxHash64 chain, reproduced by
  * calling Spark's own [[XXH64]] kernel: h = hashUTF8String(s, 42),
  * family seed tᵢ = hashInt(i, 42) (the int literal hashed first), value
  * = hashLong(h, tᵢ). Each shingle string is hashed ONCE; the k family
  * members rehash only the fixed-width 64-bit value. Null elements are
  * skipped (the shingle builder never emits them); an empty or all-null
  * array yields Long.MaxValue minima (the shingle stage filters such docs
  * out before any kernel sees them).
  */
case class MinHashSig(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) =>
      if (right.dataType != IntegerType || !right.foldable)
        TypeCheckResult.TypeCheckFailure(
          "minhash_sig expects a foldable integer signature length")
      else right.eval() match {
        case k: Integer if k >= 1 && k <= 1024 => TypeCheckResult.TypeCheckSuccess
        case k => TypeCheckResult.TypeCheckFailure(
          s"minhash_sig signature length must be in [1, 1024], got $k")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string> shingles, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(arr: Any, k: Any): Any =
    MinHashSig.compute(arr.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, k) => s"graft.functions.MinHashSig.compute($a, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(left = newLeft, right = newRight)
}

object MinHashSig {

  private val XxSeed = 42L // Spark's xxhash64 default seed

  /** tᵢ = hashInt(i, 42): the running hash after xxhash64 consumes the
    * int literal i — constant per family, cached across rows. */
  private val familySeeds =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()

  private def seedsFor(k: Int): Array[Long] =
    familySeeds.computeIfAbsent(k,
      _ => Array.tabulate(k)(i => XXH64.hashInt(i, XxSeed)))

  /** Shared eval/codegen kernel: one string hash + k hashLong/min updates
    * per shingle. */
  def compute(arr: ArrayData, k: Int): GenericArrayData = {
    val seeds = seedsFor(k)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), XxSeed)
        var f = 0
        while (f < k) {
          val v = XXH64.hashLong(h, seeds(f))
          if (v < mins(f)) mins(f) = v
          f += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
