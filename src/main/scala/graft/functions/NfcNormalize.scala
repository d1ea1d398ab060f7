package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Unicode NFC (canonical composition)
  * normalization — the first step of any text-canonicalization pass
  * (dedup hashing, tokenizer training, exact-match decontamination all
  * assume one canonical byte form per grapheme: 'e'+COMBINING ACUTE and
  * the precomposed 'é' must hash identically). Spark ships no built-in
  * for this (`lower`/`trim`/`regexp_replace` are all code-point-blind),
  * so without a native expression the options are a Scala UDF (opaque
  * to codegen, per-row encoder traffic) or shipping text to Python —
  * both wrong in the hot path of a 100 TB scan. This expression stays
  * inside WholeStageCodegen: both eval and the generated code call the
  * same static kernel (`java.text.Normalizer`, ICU-equivalent for NFC),
  * so interpreted and codegen paths cannot diverge. The kernel
  * fast-paths the common case: `Normalizer.isNormalized` is O(n) with
  * no allocation, so ASCII/already-NFC corpora pay a scan, not a copy.
  *
  * Oracle counterpart: DuckDB's `nfc_normalize(s)` (both implement
  * Unicode canonical composition, so outputs agree byte-for-byte).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType

  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  /** Shared kernel: NFC-normalize, returning the input object unchanged
    * (no re-encode, no copy) when it is already in NFC. */
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
