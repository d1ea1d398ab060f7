package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.{GraftFunctions, SparkSpec}

class NfcNormalizeSpec extends SparkSpec {

  test("nfc_normalize composes decomposed sequences and singleton forms") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    val rows = Seq(
      "Cafe\u0301",  // e + COMBINING ACUTE -> precomposed e-acute
      "\u212B",      // ANGSTROM SIGN -> U+00C5 (NFC singleton)
      "Caf\u00e9",   // already NFC: unchanged
      "ascii only",  // fast path: unchanged
      "a\u030A"      // a + COMBINING RING -> U+00E5
    ).toDF("s").select(expr("nfc_normalize(s)").as("n")).as[String].collect()
    assert(rows(0) == "Caf\u00e9")
    assert(rows(1) == "\u00c5")
    assert(rows(2) == "Caf\u00e9")
    assert(rows(3) == "ascii only")
    assert(rows(4) == "\u00e5")
  }

  test("interpreted eval, codegen, and the static kernel agree; nulls pass through") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    val inputs = Seq("Cafe\u0301 \u212B", "plain", "", "\ud83d\ude00 e\u0301")
    // kernel directly
    val kernel = inputs.map(s =>
      NfcNormalize.compute(UTF8String.fromString(s)).toString)
    // through the (codegen'd) projection
    val viaPlan = inputs.toDF("s")
      .select(expr("nfc_normalize(s)").as("n")).as[String].collect().toSeq
    // java.text.Normalizer ground truth
    val truth = inputs.map(s =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    assert(kernel == truth)
    assert(viaPlan == truth)
    val n = Seq[Option[String]](None).toDF("s")
      .select(expr("nfc_normalize(s)")).collect()
    assert(n.head.isNullAt(0))
  }

  test("already-normalized input takes the no-copy fast path") {
    val in = UTF8String.fromString("already canonical ascii")
    assert(NfcNormalize.compute(in) eq in)
  }
}
