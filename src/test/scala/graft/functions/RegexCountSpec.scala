package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkSpec}

/** Pins `regex_count` — the counting-only replacement for
  * `size(regexp_extract_all(s, re, 0))` (r22 §10) — against the original
  * regexp formulations it replaced, over every pattern the registry uses
  * plus adversarial strings the corpus may never contain. The split and
  * replace identities are the load-bearing ones: `wsTokenCount` feeds
  * n_tokens into hash-pinned outputs (quality score, token budgets,
  * sequence packing), so any divergence here is an oracle break. */
class RegexCountSpec extends SparkSpec {

  /** Every literal pattern a converted call site passes. */
  private val UsedPatterns = Seq(
    "\\s+", "\\s",
    "\\b(the|a|an|of|to|in|and)\\b",
    "[.,!?;:]",
    "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\\s]", // BpeTokenRe
    "\\b(the|and|of|to|a|in|is)\\b",
    "\\b(der|die|das|und|ist|nicht)\\b",
    "\\b(le|la|les|et|est|une)\\b",
    "\\b(el|los|las|y|es|una)\\b",
    "[\\x{4e00}-\\x{9fff}]")

  /** Corner cases: whitespace variants at the edges (trim() strips only
    * U+0020, so tab/newline-edged strings exercise the leading/trailing
    * empty pieces Java split emits), empty/blank strings, stopwords at
    * boundaries and inside word runs, digits/underscores breaking \b,
    * CJK, combining marks, and supplementary (non-BMP) code points. */
  private val Adversarial = Seq(
    "", " ", "  ", "\t", "\ta b\t", "\n a \n", "a", " a ", "a  b\tc\nd",
    "the", " the ", "xthe", "thex", "the1", "the_a", "a the an of to in and",
    "and,of.to!in?a;an:", "...", "!?;:,.", "a.b,c", "no punct here",
    "ABC abc A1b2 ᴀʙᴄ", "Der der DIE die", "el les y es una",
    "中文文本没有空格", "中 文 混合 text", "𝐀𝐁 surrogate 𝕏 pairs",
    "éüñ çà ß", "a b", "word​word", "é combining",
    "tab\tsep", "multi\n\nline", "trail ", " lead", "\t\n \f\r")

  private def strFrame(rows: Seq[String]): DataFrame = {
    import spark.implicits._
    // include a null row for null-propagation parity
    (rows.map(Option(_)) :+ Option.empty[String]).toDF("s")
  }

  private def corpusTexts: DataFrame =
    graft.Tables.documents(spark, sfDir).select(col("text").as("s"))

  test("regex_count == size(regexp_extract_all) for every used pattern") {
    GraftFunctions.registerAll(spark)
    for (df <- Seq(strFrame(Adversarial), corpusTexts); re <- UsedPatterns) {
      val bad = df.select(
          graft.llm.TextAnalysis.regexCount(col("s"), re).as("fast"),
          size(regexp_extract_all(col("s"), lit(re), lit(0))).as("ref"))
        .filter(!(col("fast") <=> col("ref")))
      assert(bad.isEmpty, s"pattern $re diverges: ${bad.head(3).toSeq}")
    }
  }

  test("wsTokenCount == size(split(trim(s), \\s+)) — the +1 split identity") {
    GraftFunctions.registerAll(spark)
    for (df <- Seq(strFrame(Adversarial), corpusTexts)) {
      val bad = df.select(
          graft.llm.TextAnalysis.wsTokenCount(col("s")).as("fast"),
          size(split(trim(col("s")), "\\s+")).as("ref"))
        .filter(!(col("fast") <=> col("ref")))
      assert(bad.isEmpty, s"split identity diverges: ${bad.head(3).toSeq}")
    }
  }

  test("length - regex_count(\\s) == length(regexp_replace(s, \\s+, ''))") {
    GraftFunctions.registerAll(spark)
    for (df <- Seq(strFrame(Adversarial), corpusTexts)) {
      val bad = df.select(
          (length(col("s")) - graft.llm.TextAnalysis.regexCount(col("s"), "\\s"))
            .as("fast"),
          length(regexp_replace(col("s"), "\\s+", "")).as("ref"))
        .filter(!(col("fast") <=> col("ref")))
      assert(bad.isEmpty, s"replace identity diverges: ${bad.head(3).toSeq}")
    }
  }

  test("zero-width-capable and non-foldable patterns keep extract_all parity") {
    GraftFunctions.registerAll(spark)
    import spark.implicits._
    // "a*" can match empty at every position — parity must hold because
    // both sides run the identical Matcher.find() advancement loop
    val zw = strFrame(Adversarial).select(
        graft.llm.TextAnalysis.regexCount(col("s"), "a*").as("fast"),
        size(regexp_extract_all(col("s"), lit("a*"), lit(0))).as("ref"))
      .filter(!(col("fast") <=> col("ref")))
    assert(zw.isEmpty, s"zero-width diverges: ${zw.head(3).toSeq}")
    // per-row (non-foldable) pattern column exercises the uncached path
    val dyn = Seq(("aXa", "a"), ("aXa", "X"), ("", "a*"), ("the the", "\\bthe\\b"))
      .toDF("s", "re")
      .select(expr("regex_count(s, re)").as("fast"),
        size(regexp_extract_all(col("s"), col("re"), lit(0))).as("ref"))
      .filter(!(col("fast") <=> col("ref")))
    assert(dyn.isEmpty)
  }

  test("withQualityScore output is bit-identical to the regexp formulation") {
    import spark.implicits._
    val texts = (Adversarial.filter(_.trim.nonEmpty) ++
      Seq("the quick brown fox. and so, on! of course?",
        "a a a a a a a a a a a a a a a a a a a a"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val docs = texts.toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.withQualityScore(docs)
    // the pre-r22 formulation, verbatim
    val nTok = size(split(trim(col("text")), "\\s+"))
    val nStop = size(regexp_extract_all(col("text"),
      lit("\\b(the|a|an|of|to|in|and)\\b"), lit(0)))
    val nPunct = size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0)))
    val stopRatio = nStop.cast("double") / nTok
    val punctRatio = nPunct.cast("double") / length(col("text"))
    val score =
      least(nTok.cast("double") / 100d, lit(1d)) * 0.4 +
        least(stopRatio * 5d, lit(1d)) * 0.4 +
        (lit(1d) - least(punctRatio * 10d, lit(1d))) * 0.2
    val want = docs.withColumn("n_tokens", nTok.cast("long"))
      .withColumn("stop_ratio", round(stopRatio, 6))
      .withColumn("punct_ratio", round(punctRatio, 6))
      .withColumn("quality_score", round(score, 6))
    assert(got.orderBy("doc_id").collect().toSeq ==
      want.orderBy("doc_id").collect().toSeq)
    // and on the real corpus
    val gotC = graft.llm.TextAnalysis.withQualityScore(
      graft.Tables.documents(spark, sfDir))
    val wantC = graft.Tables.documents(spark, sfDir)
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("stop_ratio", round(stopRatio, 6))
      .withColumn("punct_ratio", round(punctRatio, 6))
      .withColumn("quality_score", round(score, 6))
    assert(gotC.orderBy("doc_id").collect().toSeq ==
      wantC.orderBy("doc_id").collect().toSeq)
  }
}
