package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkSpec}

/** Pins the r22 §11 native perceptual kernels — `hex_words`,
  * `dhash_bits`, `moving_energy` — against the interpreted
  * higher-order formulations they replaced, element for element,
  * including the edge semantics the originals got from substr/conv
  * clamping, zip_with null-padding, and when()-over-null voting.
  * The batch entries these feed (media/audio near-dedup, media apply)
  * are hash-pinned, so any divergence is an oracle break. */
class PerceptualKernelsSpec extends SparkSpec {

  private def registerAll(): Unit = {
    GraftFunctions.registerAll(spark)
  }

  /** The pre-r22 HOF formulations, verbatim. */
  private def hofHexWords(h: Column, width: Int, n: Int, signed: Boolean): Column =
    transform(sequence(lit(0), lit(n - 1)), i => {
      val raw = conv(h.substr(i * width + 1, lit(width)), 16, 10).cast("int")
      if (!signed) raw
      else when(raw >= (1 << (4 * width - 1)), raw - (1 << (4 * width)))
        .otherwise(raw)
    })

  private def hofDhash(arr: Column, bits: Int): Column =
    aggregate(
      zip_with(slice(arr, 1, bits), slice(arr, 2, bits),
        (a, b) => when(a > b, lit(1L)).otherwise(lit(0L))),
      struct(lit(0L).as("s"), lit(1L).as("p")),
      (acc, bit) => struct(
        (acc.getField("s") + bit * acc.getField("p")).as("s"),
        (acc.getField("p") * 2).as("p")),
      acc => acc.getField("s"))

  private def hofEnvelope(sm: Column, window: Int, frames: Int): Column = {
    val sq = transform(sm, x => x.cast("long") * x.cast("long"))
    def sl(off: Int) = slice(sq, off, frames)
    // the audio family's window-4 pairwise tree
    require(window == 4)
    zip_with(zip_with(sl(1), sl(2), _ + _), zip_with(sl(3), sl(4), _ + _), _ + _)
  }

  private def assertSame(df: DataFrame, fast: Column, ref: Column,
                         what: String): Unit = {
    val bad = df.select(fast.as("fast"), ref.as("ref"))
      .filter(!(col("fast") <=> col("ref")))
    assert(bad.isEmpty, s"$what diverges: ${bad.head(3).toSeq}")
  }

  private def hexFrame: DataFrame = {
    import spark.implicits._
    // md5-shaped payloads plus adversarial shapes: short/odd-length,
    // empty, uppercase, non-hex chars, and null
    (Seq(
      "0123456789abcdef" * 16, // 256 chars, full audio payload
      "ffff0000ffff0000" * 8, // extremes
      "8000" * 64, // signed boundary (32768)
      "7fff" * 64, // just below the boundary
      "00", "0", "", "ab", "abc", "ABCDEF0123456789" * 4,
      "zz" * 32, "0g" * 32, "deadbeef").map(Option(_)) :+
      Option.empty[String]).toDF("h")
  }

  test("hex_words == the conv(substr) transform, both widths and signs") {
    registerAll()
    for ((w, n, s) <- Seq((2, 32, false), (4, 64, true), (2, 5, true), (4, 3, false))) {
      // non-hex slices are the one documented divergence surface
      // (conv parses prefixes where the kernel nulls the word), so the
      // shared-alphabet frame pins hex-only inputs — every call site
      // feeds md5 output — and the kernel's null stays the safe side
      val hexOnly = hexFrame.filter(
        col("h").isNull || !col("h").rlike("[^0-9a-fA-F]"))
      assertSame(hexOnly,
        call_function("hex_words", col("h"), lit(w), lit(n), lit(s)),
        hofHexWords(col("h"), w, n, s),
        s"hex_words($w, $n, $s)")
    }
    // and corpus-wide over the real payload constructions
    val v = graft.Tables.documents(spark, sfDir).select(concat(
      md5(col("text")), md5(concat(col("text"), lit("x"))),
      md5(concat(col("text"), lit("y"))), md5(concat(col("text"), lit("z")))).as("h"))
    assertSame(v,
      call_function("hex_words", col("h"), lit(2), lit(64), lit(false)),
      hofHexWords(col("h"), 2, 64, false), "hex_words media corpus")
    val a = graft.Tables.documents(spark, sfDir).select(concat(
      md5(col("text")) +: "abcdefg".map(c =>
        md5(concat(col("text"), lit(c.toString)))): _*).as("h"))
    assertSame(a,
      call_function("hex_words", col("h"), lit(4), lit(64), lit(true)),
      hofHexWords(col("h"), 4, 64, true), "hex_words audio corpus")
  }

  private def arrFrame: DataFrame = {
    import spark.implicits._
    (Seq(
      Seq.empty[Option[Int]],
      Seq(Some(1)),
      Seq(Some(2), Some(1)),
      Seq(Some(1), Some(2)),
      (1 to 70).map(i => Some((i * 37) % 251)),
      (1 to 32).map(i => Some(255 - i)),
      Seq(Some(5), None, Some(3), Some(9), None, None, Some(1), Some(0)),
      (1 to 61).map(i => Some(if (i % 3 == 0) -i else i)),
      Seq(None, None)
    ).map(Option(_)) :+ Option.empty[Seq[Option[Int]]]).toDF("arr")
  }

  test("dhash_bits == the zip_with/aggregate fold (int and long arrays)") {
    registerAll()
    for (bits <- Seq(60, 7, 0, 62)) {
      assertSame(arrFrame,
        call_function("dhash_bits", col("arr"), lit(bits)),
        hofDhash(col("arr"), bits), s"dhash_bits int $bits")
      assertSame(arrFrame.select(col("arr").cast("array<long>").as("arr")),
        call_function("dhash_bits", col("arr"), lit(bits)),
        hofDhash(col("arr"), bits), s"dhash_bits long $bits")
    }
  }

  test("moving_energy == the squares/slice/zip_with chain") {
    registerAll()
    for (frames <- Seq(61, 5, 0)) {
      assertSame(arrFrame,
        call_function("moving_energy", col("arr"), lit(4), lit(frames)),
        hofEnvelope(col("arr"), 4, frames), s"moving_energy 4/$frames")
    }
  }

  test("batch libraries and fingerprints are bit-identical corpus-wide") {
    // frame-level: the composed kernels over the real corpus equal the
    // HOF composition (library decode -> re-encode union -> fingerprint)
    registerAll()
    val mediaNew = graft.llm.Multimodal.mediaLibrary(spark, sfDir)
    val v = graft.Tables.spread(graft.Tables.documents(spark, sfDir))
      .withColumn("h", concat(
        md5(col("text")), md5(concat(col("text"), lit("x"))),
        md5(concat(col("text"), lit("y"))), md5(concat(col("text"), lit("z")))))
      .select(col("doc_id"), hofHexWords(col("h"), 2, 64, false).as("grid"))
    val mediaOld = v.select(col("doc_id").as("media_id"), col("grid"))
      .unionAll(v.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 10000000L).as("media_id"),
          transform(col("grid"), b => least(b + 4, lit(255))).as("grid")))
    assert(mediaNew.orderBy("media_id").collect().toSeq ==
      mediaOld.orderBy("media_id").collect().toSeq)
    // fingerprints: native dhash over native grid == HOF dhash over HOF grid
    val fpNew = mediaNew.select(col("media_id"),
      graft.llm.Multimodal.dhashCol(col("grid")).as("fp"))
    val fpOld = mediaOld.select(col("media_id"),
      hofDhash(col("grid"), 60).as("fp"))
    assert(fpNew.orderBy("media_id").collect().toSeq ==
      fpOld.orderBy("media_id").collect().toSeq)
    // audio: envelope + fingerprint composition
    val audioNew = graft.llm.Multimodal.audioLibrary(spark, sfDir)
      .select(col("media_id"),
        graft.llm.Multimodal.dhashCol(
          graft.llm.Multimodal.audioEnvelope(col("sm"))).as("afp"))
    val ah = graft.Tables.spread(graft.Tables.documents(spark, sfDir))
      .select(col("doc_id"), concat(
        md5(col("text")) +: "abcdefg".map(c =>
          md5(concat(col("text"), lit(c.toString)))): _*).as("h"))
      .select(col("doc_id"), hofHexWords(col("h"), 4, 64, true).as("sm"))
    val audioOld = ah.select(col("doc_id").as("media_id"), col("sm"))
      .unionAll(ah.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 10000000L).as("media_id"),
          transform(col("sm"), x => x - pmod(x, lit(64))).as("sm")))
      .select(col("media_id"), hofDhash(hofEnvelope(col("sm"), 4, 61), 60).as("afp"))
    assert(audioNew.orderBy("media_id").collect().toSeq ==
      audioOld.orderBy("media_id").collect().toSeq)
  }
}
