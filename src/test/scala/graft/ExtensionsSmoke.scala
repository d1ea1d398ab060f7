package graft

import org.apache.spark.sql.Row

/** Child-JVM main for GraftExtensionsSpec's one-config-line deploy test:
  * in a FRESH JVM (no pre-existing SparkContext) the static conf
  * `spark.sql.extensions=graft.GraftExtensions` is the ONLY wiring — the
  * exact deployment shape a shared cluster uses with `--conf`. Prints one
  * marker line the parent spec asserts on. */
object ExtensionsSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(2)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = spark.sql(
      """SELECT round(cosine_similarity(array(3.0D, 4.0D), array(3.0D, 4.0D)), 6) AS cs,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |       poly_hash('ab') AS ph,
        |       nfc_normalize('Cafe\u0301') AS nn,
        |       ordered_pairs(array(1, 2, 3)) AS op,
        |       sort_array(capped_list(named_struct('x', x), 2)) AS cl
        |FROM VALUES (2), (1) AS v(x)""".stripMargin).head()
    val op = r.getSeq[Row](4).map(p => (p.getInt(0), p.getInt(1)))
    val cl = r.getSeq[Row](5).map(_.getInt(0))
    val ok = r.getDouble(0) == 1.0 && r.getDouble(1) == 11.0 && r.getLong(2) == 3105L &&
      r.getString(3) == "Caf\u00e9" && op == Seq((1, 2), (1, 3), (2, 3)) && cl == Seq(1, 2)
    // 'a'=97, 'b'=98: (0*31+97)*31+98 = 3105; NFC composes e+U+0301 -> U+00E9
    println(s"EXTENSIONS_SMOKE ${if (ok) "OK" else "FAIL"} " +
      s"cs=${r.getDouble(0)} dp=${r.getDouble(1)} ph=${r.getLong(2)} nn=${r.getString(3)} " +
      s"op=$op cl=$cl")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
