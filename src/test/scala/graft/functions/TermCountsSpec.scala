package graft.functions

import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkSpec, Tables}

class TermCountsSpec extends SparkSpec {

  test("term_counts equals the exploded groupBy recount, corpus-wide") {
    GraftFunctions.registerAll(spark)
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
    val native = d
      .select(col("doc_id"), explode(expr("term_counts(toks)")).as("e"))
      .select(col("doc_id"), col("e.term"), col("e.tf"))
    val exploded = d
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(native.count() == exploded.count())
    assert(native.except(exploded).isEmpty && exploded.except(native).isEmpty,
      "per-row counting and the shuffled aggregate must agree on every (doc, term, tf)")
  }

  test("terms are unique and ascending within each row") {
    GraftFunctions.registerAll(spark)
    val bad = Tables.documents(spark, sfDir)
      .select(expr("term_counts(split(lower(trim(text)), '\\\\s+'))").as("tc"))
      .select(expr(
        """exists(sequence(2, size(tc)), i ->
          |  element_at(tc, i - 1).term >= element_at(tc, i).term)""".stripMargin)
        .as("disorder"))
      .filter(col("disorder"))
    assert(bad.isEmpty, "term order must be strictly ascending (unique terms)")
  }

  test("edge cases: empty array, null elements skipped, null array is null") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT term_counts(CAST(array() AS ARRAY<STRING>)) AS empty,
        |       term_counts(array('b', NULL, 'a', 'b')) AS mixed,
        |       term_counts(CAST(NULL AS ARRAY<STRING>)) AS nul""".stripMargin)
      .head()
    assert(r.getSeq[Any](0).isEmpty)
    val mixed = r.getSeq[org.apache.spark.sql.Row](1)
      .map(x => (x.getString(0), x.getLong(1)))
    assert(mixed == Seq(("a", 1L), ("b", 2L)))
    assert(r.isNullAt(2))
  }
}
