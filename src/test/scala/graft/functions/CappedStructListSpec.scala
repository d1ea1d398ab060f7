package graft.functions

import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkSpec}

class CappedStructListSpec extends SparkSpec {

  /** Groups with sizes straddling the cap: group g has g rows, so with
    * cap = 5 groups 1..5 survive and 6..9 go hot. Values are distinct
    * per row so content equality is checkable. */
  private def fixture(parts: Int) = {
    import spark.implicits._
    (1 to 9).flatMap(g => (1 to g).map(i => (g.toLong, g * 100L + i, i)))
      .toDF("s", "doc_id", "n")
      .repartition(parts, col("doc_id")) // scatter a group across partitions
  }

  private def twoPass(df: org.apache.spark.sql.DataFrame, cap: Int) = {
    val hot = df.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("s")
    df.join(hot, Seq("s"), "left_anti")
      .groupBy("s")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
  }

  test("capped_list equals the two-pass anti-join + collect_list form") {
    GraftFunctions.registerAll(spark)
    for (parts <- Seq(1, 3, 16); cap <- Seq(1, 4, 5, 8)) {
      val df = fixture(parts)
      val got = df.groupBy("s")
        .agg(expr(s"capped_list(named_struct('doc_id', doc_id, 'n', n), $cap)")
          .as("ds0"))
        .filter(col("ds0").isNotNull)
        .select(col("s"), sort_array(col("ds0")).as("ds"))
        .collect().map(_.toString).sorted.toSeq
      val ref = twoPass(df, cap).collect().map(_.toString).sorted.toSeq
      assert(got == ref, s"parts=$parts cap=$cap")
    }
  }

  test("hot groups evaluate to NULL and exactly-at-cap groups survive whole") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    val out = fixture(8).groupBy("s")
      .agg(expr("capped_list(named_struct('doc_id', doc_id, 'n', n), 5)").as("ds0"))
      .select(col("s"), col("ds0"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert((1L to 5L).forall(g => !out(g)), s"groups <= cap must survive: $out")
    assert((6L to 9L).forall(g => out(g)), s"groups > cap must be NULL: $out")
    // the surviving boundary group carries all cap entries
    val g5 = fixture(8).groupBy("s")
      .agg(expr("capped_list(named_struct('doc_id', doc_id, 'n', n), 5)").as("ds0"))
      .filter(col("s") === 5).select(size(col("ds0"))).head().getInt(0)
    assert(g5 == 5)
  }

  test("buffers survive serialize/deserialize round trips (spill path)") {
    val agg = CappedStructList(
      org.apache.spark.sql.catalyst.expressions.CreateNamedStruct(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal("doc_id"),
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          0, org.apache.spark.sql.types.LongType, nullable = false))),
      cap = 3)
    val buf = agg.createAggregationBuffer()
    val rows = (1L to 3L).map(v =>
      org.apache.spark.sql.catalyst.InternalRow(v))
    rows.foreach(agg.update(buf, _))
    val back = agg.deserialize(agg.serialize(buf))
    assert(!back.hot && back.items.size == 3)
    assert(back.items.map(_.getLong(0)).sorted == Seq(1L, 2L, 3L))
    // push past the cap: hot, contents discarded, round-trips as hot
    agg.update(buf, org.apache.spark.sql.catalyst.InternalRow(4L))
    assert(buf.hot && buf.items.isEmpty)
    val hotBack = agg.deserialize(agg.serialize(buf))
    assert(hotBack.hot && hotBack.items.isEmpty)
    // merging anything into a hot buffer stays hot
    val merged = agg.merge(hotBack, back)
    assert(merged.hot && agg.eval(merged) == null)
  }
}
