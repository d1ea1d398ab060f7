package graft.functions

import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkSpec, Tables}

class DotProductSpec extends SparkSpec {

  test("native DotProduct equals the HOF zip_with fold bit-for-bit (float + double)") {
    GraftFunctions.registerAll(spark)
    val e = Tables.embeddings(spark, sfDir).limit(40)
    val a = e.select(col("vec_id").as("qa"), col("embedding").as("fa"))
      .withColumn("da", col("fa").cast("array<double>"))
    val b = e.select(col("vec_id").as("qb"), col("embedding").as("fb"))
      .withColumn("db", col("fb").cast("array<double>"))
    val pairs = a.crossJoin(b).filter(col("qa") < col("qb"))
    def hof(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (u, v) => u.cast("double") * v.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val cmp = pairs.select(
      expr("dot_product(fa, fb)").as("nat_ff"),
      expr("dot_product(da, db)").as("nat_dd"),
      expr("dot_product(fa, db)").as("nat_fd"),
      hof(col("fa"), col("fb")).as("hof_ff"),
      hof(col("da"), col("db")).as("hof_dd"))
    // same ascending-order double fold on every path
    assert(cmp.filter(col("nat_ff") =!= col("hof_ff")).isEmpty)
    assert(cmp.filter(col("nat_dd") =!= col("hof_dd")).isEmpty)
    assert(cmp.filter(col("nat_fd") =!= col("hof_dd")).isEmpty)
  }

  test("±1 weight projection equals the textual element_at sum bit-for-bit") {
    // the oracle spells projections as (+ ed[1] - ed[2] ...): left-to-right
    // double accumulation with exact ±1 multiplies — must be the identical
    // double to the kernel's ascending fold
    GraftFunctions.registerAll(spark)
    val w = (0 until 64).map(d => if (d % 3 == 0) 1 else -1)
    val textual = expr(w.zipWithIndex.map { case (s, d) =>
      s"${if (s > 0) "+" else "-"} element_at(ed, ${d + 1})"
    }.mkString("(", " ", ")"))
    val lits = w.map(s => s"${s.toDouble}D").mkString(",")
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("ed", col("embedding").cast("array<double>"))
    val cmp = e.select(expr(s"dot_product(ed, array($lits))").as("nat"),
      textual.as("txt"))
    assert(cmp.filter(col("nat") =!= col("txt")).isEmpty)
  }

  test("null array element poisons the product (eval + codegen paths)") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("id", "a", "b")
    val out = df.select(col("id"), expr("dot_product(a, b)").as("d")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(11.0))
    assert(out(2L).isEmpty)
  }

  test("mismatched lengths yield NULL, matching the zip_with pad-with-null fold") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0)), // longer left
      (2L, Seq(1.0), Seq(4.0, 5.0)), // longer right
      (3L, Seq(1.0, 2.0), Seq(4.0, 5.0))) // equal → defined
      .toDF("id", "a", "b")
    def hof(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (u, v) => u * v), lit(0.0), (acc, v) => acc + v)
    val rows = df.select(col("id"), expr("dot_product(a, b)").as("nat"),
        hof(col("a"), col("b")).as("hof")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"id=${r.getLong(0)}: native nullness must match the HOF fold")
    }
    val byId = rows.map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(byId(1L) && byId(2L) && !byId(3L))
  }

  test("lsh dedup physical plan runs on dot_product (no element_at projection sums)") {
    // the textual-sum form generated ~13.7k lines of Java that failed
    // Janino compilation and ran interpreted (22-29 s at sf0.1); the plan
    // must carry dot_product nodes instead
    val plan = graft.llm.Similarity.embeddingLshDedup(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dot_product"), plan.take(3000))
    assert(!plan.contains("element_at"), plan.take(3000))
  }
}
