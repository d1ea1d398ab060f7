package graft.functions

import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkSpec, Tables}

/** Expression-level contract of the native `argmax_cell` kernel (the
  * Lloyd/IVF/semantic-dedup assignment primitive — the heavy parity
  * proof against the r19 greatest chain lives in SimilaritySpec; this
  * spec pins the expression's own surface: types, null semantics,
  * plan-size independence from K). */
class ArgmaxCellSpec extends SparkSpec {

  private def model(k: Int): (Seq[Long], Seq[Seq[Double]]) = (
    (0 until k).map(_.toLong).toSeq,
    (0 until k).map(i => (0 until 64).map(d =>
      math.cos(0.29 * i + 0.05 * d)).toSeq).toSeq)

  test("assigns over float and double inputs identically; null ed yields NULL") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    val (ids, cents) = model(16)
    val e = Tables.embeddings(spark, sfDir).limit(50)
      .select(col("vec_id"), col("embedding").as("ef"))
      .withColumn("edd", col("ef").cast("array<double>"))
    val out = e.select(col("vec_id"),
        call_function("argmax_cell", col("ef"), typedlit(ids), typedlit(cents))
          .as("cf"),
        call_function("argmax_cell", col("edd"), typedlit(ids), typedlit(cents))
          .as("cd"))
      .collect()
    assert(out.length == 50)
    // the float side widens per element exactly like CosineSimilarity, so
    // both sides fold the same doubles → identical cells
    assert(out.forall(r => r.getLong(1) == r.getLong(2)))
    assert(out.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 16))
    val nullEd = Seq((1L, Option.empty[Seq[Double]])).toDF("id", "ed")
      .select(call_function("argmax_cell", col("ed"),
        typedlit(ids), typedlit(cents)).as("cell"))
      .collect()
    assert(nullEd.head.isNullAt(0), "null input vector must yield NULL")
  }

  test("unsorted model ids still tie-break to the LOWEST id (internal sort)") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    val base = (0 until 64).map(d => math.cos(0.11 * d))
    // ids deliberately passed high-id-first; both centroids are the same
    // direction, so every non-degenerate vector ties at 6dp
    val ids = Seq(9L, 3L)
    val cents = Seq(base.map(_ * 2.0).toSeq, base.toSeq)
    val out = Seq((1L, base.toSeq)).toDF("vec_id", "ed")
      .select(call_function("argmax_cell", col("ed"),
        typedlit(ids), typedlit(cents)).as("cell"))
      .head().getLong(0)
    assert(out == 3L, s"tie must go to the lowest cent_id, got $out")
  }

  test("plan size is O(1) in K: the K=4096 model rides one literal pair") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    val (ids, cents) = model(4096)
    val df = Seq((1L, (0 until 64).map(d => math.sin(0.3 * d)).toSeq))
      .toDF("vec_id", "ed")
      .select(col("vec_id"), call_function("argmax_cell", col("ed"),
        typedlit(ids), typedlit(cents)).as("cell"))
    // the greatest-chain spelling at this K would carry 4096 struct arms
    // and 262k literals; the native plan is a single projection whose
    // tree stays O(1) nodes. Assert on rendering-STABLE properties
    // (ADVICE r20: the old printed-line-count assertion only held while
    // Spark renders array literals on one truncated line): plan NODE
    // count, and the absence of any K-arm Greatest expression.
    val plan = df.queryExecution.executedPlan
    val nodes = plan.collect { case p => p }.size
    assert(nodes < 10, s"plan exploded: $nodes physical nodes")
    val greatestArms = plan.flatMap(_.expressions.flatMap(_.collect {
      case g: org.apache.spark.sql.catalyst.expressions.Greatest => g
    })).size
    assert(greatestArms == 0, "native argmax plan must carry no greatest-chain")
    val cell = df.head().getLong(1)
    assert(cell >= 0 && cell < 4096)
  }

  test("degenerate rows fall to the lowest cent_id (chain fall-through semantics)") {
    import spark.implicits._
    GraftFunctions.registerAll(spark)
    val ids = Seq(7L, 4L)
    val cents = Seq(
      (0 until 64).map(d => math.sin(0.2 * d)).toSeq,
      (0 until 64).map(d => math.cos(0.2 * d)).toSeq)
    val out = Seq(
        (1L, Seq.fill(64)(0.0)), // zero norm → every csim NULL
        (2L, Seq.fill(8)(1.0))) // length mismatch vs every centroid
      .toDF("vec_id", "ed")
      .select(col("vec_id"), call_function("argmax_cell", col("ed"),
        typedlit(ids), typedlit(cents)).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 4L && out(2L) == 4L,
      s"degenerate rows must take the lowest id: $out")
  }
}
