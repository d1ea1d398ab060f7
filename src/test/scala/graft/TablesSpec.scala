package graft

import java.nio.file.Files

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Pins the [[Tables]] schema store: a repeated load runs no inference
  * job and changes neither schema nor rows, a rewritten table and a
  * changed parquet conf are inferred again, and a failed load is not
  * remembered. */
class TablesSpec extends SparkSpec {

  /** `body`'s result and the jobs the session's SparkContext ran during it. */
  private def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    SpecBus.drain(sc)
    sc.addSparkListener(l)
    val out = try { val r = body; SpecBus.drain(sc); r } finally sc.removeSparkListener(l)
    (out, n.get)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a repeated load runs no job and matches a plain parquet read") {
    Tables.lineitem(spark, sfDir)
    val before = Tables.schemaStoreStats(spark)
    val (df, jobs) = withJobs { val d = Tables.lineitem(spark, sfDir); d.schema; d }
    assert(jobs == 0)
    val after = Tables.schemaStoreStats(spark)
    assert(after.hits == before.hits + 1 && after.misses == before.misses)
    val plain = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // StructField equality covers names, types, nullability and metadata
    assert(df.schema == plain.schema)
    assert(df.schema.json == plain.schema.json)
    assert(rows(df) == rows(plain))
  }

  test("rewriting a directory-form table in-session shows its new column") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables_spec").toString
    Seq((1, "x"), (2, "y")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((1, "x", 10L), (2, "y", 20L)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables.table(spark, dir, "t")
    assert(t.columns.toSeq == Seq("k", "v", "w"))
    assert(t.select("w").as[Long].collect().sorted.toSeq == Seq(10L, 20L))
  }

  test("a parquet conf is part of the key: inferTimestampNTZ in a new session") {
    assert(Tables.table(spark, sfDir, "events").schema("ts").dataType == TimestampNTZType)
    val s2: SparkSession = spark.newSession()
    s2.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.table(s2, sfDir, "events").schema("ts").dataType == TimestampType)
    // same session, same files, conf flipped back: inferred again
    s2.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert(Tables.table(s2, sfDir, "events").schema("ts").dataType == TimestampNTZType)
    assert(Tables.schemaStoreStats(s2) == Tables.StoreStats(hits = 0, misses = 2))
  }

  test("a failed load is not stored: the path written later loads") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables_spec").toString
    intercept[Exception](Tables.table(spark, dir, "late"))
    Seq(1, 2, 3).toDF("k").write.parquet(s"$dir/late.parquet")
    assert(Tables.table(spark, dir, "late").count() == 3)
  }
}
