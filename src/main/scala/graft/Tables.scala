package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet corpus loaders (TESTDATA.md). One call = one lazy scan;
  * Catalyst prunes columns/pushes filters into the parquet reader, so
  * callers should NOT pre-select — just compose and let the optimizer
  * narrow the scan (verify with .explain: ReadSchema / PushedFilters).
  *
  * Schema store: Spark's parquet schema inference runs a footer-reading
  * job on every `spark.read.parquet(path)`, although the files rarely
  * change. [[table]] runs one inference job per session and file: the
  * first load is a plain `spark.read.parquet(path)` whose schema goes into
  * a store held per `SparkSession`, and later loads read
  * `spark.read.schema(stored).parquet(path)`, which runs no job.
  * The key is the qualified path, the session's `spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*` conf values (they change what inference
  * returns), and the file identity: (path, length, modification time) of
  * the file, or of every leaf file of a directory-form table. The identity
  * costs one `getFileStatus` (one listing for a directory) on the driver
  * and no job, so a table rewritten in-session is inferred again. The
  * store is weakly keyed by session and holds only `StructType`s: a new
  * or `newSession()` session resolves its schemas again, and a failed
  * inference is never stored. The schema is kept exactly as inferred, so
  * the scans and plans are those of a plain `spark.read.parquet`.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val store = storeOf(spark)
    val (key, files) = identityOf(spark, path)
    Option(store.schemas.get(key)).filter(_._1 == files) match {
      case Some((_, schema)) =>
        store.hits.incrementAndGet()
        spark.read.schema(schema).parquet(path)
      case None =>
        // a missing path throws Spark's own error here and stores nothing
        store.misses.incrementAndGet()
        val df = spark.read.parquet(path)
        if (files.nonEmpty) store.schemas.put(key, (files, df.schema))
        df
    }
  }

  /** Schema-store counters of one session: loads served from the store
    * and loads that ran an inference job. */
  final case class StoreStats(hits: Long, misses: Long)

  def schemaStoreStats(spark: SparkSession): StoreStats = {
    val store = storeOf(spark)
    StoreStats(store.hits.get, store.misses.get)
  }

  /** (path, length, modification time) per leaf file. */
  private type FileIdentity = Seq[(String, Long, Long)]

  /** One session's store: (qualified path, parquet confs) -> the file
    * identity the schema was inferred from, and that schema. A rewrite
    * replaces the entry, so the store holds one schema per path. */
  private final class SchemaStore {
    val schemas = new ConcurrentHashMap[(String, Seq[(String, String)]), (FileIdentity, StructType)]()
    val hits = new AtomicLong
    val misses = new AtomicLong
  }

  private val stores = new java.util.WeakHashMap[SparkSession, SchemaStore]()

  private def storeOf(spark: SparkSession): SchemaStore = stores.synchronized {
    stores.computeIfAbsent(spark, _ => new SchemaStore)
  }

  /** The store key of `path` and its file identity; the identity is empty
    * when the path does not exist, which is never served nor stored. */
  private def identityOf(spark: SparkSession,
      path: String): ((String, Seq[(String, String)]), FileIdentity) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    val files =
      try {
        val st = fs.getFileStatus(qualified)
        val leaves =
          if (st.isFile) Seq(st)
          else {
            val it = fs.listFiles(qualified, true)
            Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
          }
        leaves.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
      } catch { case _: FileNotFoundException => Nil }
    ((qualified.toString, conf), files)
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` arrives in three parquet encodings, normalized here to
    * one session-TZ timestamp so every consumer sees one type:
    *  - INT64 µs with `isAdjustedToUTC=false`, which Spark reads as
    *    TIMESTAMP_NTZ: the sf0.001, sf0.01 and sf0.1 test corpora
    *    (TESTDATA.md; pyarrow) and `perfbench/gen_corpus.py`; cast to
    *    timestamp;
    *  - TIMESTAMP(NANOS), which Spark rejects by default:
    *    `tools/gen_scale.py` (DuckDB `ts::TIMESTAMP_NS`); read as a long
    *    through `nanosAsLong` and converted to µs with integer division
    *    (the source is µs precision, so the ns remainder is 0 — lossless);
    *  - INT64 µs with `isAdjustedToUTC=true`, read as TIMESTAMP: Spark's
    *    own writer (spec fixtures); passed through. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Spread a sub-parallel scan to full parallelism before CPU-heavy
    * per-row work (shingling, signature building, feature extraction).
    * A small single-file table plans as one split, which serializes every
    * downstream transform no matter how many cores the cluster has; at
    * real scale file splits already exceed `defaultParallelism` and this
    * is the identity, so the repartition only ever moves inputs small
    * enough for the shuffle to be noise. The partition probe reads the
    * planned scan, not the data. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Target bytes per partition for [[sizedSpread]] — the advisory-
    * partition-size class of constant (not a core count). */
  val SizedSpreadTargetBytes: Long = 8L << 20

  /** SIZE-DERIVED spread for small kernel-input frames that get cached
    * and then re-read by many short jobs (Lloyd rounds, model collects,
    * assignment + candidate joins): partitions = clamp(ceil(plan-stats
    * bytes / [[SizedSpreadTargetBytes]]), 1, defaultParallelism).
    *
    * Replaces blanket `repartition(defaultParallelism)` at those sites
    * (r21, guide §2: derive partitioning from input size, never a core
    * constant): at bench scale the frames are hundreds of KB, so the
    * blanket spread made EVERY downstream job schedule defaultParallelism
    * near-empty tasks — per-entry seconds of pure scheduler overhead over
    * an iterative kernel; at production scale the byte estimate exceeds
    * the cap and this is exactly the old spread. Always a repartition
    * (round-robin shuffle), so upstream scan/decode work keeps its own
    * parallelism — only the cached layout is sized. Results are invariant:
    * partitioning never changes what any kernel here computes (exact
    * decimal aggregates, per-row projections, key-partitioned joins). */
  def sizedSpread(df: DataFrame): DataFrame = {
    val cap = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val p = ((bytes + SizedSpreadTargetBytes - 1) / SizedSpreadTargetBytes)
      .min(BigInt(cap)).max(BigInt(1)).toInt
    df.repartition(p)
  }

  /** Chain-friendly form: `frame.sizedSpread()` (the ScratchCacheOps
    * pattern). */
  implicit class SizedSpreadOps(private val df: DataFrame) extends AnyVal {
    def sizedSpread(): DataFrame = Tables.sizedSpread(df)
  }
}
