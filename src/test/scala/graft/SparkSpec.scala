package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. sf0.001 keeps the
  * suite fast; the DuckDB-oracle driver gate runs sf0.01. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = SparkSpec.sfDir
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = spark.catalog.clearCache()
}

object SparkSpec {
  /** The fast spec corpus; [[gateDir]] is the driver's oracle-gate scale. */
  val sfDir = "/root/testdata/sf0.001"
  val gateDir = "/root/testdata/sf0.01"

  /** The fixture's core count, fixed so partition-dependent specs do not
    * vary with the host; specs that build their OWN session pass it to
    * [[GraftSession.builder]] too. */
  val cpus = 4

  // One session per JVM (forked test run) — specs share it.
  lazy val session: SparkSession = {
    val s = GraftSession.builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
