package graft

import org.apache.spark.sql.types.{DataType, DecimalType, StructType}

/** Registry-wide output-canonicalization guard (VERDICT r11 #2).
  *
  * The driver hash-compares each `SparkEntry.queries` result (dumped to
  * parquet) against the DuckDB oracle, and canonicalizes edge DECIMALs
  * differently between the two engines — so a query whose FINAL schema
  * contains a DecimalType can hash-mismatch even when every value is
  * exactly equal (r11: `customer_rfm`, `incremental_agg`,
  * `nation_revenue_ranks`). The repo convention is: sum/aggregate as
  * DECIMAL(18,2) internally (exact, associative), cast to rounded DOUBLE
  * only at the output edge (Windows.scala `rollingSpend30d`,
  * Quantiles.scala `rollupRevenue`). This spec makes any future
  * edge-decimal entry fail at `sbt test` time instead of burning a
  * driver round. Nested struct/array/map fields are checked too. */
class OutputSchemaSpec extends SparkSpec {

  private def decimalPaths(dt: DataType, path: String): Seq[String] = dt match {
    case _: DecimalType => Seq(path)
    case st: StructType =>
      st.fields.toSeq.flatMap(f => decimalPaths(f.dataType, s"$path.${f.name}"))
    case at: org.apache.spark.sql.types.ArrayType =>
      decimalPaths(at.elementType, s"$path[]")
    case mt: org.apache.spark.sql.types.MapType =>
      decimalPaths(mt.keyType, s"$path.key") ++ decimalPaths(mt.valueType, s"$path.value")
    case _ => Nil
  }

  test("the registry lists 245 distinct names and both driver maps cover exactly them") {
    // a name listed twice would silently collapse in the Map views
    val names = SparkEntry.entries.map(_.name)
    assert(names.size == 245, s"${names.size} entries")
    assert(names.distinct.size == names.size,
      s"duplicated: ${names.diff(names.distinct).mkString(",")}")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("no registered query emits DecimalType at the output edge") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val schema = fn(spark, sfDir).schema
        schema.fields.toSeq
          .flatMap(f => decimalPaths(f.dataType, f.name))
          .map(p => s"$name: $p")
    }
    assert(offenders.isEmpty,
      s"queries with DECIMAL in output schema (cast to rounded DOUBLE at the edge):\n  ${offenders.mkString("\n  ")}")
  }
}
