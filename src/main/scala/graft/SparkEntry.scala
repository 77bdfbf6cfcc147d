package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Relational

/** Driver contract — see SURVEY.md §7. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Test seam: ContractSpec checks that it analyzes. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per registered key ([[Catalog]]). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.keys.map(k => k.name -> k.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    Catalog.keys.map(k => k.name -> k.oracle).toMap
}
