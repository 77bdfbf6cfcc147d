package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{AnalyticsExtras, Curation, Dedup, Diagnostics, GraphOps, Multimodal, OlapExtras, Relational, Sampling, Similarity, StorageLayout, StreamingOps, TextAnalysis}
import graft.sources.BinaryFiles

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Test seam: ContractSpec checks that it analyzes. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Dedup.queries ++ Similarity.queries ++
      TextAnalysis.queries ++ Multimodal.queries ++ StreamingOps.queries ++
      BinaryFiles.queries ++ OlapExtras.queries ++ AnalyticsExtras.queries ++
      Curation.queries ++ Sampling.queries ++ StorageLayout.queries ++
      GraphOps.queries ++ Diagnostics.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ Dedup.oracle ++ Similarity.oracle ++
      TextAnalysis.oracle ++ Multimodal.oracle ++ StreamingOps.oracle ++
      BinaryFiles.oracle ++ OlapExtras.oracle ++ AnalyticsExtras.oracle ++
      Curation.oracle ++ Sampling.oracle ++ StorageLayout.oracle ++
      GraphOps.oracle ++ Diagnostics.oracle
}
