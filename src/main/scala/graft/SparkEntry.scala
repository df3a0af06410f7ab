package graft

import graft.queries.{ExpressionQueries, FacadeQueries, RelationalQueries, StreamQueries, TextQueries, WindowQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory of SURVEY.md §2 (one entry per
  * operator/function family) plus the training-data-pipeline operators
  * (dedup, similarity search, text analysis, multimodal). `oracleSql` holds
  * the DuckDB-equivalent SQL for every query. Operators whose raw output
  * depends on a custom hash family (SimHash, SRP-LSH ANN) are gated via
  * recall rows instead: the engine compares its LSH path against the exact
  * in-Spark baseline and emits invariants checked against a constant
  * oracle row (d07_simhash_recall, e02_srp_recall) — every entry is
  * hash-checkable.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 pricing summary — exercises scan → filter → hash aggregate →
    * sort end-to-end. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.defs ++ WindowQueries.defs ++ TextQueries.defs ++
      ExpressionQueries.defs ++ FacadeQueries.defs ++ StreamQueries.defs

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → rows-only check. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ WindowQueries.oracle ++ TextQueries.oracle ++
      ExpressionQueries.oracle ++ FacadeQueries.oracle ++ StreamQueries.oracle
}
