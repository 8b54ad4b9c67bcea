package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gen.TxGen
import graft.operators.{Analytics, AnalyticsExt, AnnIndexIO, BmStore, BpeTrain, Dedup, Dsir, FraudQueries, FraudRules, IncrementalStats, Layout, Multimodal, Overlap, QualityRules, Retrieval, SamplingOps, SigStore, Similarity, TableOps, Temporal, TextOps, TrainingPipeline, Upsert, Winnow}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's oracle-testable surface;
  * `oracleSql` carries the DuckDB twin for each (same column names, same
  * rounding — the driver hash-compares by sorted column name).
  */
object SparkEntry {

  /** Flagship query: the reference's end-to-end pipeline — synthesize the
    * labeled transaction stream (producer semantics), score it with the
    * three fraud rules, keep the FRAUD stream (fraud_detection.py:193).
    * Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    FraudRules
      .scoreTransactions(TxGen.dataset(spark, 5000).toDF())
      .filter(col("status") === "FRAUD")
      .select("event_id", "card_id", "amount", "location", "ip_address",
        "score", "status", "severity", "timestamp", "event_type", "reasons")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    FraudQueries.queries ++ Analytics.queries ++ AnalyticsExt.queries ++
      Dedup.queries ++ SigStore.queries ++ BmStore.queries ++ Similarity.queries ++ AnnIndexIO.queries ++ TextOps.queries ++
      Multimodal.queries ++ TableOps.queries ++ Layout.queries ++
      TrainingPipeline.queries ++ SamplingOps.queries ++ Temporal.queries ++
      Upsert.queries ++ IncrementalStats.queries ++ Retrieval.queries ++
      Winnow.queries ++ BpeTrain.queries ++ Dsir.queries ++ QualityRules.queries ++
      Overlap.queries

  /** Runs `df` to its full result: every row and column is computed and
    * written to the `noop` sink, and nothing is collected to the driver.
    * Unlike `count()`, which lets Catalyst prune the columns, windows and
    * joins the count does not need, this executes the plan Verify checks.
    * Bench's timed runs and WarmServe's serves both go through here.
    */
  private[graft] def runFull(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** `names`, after requiring that each one is a registered query; the
    * error lists every unknown name.
    */
  private[graft] def registered(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names
  }

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    FraudQueries.oracleSql ++ Analytics.oracleSql ++ AnalyticsExt.oracleSql ++
      Dedup.oracleSql ++ SigStore.oracleSql ++ BmStore.oracleSql ++ Similarity.oracleSql ++ AnnIndexIO.oracleSql ++
      TextOps.oracleSql ++ Multimodal.oracleSql ++ TableOps.oracleSql ++
      Layout.oracleSql ++ TrainingPipeline.oracleSql ++ SamplingOps.oracleSql ++
      Temporal.oracleSql ++ Upsert.oracleSql ++ IncrementalStats.oracleSql ++
      Retrieval.oracleSql ++ Winnow.oracleSql ++ BpeTrain.oracleSql ++ Dsir.oracleSql ++
      QualityRules.oracleSql ++ Overlap.oracleSql
}
