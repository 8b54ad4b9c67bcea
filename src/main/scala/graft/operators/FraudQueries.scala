package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.FraudConstants._
import graft.sources.Tables

/** Oracle-testable batch formulations of the fraud pipeline over the
  * driver's `events` table (FIXTURES.md §B): `user_id` plays card_id,
  * `value` plays amount, and a deterministic location is derived from the
  * numeric prop so the travel rule has coordinates to chew on. Each query
  * has a DuckDB-equivalent SQL twin in [[oracleSql]] — same expressions,
  * same window frames, same rounding.
  */
object FraudQueries {

  /** events → the standardized (key, millis, amount, location) frame the
    * rule library consumes.
    */
  def eventsAsTx(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .eventsNormalized(spark, sfDir)
      .withColumn("event_millis", col("ts_ms"))
      .withColumn("amount", col("value"))
      .withColumn(
        "location",
        // props is a tiny JSON blob {"k": <int>}; k mod 5 → one of the 5
        // reference cities, exactly reproducible in DuckDB. One lookup on
        // the index, so props is parsed once per row.
        typedLit(Locations).getItem(regexp_extract(col("props"), "(\\d+)", 1).cast("int") % 5)
      )

  private def scored(spark: SparkSession, sfDir: String, rapidCount: Int): DataFrame =
    FraudRules
      .withScores(
        eventsAsTx(spark, sfDir),
        key = "user_id",
        millis = "event_millis",
        amount = "amount",
        location = "location",
        tieBreak = "event_id",
        rapidCount = rapidCount
      )

  private val outCols =
    Seq("event_id", "user_id", "amount", "location", "event_millis",
      "rule_high_amount", "rule_rapid", "rule_travel", "score", "status",
      "severity", "reasons")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fraud_ml_score" -> ((s, d) =>
      // MLlib path (BASELINE.json spark_approach): train on the seeded
      // labeled generator stream, report per-class probability summary.
      // Rows-only driver check — model internals aren't SQL-expressible.
      graft.ml.FraudModel.trainScoreSummary(graft.gen.TxGen.dataset(s, 4000).toDF())),
    "fraud_score_v1" -> ((s, d) =>
      scored(s, d, RapidTxCountV1).select(outCols.map(col): _*)),
    "fraud_score_v2" -> ((s, d) =>
      scored(s, d, RapidTxCountV2)
        .select(col("event_id"), col("user_id"), col("amount"), col("location"),
          col("score").as("risk_score"), col("status"), col("reasons"))),
    "fraud_alerts" -> ((s, d) =>
      scored(s, d, RapidTxCountV1)
        .filter(col("score") >= FraudThreshold)
        .select(col("event_id"), col("user_id"), col("amount"), col("location"),
          col("score"), col("status"), col("reasons"))),
    "fraud_audit" -> ((s, d) =>
      scored(s, d, RapidTxCountV1)
        .select(col("user_id"), col("event_id"), col("score"),
          col("reasons").as("rules_triggered"), col("event_millis")))
  )

  // ---- DuckDB twins -------------------------------------------------------

  private val locSql: String = {
    val whens = Locations.zipWithIndex
      .map { case (l, i) => s"WHEN $i THEN '$l'" }
      .mkString(" ")
    s"CASE (CAST(regexp_extract(props, '(\\d+)', 1) AS INT) % 5) $whens END"
  }

  private def coordSql(locExpr: String, pick: ((Double, Double)) => Double): String = {
    val whens = Locations
      .map(l => s"WHEN '$l' THEN ${pick(LocationCoords(l))}")
      .mkString(" ")
    s"CASE $locExpr $whens END"
  }

  /** Shared WITH prelude: adapter + windows + rule booleans + score. */
  private def scoredSql(rapidCount: Int): String = {
    val lat = (e: String) => coordSql(e, _._1)
    val lon = (e: String) => coordSql(e, _._2)
    val hav =
      s"""2 * $EarthRadiusKm * atan2(sqrt(
         |  pow(sin(radians(${lat("location")} - ${lat("prev_loc")}) / 2), 2)
         |  + cos(radians(${lat("prev_loc")})) * cos(radians(${lat("location")}))
         |  * pow(sin(radians(${lon("location")} - ${lon("prev_loc")}) / 2), 2)
         |), sqrt(1 - (
         |  pow(sin(radians(${lat("location")} - ${lat("prev_loc")}) / 2), 2)
         |  + cos(radians(${lat("prev_loc")})) * cos(radians(${lat("location")}))
         |  * pow(sin(radians(${lon("location")} - ${lon("prev_loc")}) / 2), 2)
         |)))""".stripMargin
    s"""WITH e AS (
       |  SELECT event_id, user_id, value AS amount, epoch_ms(ts) AS event_millis,
       |         $locSql AS location
       |  FROM events
       |), w AS (
       |  SELECT *,
       |    (COUNT(*) OVER (PARTITION BY user_id ORDER BY event_millis
       |       RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) >= $rapidCount) AS rule_rapid,
       |    LAG(location) OVER (PARTITION BY user_id ORDER BY event_millis, event_id) AS prev_loc,
       |    LAG(event_millis) OVER (PARTITION BY user_id ORDER BY event_millis, event_id) AS prev_ms
       |  FROM e
       |), r AS (
       |  SELECT event_id, user_id, amount, location, event_millis, rule_rapid,
       |    (amount > $MaxAmount) AS rule_high_amount,
       |    COALESCE(prev_loc IS NOT NULL AND prev_ms IS NOT NULL
       |      AND location <> prev_loc
       |      AND (event_millis - prev_ms) <= $ImpossibleTravelMs
       |      AND ${lat("location")} IS NOT NULL AND ${lat("prev_loc")} IS NOT NULL
       |      AND ($hav) > $TravelDistanceKm, FALSE) AS rule_travel
       |  FROM w
       |), s AS (
       |  SELECT *,
       |    (CASE WHEN rule_high_amount THEN $HighAmountScore ELSE 0 END
       |     + CASE WHEN rule_rapid THEN $RapidScore ELSE 0 END
       |     + CASE WHEN rule_travel THEN $TravelScore ELSE 0 END)::INT AS score
       |  FROM r
       |), f AS (
       |  SELECT *,
       |    CASE WHEN score >= $FraudThreshold THEN 'FRAUD' ELSE 'LEGIT' END AS status,
       |    CASE WHEN score >= $HighSeverityThreshold THEN 'HIGH' ELSE 'NONE' END AS severity,
       |    concat_ws(',',
       |      CASE WHEN rule_high_amount THEN '$ReasonHighAmount' END,
       |      CASE WHEN rule_rapid THEN '$ReasonRapid' END,
       |      CASE WHEN rule_travel THEN '$ReasonTravel' END) AS reasons
       |  FROM s
       |)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "fraud_score_v1" ->
      s"""${scoredSql(RapidTxCountV1)}
         |SELECT event_id, user_id, amount, location, event_millis,
         |       rule_high_amount, rule_rapid, rule_travel, score, status,
         |       severity, reasons
         |FROM f""".stripMargin,
    "fraud_score_v2" ->
      s"""${scoredSql(RapidTxCountV2)}
         |SELECT event_id, user_id, amount, location, score AS risk_score,
         |       status, reasons
         |FROM f""".stripMargin,
    "fraud_alerts" ->
      s"""${scoredSql(RapidTxCountV1)}
         |SELECT event_id, user_id, amount, location, score, status, reasons
         |FROM f WHERE score >= $FraudThreshold""".stripMargin,
    "fraud_audit" ->
      s"""${scoredSql(RapidTxCountV1)}
         |SELECT user_id, event_id, score, reasons AS rules_triggered,
         |       event_millis
         |FROM f""".stripMargin
  )
}
