package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.model.FraudConstants._

/** Batch formulation of the reference's fraud rules
  * (flink/fraud_detection.py:75-128) as declarative Catalyst plans:
  *
  *  - HIGH_AMOUNT: `amount > 200` → +40 (fraud_detection.py:87-88)
  *  - RAPID_TRANSACTIONS: ≥N events per key within a trailing 10 s
  *    event-time window (incl. the current event) → +30 — the reference's
  *    hand-rolled state prune (fraud_detection.py:90-96) is exactly a
  *    `RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW` count when events are
  *    folded in event-time order (SURVEY.md §7.4 fixes event-time order as
  *    canonical).
  *  - IMPOSSIBLE_TRAVEL: previous event for the key exists, different
  *    location, gap ≤ 120 s, both locations in the 5-city table, haversine
  *    > 500 km → +50 (fraud_detection.py:98-111) — `lag` over the same
  *    key partitioning.
  *
  * Everything is built-in `functions._` (whole-stage-codegen'd). The
  * scorer is one window pass: the lag and range-count columns are
  * computed once ([[withWindowColumns]]) and every rule, the score and
  * the status/severity/reasons read those columns, so the plan has two
  * Window nodes (one per spec) over one Sort and one Exchange on the key.
  * No UDFs, no custom expressions needed (SURVEY.md §7.3).
  */
object FraudRules {

  /** Great-circle distance in km (flink/fraud_detection.py:38-51) as a pure
    * column expression — same formula, codegen-friendly, no UDF.
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dlat = radians(lat2 - lat1)
    val dlon = radians(lon2 - lon1)
    val x = pow(sin(dlat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dlon / 2), 2)
    lit(2 * EarthRadiusKm) * atan2(sqrt(x), sqrt(lit(1) - x))
  }

  /** Latitude for a 2-letter location code; null when not in the 5-city
    * table (which disables the travel rule, matching the
    * `location in LOCATION_COORDS` guard at fraud_detection.py:105-106).
    * A literal CASE stays inside codegen and — unlike a join — costs nothing
    * at 100 TB; the table is 5 constant rows.
    */
  def latFor(loc: Column): Column = coordCase(loc, _._1)
  def lonFor(loc: Column): Column = coordCase(loc, _._2)

  private def coordCase(loc: Column, pick: ((Double, Double)) => Double): Column =
    LocationCoords.foldLeft(lit(null).cast("double")) { case (acc, (code, c)) =>
      when(loc === code, lit(pick(c))).otherwise(acc)
    }

  /** Helper columns of [[withWindowColumns]]: the previous event's
    * location and millis (`lag` in (millis, tieBreak) order) and the
    * count of the key's events in the trailing 10 s (incl. the current).
    */
  val PrevLoc = "prev_loc"
  val PrevMs = "prev_ms"
  val RecentCount = "recent_count"
  val WindowColumns: Seq[String] = Seq(PrevLoc, PrevMs, RecentCount)

  /** The one window step every rule reads: appends [[WindowColumns]] in a
    * single `select`, so Catalyst plans one Window node per spec over one
    * Sort and one Exchange on the key. Downstream expressions refer to the
    * columns, never to re-inlined `over(...)` expressions.
    */
  def withWindowColumns(
      df: DataFrame,
      key: String = "card_id",
      millis: String = "event_millis",
      location: String = "location",
      tieBreak: String = "event_id"
  ): DataFrame = {
    val byKey = Window.partitionBy(col(key))
    val rangeW = byKey.orderBy(col(millis)).rangeBetween(-RapidWindowMs, 0)
    val lagW = byKey.orderBy(col(millis), col(tieBreak))
    df.select(
      col("*"),
      lag(col(location), 1).over(lagW).as(PrevLoc),
      lag(col(millis), 1).over(lagW).as(PrevMs),
      count(lit(1)).over(rangeW).as(RecentCount))
  }

  /** Distance in km from the previous event's location to this one; null
    * when either is outside the 5-city table. Reads [[PrevLoc]].
    */
  def travelKm(location: Column): Column = {
    val prevLoc = col(PrevLoc)
    haversineKm(latFor(prevLoc), lonFor(prevLoc), latFor(location), lonFor(location))
  }

  /** Append rule/score/status columns to any keyed event frame, in one
    * window pass: [[withWindowColumns]] adds the lag and range-count
    * columns, one projection derives the three rule booleans from them,
    * and score, status, severity and reasons are computed from the rule
    * columns. The helper columns are dropped, so the output is the input
    * plus exactly the columns listed below.
    *
    * @param df        input with at least (key, millis, amount, location)
    * @param key       grouping key column name (card_id analogue)
    * @param millis    event-time epoch-millis column (LongType)
    * @param amount    transaction amount (DoubleType)
    * @param location  2-letter location code
    * @param tieBreak  deterministic order tiebreaker within equal millis
    * @param rapidCount velocity threshold: 3 (v1) or 20 (v2)
    *
    * Adds: rule_high_amount / rule_rapid / rule_travel (boolean),
    * score (int), status, severity, reasons (comma-joined, rule order as in
    * flink/fraud_detector_TAG.py:89,98,114).
    */
  def withScores(
      df: DataFrame,
      key: String = "card_id",
      millis: String = "event_millis",
      amount: String = "amount",
      location: String = "location",
      tieBreak: String = "event_id",
      rapidCount: Int = RapidTxCountV1
  ): DataFrame = {
    val loc = col(location)
    val prevLoc = col(PrevLoc)
    val travelHit = prevLoc.isNotNull && col(PrevMs).isNotNull &&
      loc =!= prevLoc &&
      (col(millis) - col(PrevMs)) <= ImpossibleTravelMs &&
      latFor(loc).isNotNull && latFor(prevLoc).isNotNull &&
      travelKm(loc) > TravelDistanceKm

    val high = col("rule_high_amount")
    val rapid = col("rule_rapid")
    val travel = col("rule_travel")
    val score =
      (when(high, HighAmountScore).otherwise(0) +
        when(rapid, RapidScore).otherwise(0) +
        when(travel, TravelScore).otherwise(0)).cast("int")

    withWindowColumns(df, key, millis, location, tieBreak)
      .select(
        col("*"),
        (col(amount) > MaxAmount).as("rule_high_amount"),
        (col(RecentCount) >= rapidCount).as("rule_rapid"),
        coalesce(travelHit, lit(false)).as("rule_travel"))
      .drop(WindowColumns: _*)
      .withColumn("score", score)
      .select(
        col("*"),
        when(col("score") >= FraudThreshold, "FRAUD").otherwise("LEGIT").as("status"),
        when(col("score") >= HighSeverityThreshold, "HIGH").otherwise("NONE").as("severity"),
        concat_ws(",",
          when(high, ReasonHighAmount),
          when(rapid, ReasonRapid),
          when(travel, ReasonTravel)).as("reasons"))
  }

  /** The reference's timestamp parse (fraud_detection.py:85): strip the
    * `Z`, parse the ISO string, epoch millis with the session TZ pinned
    * to UTC. Adds `event_millis`.
    */
  def withEventMillis(tx: DataFrame): DataFrame =
    tx.withColumn("event_millis",
      unix_millis(to_timestamp(regexp_replace(col("timestamp"), "Z$", ""))))

  /** Score a transaction frame in the reference's wire schema. */
  def scoreTransactions(tx: DataFrame, rapidCount: Int = RapidTxCountV1): DataFrame =
    withScores(withEventMillis(tx), rapidCount = rapidCount)
}
