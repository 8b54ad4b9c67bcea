package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}

import graft.model.FraudConstants._
import graft.model.{CardState, Transaction}

/** Per-event scored result (superset of the reference's v1/v2 outputs,
  * SURVEY.md §1.5 — project down for either wire format).
  */
final case class ScoredEvent(
    event_id: String,
    card_id: String,
    amount: Double,
    location: String,
    ip_address: String,
    score: Int,
    status: String,
    severity: String,
    reasons: Seq[String],
    event_time: String,
    event_millis: Long
)

/** The pure scoring core — one event against one card's state, exactly the
  * reference's `process_element` fold (flink/fraud_detection.py:75-128):
  *
  *  1. HIGH_AMOUNT against the current event only;
  *  2. prune state timestamps to the trailing 10 s window *relative to this
  *     event*, append this event, velocity fires on the resulting count;
  *  3. IMPOSSIBLE_TRAVEL against the *previous* location/time (state
  *     updated only after scoring — the P2g write-back ordering);
  *  4. status/severity thresholds 40/70.
  *
  * Shared verbatim by the streaming operator below and (by construction,
  * proven in StreamingSpec's equivalence test) semantically identical to
  * the batch window-function formulation in FraudRules.
  */
object FraudScoring {

  def haversineKm(a: (Double, Double), b: (Double, Double)): Double = {
    val dlat = math.toRadians(b._1 - a._1)
    val dlon = math.toRadians(b._2 - a._2)
    val x = math.pow(math.sin(dlat / 2), 2) +
      math.cos(math.toRadians(a._1)) * math.cos(math.toRadians(b._1)) *
        math.pow(math.sin(dlon / 2), 2)
    2 * EarthRadiusKm * math.atan2(math.sqrt(x), math.sqrt(1 - x))
  }

  def scoreOne(
      state: CardState,
      amount: Double,
      location: String,
      eventMillis: Long,
      rapidCount: Int
  ): (Int, List[String], CardState) = {
    var score = 0
    var reasons = List.empty[String]

    if (amount > MaxAmount) {
      score += HighAmountScore
      reasons :+= ReasonHighAmount
    }

    val history =
      state.recentTxMillis.filter(t => eventMillis - t <= RapidWindowMs) :+ eventMillis
    if (history.size >= rapidCount) {
      score += RapidScore
      reasons :+= ReasonRapid
    }

    val travelHit = (for {
      lastLoc <- state.lastLoc
      lastTime <- state.lastTimeMillis
      from <- LocationCoords.get(lastLoc)
      to <- LocationCoords.get(location)
    } yield location != lastLoc &&
      eventMillis - lastTime <= ImpossibleTravelMs &&
      haversineKm(from, to) > TravelDistanceKm).getOrElse(false)
    if (travelHit) {
      score += TravelScore
      reasons :+= ReasonTravel
    }

    (score, reasons, CardState(history, Some(location), Some(eventMillis)))
  }
}

/** Structured Streaming replication of the reference jobs: Kafka JSON in,
  * keyed stateful scoring, multi-sink fan-out.
  */
object FraudStream {

  /** The declared 13-field wire schema (flink/fraud_detection.py:141-178,
    * SURVEY.md §1.2) — name-matched JSON, `amount` the single DOUBLE.
    */
  val txSchema: StructType = StructType(Seq(
    StructField("schema_version", StringType),
    StructField("event_id", StringType),
    StructField("transaction_id", StringType),
    StructField("customer_id", StringType),
    StructField("card_id", StringType),
    StructField("merchant_id", StringType),
    StructField("merchant_category", StringType),
    StructField("amount", DoubleType),
    StructField("currency", StringType),
    StructField("location", StringType),
    StructField("ip_address", StringType),
    StructField("event_type", StringType),
    StructField("timestamp", StringType)
  ))

  /** Kafka source with the reference's options (S1): value-only JSON on
    * topic `transactions`; offsets latest (v1) / earliest (v2).
    */
  def kafkaSource(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String = "transactions",
      startingOffsets: String = "latest"
  ): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Event time of a `timestamp` string: the reference's parse
    * (flink/fraud_detection.py:85, SURVEY.md §1.2) as in
    * `FraudRules.withEventMillis` — strip the `Z`, Spark's ISO cast, the
    * session TZ pinned to UTC — but null where the string does not parse
    * instead of failing the query. The watermark, the dead-letter split
    * and the fold's event time all read it, so a row the split admits
    * always has the event time the fold scores it at.
    */
  private def eventTime(ts: Column): Column =
    try_to_timestamp(regexp_replace(ts, "Z$", ""))

  /** JSON deserialization (S2) + 5 s watermark (S3): value bytes →
    * name-matched 13-field row; event time from the `timestamp` string.
    */
  def parse(kafka: DataFrame): Dataset[Transaction] =
    watermarked(kafka
      .select(from_json(col("value").cast("string"), txSchema).as("tx")))

  /** The step [[parse]] and [[parseWithDeadLetter]] share: a parsed `tx`
    * struct → its 13 fields, event time from the `timestamp` string, the
    * 5 s watermark on it, typed rows.
    */
  private def watermarked(parsed: DataFrame): Dataset[Transaction] = {
    import parsed.sparkSession.implicits._
    parsed
      .select("tx.*")
      .withColumn("event_time", eventTime(col("timestamp")))
      .withWatermark("event_time", "5 seconds")
      .drop("event_time")
      .as[Transaction]
  }

  private val rejectionTime =
    udf(() => new java.sql.Timestamp(System.currentTimeMillis())).asNondeterministic()

  /** [[parse]] with a dead-letter channel: the reference's
    * `JsonRowDeserializationSchema` fails the task on malformed JSON; at
    * 100 TB/day a poison record must not kill the job. PERMISSIVE
    * `from_json` nulls the struct on parse failure and a field on a type
    * mismatch. Every row the fold cannot score — no struct, no
    * `card_id`, no numeric `amount`, or a `timestamp` that [[eventTime]]
    * cannot parse — routes to a dead-letter frame carrying the raw
    * payload for replay. Returns (good, dead) — same upstream scan, two
    * filtered views.
    *
    * `rejected_at` is each row's own rejection time, a timestamp. It is
    * not `current_timestamp()`: streaming replaces that with a per-batch
    * literal, codegen inlines the literal as a `long` constant, and every
    * dead-letter batch would compile its projection anew, once on the
    * driver and once in a task.
    */
  def parseWithDeadLetter(kafka: DataFrame): (Dataset[Transaction], DataFrame) = {
    val parsed = kafka
      .select(col("value").cast("string").as("raw"),
        from_json(col("value").cast("string"), txSchema).as("tx"))
    // never null: a null struct makes every field test false
    val scorable = col("tx.card_id").isNotNull && col("tx.amount").isNotNull &&
      eventTime(col("tx.timestamp")).isNotNull
    val bad = parsed.filter(!scorable)
      .select(col("raw"), rejectionTime().as("rejected_at"))
    (watermarked(parsed.filter(scorable)), bad)
  }

  /** Keyed stateful scoring (P1 + P2): shuffle by card_id, fold each
    * group's events in event-time order ([[eventTime]]; an unparseable
    * `timestamp` fails the query, so route such rows away first with
    * [[parseWithDeadLetter]]) through [[FraudScoring.scoreOne]].
    * State carries [[CardState]] with a 10-minute processing-time timeout
    * renewed on every write — Flink's OnCreateAndWrite TTL (§1.4).
    *
    * Late events are NOT dropped (the reference registers no timers and
    * processes late rows through state normally, SURVEY.md §2 note).
    */
  def score(
      txs: Dataset[Transaction],
      rapidCount: Int = RapidTxCountV1
  ): Dataset[ScoredEvent] = {
    import txs.sparkSession.implicits._
    val fields = Encoders.product[Transaction].schema.fieldNames.map(col)
    txs
      .select(struct(fields: _*).as("_1"),
        unix_millis(eventTime(col("timestamp"))).as("_2"))
      .as[(Transaction, Long)]
      .groupByKey(_._1.card_id)
      .flatMapGroupsWithState[CardState, ScoredEvent](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (cardId: String, events: Iterator[(Transaction, Long)],
         state: GroupState[CardState]) =>
          if (state.hasTimedOut) {
            // TTL expiry: drop the card's state, nothing to emit.
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(CardState(Nil, None, None))
            val out = events.toSeq
              .sortBy { case (t, ms) => (ms, t.event_id) }
              .map { case (t, ms) =>
                val (score, reasons, next) =
                  FraudScoring.scoreOne(st, t.amount, t.location, ms, rapidCount)
                st = next
                ScoredEvent(t.event_id, t.card_id, t.amount, t.location,
                  t.ip_address, score,
                  if (score >= FraudThreshold) "FRAUD" else "LEGIT",
                  if (score >= HighSeverityThreshold) "HIGH" else "NONE",
                  reasons, t.timestamp, ms)
              }
            state.update(st)
            state.setTimeoutDuration(StateTtlMs) // renew TTL on every write
            out.iterator
          }
      }
  }

  /** v2 side-output fan-out (P3) as a foreachBatch: one scored stream →
    * main + fraud-alerts (score ≥ 40) + risk-audit projections, each
    * written once per micro-batch. The reference's accidental double main
    * emit (P3a, fraud_detector_TAG.py:132,146) is intentionally NOT
    * replicated.
    *
    * Installs [[LocalCheckpointFileManager]] on the session first (unless a
    * checkpoint file manager class is already set), so this query and any
    * started after it write their checkpoints without forking.
    */
  def fanOut(
      scored: Dataset[ScoredEvent],
      writeMain: DataFrame => Unit,
      writeAlerts: DataFrame => Unit,
      writeAudit: DataFrame => Unit,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    LocalCheckpointFileManager.install(scored.sparkSession)
    scored.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[ScoredEvent], _: Long) =>
        val df = batch.toDF().persist()
        try {
          writeMain(df)
          writeAlerts(df.filter(col("score") >= FraudThreshold))
          writeAudit(df.select(col("card_id"), col("score"),
            col("reasons").as("rules_triggered"), col("event_time")))
        } finally { df.unpersist(); () }
      }
      .start()
  }

  /** v1 console wire format (F2 + P2h): `"FRAUD | {json}"` with the exact
    * field order of fraud_detection.py:113-123 (README.md:87-99 example).
    */
  def toV1Json(scored: Dataset[ScoredEvent]): DataFrame =
    scored.toDF().select(concat(col("status"), lit(" | "), to_json(struct(
      col("event_id"), col("card_id"), col("amount"), col("location"),
      col("ip_address"), col("score"), col("status"), col("severity"),
      col("event_time")))).as("value"))

  /** v2 wire format (fraud_detector_TAG.py:116-126): ip, risk_score,
    * reasons array, no severity; status last.
    */
  def toV2Json(scored: Dataset[ScoredEvent]): DataFrame =
    scored.toDF().select(to_json(struct(
      col("event_id"), col("card_id"), col("amount"), col("location"),
      col("ip_address").as("ip"), col("score").as("risk_score"),
      col("reasons"), col("event_time"), col("status"))).as("value"))

  /** v2 risk-audit record (fraud_detector_TAG.py:137-144). */
  def toAuditJson(scored: Dataset[ScoredEvent]): DataFrame =
    scored.toDF().select(to_json(struct(
      col("card_id"), col("score"), col("reasons").as("rules_triggered"),
      col("event_time"))).as("value"))
}
