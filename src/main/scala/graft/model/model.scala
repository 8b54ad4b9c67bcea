package graft.model

/** Core data model for the fraud-detection engine.
  *
  * Mirrors the reference wire schema (13 fields, 12 string + 1 double;
  * declared at flink/fraud_detection.py:141-178) as a typed case class.
  * `timestamp` stays a String at the boundary (ISO-8601, `Z` suffix) and is
  * parsed to event-time millis inside the pipeline, matching
  * flink/fraud_detection.py:85.
  */
final case class Transaction(
    schema_version: String,
    event_id: String,
    transaction_id: String,
    customer_id: String,
    card_id: String,
    merchant_id: String,
    merchant_category: String,
    amount: Double,
    currency: String,
    location: String,
    ip_address: String,
    event_type: String,
    timestamp: String
)

/** Per-card streaming state (SURVEY.md §1.4): recent event-time millis for
  * the velocity rule + last location/time for the travel rule. One case
  * class replaces the reference's three TTL'd state slots
  * (flink/fraud_detection.py:63-73).
  */
final case class CardState(
    recentTxMillis: List[Long],
    lastLoc: Option[String],
    lastTimeMillis: Option[Long]
)

/** All rule constants, cited from the reference. */
object FraudConstants {
  /** amount > 200 → +40 (flink/fraud_detection.py:20,87-88). */
  val MaxAmount: Double = 200.0
  val HighAmountScore: Int = 40

  /** trailing event-time window for the velocity rule, ms
    * (flink/fraud_detection.py:21).
    */
  val RapidWindowMs: Long = 10000L
  /** ≥3 events in window → +30 (v1, flink/fraud_detection.py:22). */
  val RapidTxCountV1: Int = 3
  /** v2 threshold is 20 (flink/fraud_detector_TAG.py:22). */
  val RapidTxCountV2: Int = 20
  val RapidScore: Int = 30

  /** max gap for impossible travel, ms (flink/fraud_detection.py:23). */
  val ImpossibleTravelMs: Long = 120000L
  /** distance threshold, km (flink/fraud_detection.py:110). */
  val TravelDistanceKm: Double = 500.0
  val TravelScore: Int = 50

  val EarthRadiusKm: Double = 6371.0

  /** score ≥ 40 → FRAUD (flink/fraud_detection.py:121). */
  val FraudThreshold: Int = 40
  /** score ≥ 70 → severity HIGH, v1 only (flink/fraud_detection.py:122). */
  val HighSeverityThreshold: Int = 70

  /** state TTL (flink/fraud_detection.py:57-61), processing-time,
    * OnCreateAndWrite.
    */
  val StateTtlMs: Long = 10 * 60 * 1000L

  /** 5-city coordinate table (flink/fraud_detection.py:26-32). */
  val LocationCoords: Map[String, (Double, Double)] = Map(
    "NY" -> (40.7128, -74.0060),
    "CA" -> (34.0522, -118.2437),
    "TX" -> (29.7604, -95.3698),
    "FL" -> (25.7617, -80.1918),
    "IL" -> (41.8781, -87.6298)
  )

  val Locations: Seq[String] = Seq("NY", "CA", "TX", "FL", "IL")

  // Rule reason tags (flink/fraud_detector_TAG.py:89,98,114).
  val ReasonHighAmount = "HIGH_AMOUNT"
  val ReasonRapid = "RAPID_TRANSACTIONS"
  val ReasonTravel = "IMPOSSIBLE_TRAVEL"
}

/** Synthetic-generator dimension tables
  * (producer/transaction-kafka-producer.py:18-32).
  */
object GenDims {
  val Customers: Seq[(String, Seq[String])] = Seq(
    "Alice" -> Seq("card_1", "card_2"),
    "Bob" -> Seq("card_3"),
    "Charlie" -> Seq("card_4", "card_5"),
    "David" -> Seq("card_6"),
    "Eva" -> Seq("card_7", "card_8")
  )
  val CardToCustomer: Map[String, String] =
    Customers.flatMap { case (c, cards) => cards.map(_ -> c) }.toMap

  val MerchantCategories: Seq[(String, Seq[String])] = Seq(
    "ECOM" -> Seq("Amazon", "Ebay", "Shopify"),
    "POS" -> Seq("Walmart", "Target", "Costco"),
    "ATM" -> Seq("Chase ATM", "BoA ATM")
  )

  /** fraud mix NORMAL/CARD_TESTING/VELOCITY/IMPOSSIBLE_TRAVEL = 80/8/6/6
    * (producer/transaction-kafka-producer.py:56-59).
    */
  val FraudTypeWeights: Seq[(String, Int)] =
    Seq("NORMAL" -> 80, "CARD_TESTING" -> 8, "VELOCITY" -> 6, "IMPOSSIBLE_TRAVEL" -> 6)
}
