package graft.gen

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.UUID

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{FraudConstants, GenDims, Transaction}

/** Deterministic synthetic transaction generator.
  *
  * Replicates the semantics of producer/transaction-kafka-producer.py:52-100:
  * uniform customer choice then uniform card within customer, fraud-type mix
  * 80/8/6/6, per-card monotonic event time (+1..5 s; IMPOSSIBLE_TRAVEL forces
  * +90 s and a different location), type-shaped amounts (NORMAL 20-300,
  * CARD_TESTING 1-5, VELOCITY 80-200), ISO-8601 `Z` second-precision
  * timestamps, random IPv4 with octets 1-245, and the ground-truth label in
  * `event_type`.
  *
  * Unlike the reference (which anchors on wall-clock `datetime.now`,
  * producer:40), we anchor each card's first event at a fixed base instant so
  * runs are fully reproducible — the reference's own `random.seed(42)`
  * (producer:12) shows determinism was intended.
  */
object TxGen {

  val BaseInstant: Instant = Instant.parse("2024-01-01T00:00:00Z")
  private val IsoFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)

  /** Sequential, exactly-ordered generation (driver-side). Good up to a few
    * million rows.
    */
  def generate(n: Int, seed: Long = 42L): Seq[Transaction] = {
    val rnd = new Random(seed)
    val lastActivity = mutable.Map[String, (String, Instant)]() // card -> (loc, time)
    (0 until n).map(_ => next(rnd, lastActivity))
  }

  /** One transaction, mutating per-card last-activity (the generator's only
    * state, producer:95-98).
    */
  private def next(
      rnd: Random,
      lastActivity: mutable.Map[String, (String, Instant)]
  ): Transaction = {
    val (_, cards) = GenDims.Customers(rnd.nextInt(GenDims.Customers.size))
    val cardId = cards(rnd.nextInt(cards.size))
    val customer = GenDims.CardToCustomer(cardId)
    val fraudType = weightedChoice(rnd, GenDims.FraudTypeWeights)

    var time = lastActivity.get(cardId) match {
      case Some((_, t)) => t.plusSeconds(1L + rnd.nextInt(5))
      case None         => BaseInstant
    }
    var location = FraudConstants.Locations(rnd.nextInt(FraudConstants.Locations.size))
    var amount = round2(20 + rnd.nextDouble() * 280)
    val (category, merchants) =
      GenDims.MerchantCategories(rnd.nextInt(GenDims.MerchantCategories.size))
    val merchant = merchants(rnd.nextInt(merchants.size))

    fraudType match {
      case "CARD_TESTING" => amount = round2(1 + rnd.nextDouble() * 4)
      case "VELOCITY"     => amount = round2(80 + rnd.nextDouble() * 120)
      case "IMPOSSIBLE_TRAVEL" =>
        lastActivity.get(cardId).foreach { case (prevLoc, prevTime) =>
          val others = FraudConstants.Locations.filter(_ != prevLoc)
          location = others(rnd.nextInt(others.size))
          time = prevTime.plusSeconds(90)
        }
      case _ => ()
    }

    val tx = Transaction(
      schema_version = "1.0",
      event_id = s"evt-${time.toEpochMilli}-${hex6(rnd)}",
      transaction_id = new UUID(rnd.nextLong(), rnd.nextLong()).toString,
      customer_id = customer,
      card_id = cardId,
      merchant_id = merchant.replace(" ", "_").toLowerCase,
      merchant_category = category,
      amount = amount,
      currency = "USD",
      location = location,
      ip_address = Seq.fill(4)(1 + rnd.nextInt(245)).mkString("."),
      event_type = fraudType,
      timestamp = IsoFmt.format(time)
    )
    lastActivity(cardId) = (location, time)
    tx
  }

  def dataset(spark: SparkSession, n: Int, seed: Long = 42L): Dataset[Transaction] = {
    import spark.implicits._
    spark.createDataset(generate(n, seed))
  }

  /** Streaming analogue of the reference's paced infinite producer
    * (SURVEY.md §2 G1; producer/transaction-kafka-producer.py:110-144):
    * the built-in `rate` source paces ticks, each tick maps statelessly
    * and deterministically (seeded by the tick number) to one shaped
    * transaction, returned beside its tick. Event time anchors on the
    * tick's wall-clock timestamp, matching the reference's `datetime.now`
    * anchoring (producer:40,48); the IMPOSSIBLE_TRAVEL branch labels
    * intent without reading per-card state (detection downstream is what
    * reconstructs travel from history, exactly as in the reference
    * pipeline).
    *
    * The tick is the natural monotonic offset for kafka-shaped
    * projections — streaming plans reject `monotonically_increasing_id()`
    * (Spark's UnsupportedOperationChecker), so any "offset" column must
    * derive from source data like this tick, never from a batch-only
    * expression.
    */
  def streamTicked(spark: SparkSession, rowsPerSecond: Int = 10,
      seed: Long = 42L): Dataset[(Long, Transaction)] = {
    import spark.implicits._
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .as[(java.sql.Timestamp, Long)]
      .map { case (ts, tick) => (tick, fromTick(ts.toInstant, tick, seed)) }
  }

  /** One stateless, tick-deterministic transaction (used by [[streamTicked]]). */
  def fromTick(time: Instant, tick: Long, seed: Long = 42L): Transaction = {
    val rnd = new Random(seed ^ tick)
    val (_, cards) = GenDims.Customers(rnd.nextInt(GenDims.Customers.size))
    val cardId = cards(rnd.nextInt(cards.size))
    val fraudType = weightedChoice(rnd, GenDims.FraudTypeWeights)
    val location = FraudConstants.Locations(rnd.nextInt(FraudConstants.Locations.size))
    var amount = round2(20 + rnd.nextDouble() * 280)
    val (category, merchants) =
      GenDims.MerchantCategories(rnd.nextInt(GenDims.MerchantCategories.size))
    val merchant = merchants(rnd.nextInt(merchants.size))
    fraudType match {
      case "CARD_TESTING" => amount = round2(1 + rnd.nextDouble() * 4)
      case "VELOCITY"     => amount = round2(80 + rnd.nextDouble() * 120)
      case _              => ()
    }
    val secs = Instant.ofEpochSecond(time.getEpochSecond)
    Transaction(
      schema_version = "1.0",
      event_id = s"evt-${secs.toEpochMilli}-${hex6(rnd)}",
      transaction_id = new UUID(rnd.nextLong(), rnd.nextLong()).toString,
      customer_id = GenDims.CardToCustomer(cardId),
      card_id = cardId,
      merchant_id = merchant.replace(" ", "_").toLowerCase,
      merchant_category = category,
      amount = amount,
      currency = "USD",
      location = location,
      ip_address = Seq.fill(4)(1 + rnd.nextInt(245)).mkString("."),
      event_type = fraudType,
      timestamp = IsoFmt.format(secs)
    )
  }

  private def weightedChoice(rnd: Random, weighted: Seq[(String, Int)]): String = {
    val total = weighted.map(_._2).sum
    val r = rnd.nextInt(total)
    // explicit cumulative scan — no side effects in any predicate, so the
    // 80/8/6/6 mix survives refactors (a side-effecting pattern guard in
    // collectFirst depends on exactly-once guard evaluation)
    var cum = 0
    var i = 0
    while (i < weighted.length) {
      cum += weighted(i)._2
      if (r < cum) return weighted(i)._1
      i += 1
    }
    weighted.last._1
  }

  private def round2(d: Double): Double = math.rint(d * 100) / 100

  private def hex6(rnd: Random): String = f"${rnd.nextInt(0x1000000)}%06x"
}
