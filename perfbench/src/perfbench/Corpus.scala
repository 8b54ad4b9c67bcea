package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.gen.TxGen
import graft.model.FraudConstants._
import graft.model.Transaction

/** One generated event: the 13 wire fields, its place in the corpus
  * (`replica`, `seq` within the replica) and the reference fold's verdict.
  */
final case class GenRow(
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
    timestamp: String,
    replica: Int,
    seq: Int,
    exp_high: Boolean,
    exp_rapid: Boolean,
    exp_travel: Boolean
)

/** Expected rule hits of one event. */
final case class Flags(high: Boolean, rapid: Boolean, travel: Boolean) {
  def score: Int =
    (if (high) HighAmountScore else 0) + (if (rapid) RapidScore else 0) +
      (if (travel) TravelScore else 0)
  def reasons: Seq[String] =
    Seq(high -> ReasonHighAmount, rapid -> ReasonRapid, travel -> ReasonTravel)
      .collect { case (true, r) => r }
}

/** The benchmark's own fold of the reference rules, written from
  * `FraudConstants` alone so that a change to the program's scoring cannot
  * also change what it is checked against.
  */
object RefFold {

  private def haversine(a: (Double, Double), b: (Double, Double)): Double = {
    val dLat = math.toRadians(b._1 - a._1)
    val dLon = math.toRadians(b._2 - a._2)
    val h = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(a._1)) * math.cos(math.toRadians(b._1)) *
        math.pow(math.sin(dLon / 2), 2)
    2 * EarthRadiusKm * math.atan2(math.sqrt(h), math.sqrt(1 - h))
  }

  /** Folds every card's events in event-time order; returns flags per event
    * id.
    */
  def fold(events: Seq[Transaction], rapidCount: Int): Map[String, Flags] = {
    val out = mutable.HashMap.empty[String, Flags]
    for ((_, card) <- events.groupBy(_.card_id)) {
      val window = mutable.Queue.empty[Long]
      var prev: Option[(String, Long)] = None
      val ordered = card.map(t => (Instant.parse(t.timestamp).toEpochMilli, t))
        .sortBy { case (ms, t) => (ms, t.event_id) }
      for ((ms, t) <- ordered) {
        while (window.nonEmpty && ms - window.head > RapidWindowMs) window.dequeue()
        window.enqueue(ms)
        val travel = prev.exists { case (loc, at) =>
          loc != t.location && ms - at <= ImpossibleTravelMs &&
            LocationCoords.contains(loc) && LocationCoords.contains(t.location) &&
            haversine(LocationCoords(loc), LocationCoords(t.location)) > TravelDistanceKm
        }
        out(t.event_id) = Flags(t.amount > MaxAmount, window.size >= rapidCount, travel)
        prev = Some((t.location, ms))
      }
    }
    out.toMap
  }
}

/** Workload corpora: independently seeded 8-card `TxGen` replicas whose
  * card and event ids carry the replica number, so every card keeps the
  * generator's per-card timing and fraud mix.
  */
object Corpus {

  val WireColumns: Seq[String] = Seq("schema_version", "event_id", "transaction_id",
    "customer_id", "card_id", "merchant_id", "merchant_category", "amount",
    "currency", "location", "ip_address", "event_type", "timestamp")

  def replicaSeed(seed: Long, replica: Int): Long = seed * 1000003L + replica

  def replica(seed: Long, r: Int, perReplica: Int): Seq[GenRow] = {
    val txs = TxGen.generate(perReplica, replicaSeed(seed, r)).map(t =>
      t.copy(card_id = s"${t.card_id}-r$r", event_id = s"${t.event_id}-r$r"))
    val flags = RefFold.fold(txs, RapidTxCountV1)
    txs.zipWithIndex.map { case (t, i) =>
      val f = flags(t.event_id)
      GenRow(t.schema_version, t.event_id, t.transaction_id, t.customer_id,
        t.card_id, t.merchant_id, t.merchant_category, t.amount, t.currency,
        t.location, t.ip_address, t.event_type, t.timestamp, r, i,
        f.high, f.rapid, f.travel)
    }
  }

  /** Generates `replicas` replicas in Spark tasks. */
  def generate(spark: SparkSession, seed: Long, replicas: Int, perReplica: Int): Dataset[GenRow] = {
    import spark.implicits._
    spark.range(0L, replicas.toLong, 1L, spark.sparkContext.defaultParallelism * 2)
      .as[Long]
      .flatMap(r => replica(seed, r.toInt, perReplica))
  }
}
