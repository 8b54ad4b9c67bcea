package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TxGen
import graft.model.{CardState, FraudConstants, Transaction}
import graft.operators.FraudRules
import graft.streaming.{FraudScoring, FraudStream}

/** Streaming semantics: exact score traces through
  * flatMapGroupsWithState (MemoryStream → memory sink), the P2g
  * state-write-back ordering, and the batch ≡ streaming equivalence that
  * SURVEY.md §5 requires — both formulations score the generator's corpus
  * identically.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tx(card: String, ts: String, amount: Double, loc: String, id: String): Transaction =
    Transaction("1.0", id, s"t-$id", "Alice", card, "amazon", "ECOM",
      amount, "USD", loc, "1.2.3.4", "NORMAL", ts)

  private def runStream(txs: Seq[Transaction], rapidCount: Int): Map[String, (Int, Seq[String])] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Transaction]
    ms.addData(txs)
    val name = s"scored_${System.nanoTime()}"
    // Trigger.Once: one micro-batch over everything queued. With
    // ProcessingTimeTimeout registered, a default-trigger query would spin
    // timeout-check batches forever and processAllAvailable never settles.
    val q = FraudStream
      .score(ms.toDS(), rapidCount)
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try q.awaitTermination(120000)
    finally q.stop()
    spark.table(name)
      .select("event_id", "score", "reasons")
      .collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getSeq[String](2))))
      .toMap
  }

  test("exact score trace incl. state write-back ordering (P2g)") {
    // card hops NY -> CA -> NY rapidly: every event after the first pays
    // travel (+50) against the PREVIOUS location, and from the 3rd event
    // the 10 s velocity window holds >= 3 events (+30).
    val trace = runStream(Seq(
      tx("c1", "2024-01-01T00:00:00Z", 10, "NY", "a"),
      tx("c1", "2024-01-01T00:00:03Z", 10, "CA", "b"),
      tx("c1", "2024-01-01T00:00:06Z", 250, "NY", "c"),
      tx("c1", "2024-01-01T00:00:09Z", 10, "NY", "d")),
      FraudConstants.RapidTxCountV1)
    assert(trace("a") == ((0, Seq())))
    assert(trace("b") == ((50, Seq("IMPOSSIBLE_TRAVEL"))))
    assert(trace("c") == ((120, Seq("HIGH_AMOUNT", "RAPID_TRANSACTIONS", "IMPOSSIBLE_TRAVEL"))))
    assert(trace("d") == ((30, Seq("RAPID_TRANSACTIONS")))) // same loc: no travel
  }

  test("velocity window prunes state relative to the current event") {
    val trace = runStream(Seq(
      tx("c1", "2024-01-01T00:00:00Z", 10, "NY", "a"),
      tx("c1", "2024-01-01T00:00:04Z", 10, "NY", "b"),
      tx("c1", "2024-01-01T00:00:20Z", 10, "NY", "c"), // a,b pruned (>10 s old)
      tx("c1", "2024-01-01T00:00:24Z", 10, "NY", "d"),
      tx("c1", "2024-01-01T00:00:28Z", 10, "NY", "e")), // c,d,e within 10 s
      FraudConstants.RapidTxCountV1)
    assert(trace("c")._1 == 0)
    assert(trace("d")._1 == 0)
    assert(trace("e")._1 == 30)
  }

  test("scoreOne is a pure fold: state evolves exactly like the reference") {
    val s0 = CardState(Nil, None, None)
    val (sc1, _, s1) = FraudScoring.scoreOne(s0, 250.0, "NY", 0L, 3)
    assert(sc1 == 40 && s1.recentTxMillis == List(0L) && s1.lastLoc.contains("NY"))
    val (sc2, r2, s2) = FraudScoring.scoreOne(s1, 10.0, "CA", 5000L, 3)
    assert(sc2 == 50 && r2 == List("IMPOSSIBLE_TRAVEL"))
    assert(s2.recentTxMillis == List(0L, 5000L))
    val (sc3, r3, _) = FraudScoring.scoreOne(s2, 10.0, "CA", 9000L, 3)
    assert(sc3 == 30 && r3 == List("RAPID_TRANSACTIONS"))
  }

  test("batch window-function pipeline == streaming stateful pipeline on the generator corpus") {
    import spark.implicits._
    val txs = TxGen.generate(3000)
    val streaming = runStream(txs, FraudConstants.RapidTxCountV1).map {
      case (id, (score, _)) => id -> score
    }
    val batch = FraudRules
      .scoreTransactions(spark.createDataset(txs).toDF())
      .select("event_id", "score")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(streaming.size == 3000 && batch.size == 3000)
    val diffs = batch.collect { case (id, s) if streaming(id) != s => (id, s, streaming(id)) }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
  }

  test("malformed JSON routes to the dead-letter frame, valid rows parse") {
    import spark.implicits._
    val valid =
      """{"schema_version":"1.0","event_id":"e1","transaction_id":"t1",
        |"customer_id":"Alice","card_id":"card_1","merchant_id":"m",
        |"merchant_category":"POS","amount":10.0,"currency":"USD",
        |"location":"NY","ip_address":"1.2.3.4","event_type":"NORMAL",
        |"timestamp":"2024-01-01T00:00:00Z"}""".stripMargin.replace("\n", "")
    def variant(card: String, from: String, to: String) =
      valid.replace("card_1", card).replace(from, to)
    val kafkaLike = Seq(
      valid,
      // Spark's timestamp cast takes a space for the `T`; so must the fold
      variant("card_2", "2024-01-01T00:00:00Z", "2024-01-01 00:00:00Z"),
      "not json at all",
      """{"card_id":"c9"}""", // parses but no timestamp
      "{\"truncated\":",
      """{"card_id":"c1","timestamp":"2024-01-01T00:00:00Z"}""", // no amount
      variant("c2", "10.0", "\"abc\""),                   // amount not a number
      variant("c3", "2024-01-01T00:00:00Z", "yesterday") // timestamp unparseable
    ).toDF("value")
    val (good, dead) = FraudStream.parseWithDeadLetter(kafkaLike)
    // every admitted row scores, at the event time the split parsed
    val scored = FraudStream.score(good).collect()
      .map(e => e.card_id -> e.event_millis).toMap
    assert(scored == Map("card_1" -> 1704067200000L, "card_2" -> 1704067200000L))
    assert(dead.count() == 6)
    assert(dead.columns.contains("raw"))
  }

  test("the dead-letter query compiles no new code once warm, rejected_at stays a timestamp") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val (_, dead) = FraudStream.parseWithDeadLetter(ms.toDF())
    val q = dead.writeStream.format("memory").queryName("dead_letter_codegen")
      .option("checkpointLocation", Files.createTempDirectory("dlq").toString)
      .start()
    try {
      def batch(i: Int): Unit = {
        ms.addData(s"not json $i", s"""{"card_id":"c$i"}""")
        q.processAllAvailable()
      }
      (0 until 3).foreach(batch)
      val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val warm = compiles.getCount
      (3 until 8).foreach(batch)
      assert(compiles.getCount == warm, "dead-letter batches recompiled their projection")
    } finally q.stop()
    val out = spark.table("dead_letter_codegen")
    assert(out.count() == 16)
    assert(out.schema("rejected_at").dataType == org.apache.spark.sql.types.TimestampType)
    val json = out.select(org.apache.spark.sql.functions.to_json(
      org.apache.spark.sql.functions.struct($"raw", $"rejected_at"))).as[String].collect()
    assert(json.forall(_.matches(
      """.*"rejected_at":"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z"}""")), json.head)
  }
}
