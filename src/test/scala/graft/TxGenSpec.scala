package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TxGen
import graft.model.GenDims

/** Generator semantics (producer/transaction-kafka-producer.py:52-100):
  * determinism, per-card monotonic time, fraud-type shaping, dims.
  */
class TxGenSpec extends AnyFunSuite {

  private lazy val txs = TxGen.generate(5000)

  /** Epoch millis of the generator's `yyyy-MM-ddTHH:mm:ssZ` timestamps. */
  private def parseMillis(ts: String): Long = java.time.Instant.parse(ts).toEpochMilli

  test("seeded generation is deterministic; different seeds diverge") {
    assert(TxGen.generate(200) == TxGen.generate(200))
    assert(TxGen.generate(200, seed = 7) != TxGen.generate(200, seed = 8))
  }

  test("per-card event time is strictly monotonic") {
    txs.groupBy(_.card_id).foreach { case (_, ts) =>
      val millis = ts.map(t => parseMillis(t.timestamp))
      assert(millis == millis.sorted)
      assert(millis.distinct.size == millis.size)
    }
  }

  test("fraud mix approximates 80/8/6/6 and amounts follow type shaping") {
    val byType = txs.groupBy(_.event_type).view.mapValues(_.size).toMap
    assert(byType("NORMAL").toDouble / txs.size > 0.7)
    assert(byType.keySet == Set("NORMAL", "CARD_TESTING", "VELOCITY", "IMPOSSIBLE_TRAVEL"))
    txs.filter(_.event_type == "CARD_TESTING").foreach(t => assert(t.amount >= 1 && t.amount <= 5))
    txs.filter(_.event_type == "VELOCITY").foreach(t => assert(t.amount >= 80 && t.amount <= 200))
    txs.filter(_.event_type == "NORMAL").foreach(t => assert(t.amount >= 20 && t.amount <= 300))
  }

  test("dims match the reference: cards map to their customers, 5 locations, merchant ids lowercased") {
    txs.foreach { t =>
      assert(GenDims.CardToCustomer(t.card_id) == t.customer_id)
      assert(graft.model.FraudConstants.Locations.contains(t.location))
      assert(t.merchant_id == t.merchant_id.toLowerCase.replace(" ", "_"))
      assert(t.currency == "USD" && t.schema_version == "1.0")
    }
  }

  test("distributed generator preserves per-card monotonicity") {
    val ds = TxGen.distributed(TestSpark.spark, perCard = 200)
    val rows = ds.collect()
    assert(rows.length == 8 * 200)
    rows.groupBy(_.card_id).foreach { case (_, ts) =>
      val millis = ts.map(t => parseMillis(t.timestamp))
      assert(millis.sorted.sameElements(millis))
    }
  }

  test("tick generator is deterministic and shaped; rate stream produces rows") {
    val now = java.time.Instant.parse("2024-06-01T12:00:00Z")
    val a = (0L until 2000L).map(TxGen.fromTick(now, _))
    val b = (0L until 2000L).map(TxGen.fromTick(now, _))
    assert(a == b)
    val byType = a.groupBy(_.event_type).view.mapValues(_.size).toMap
    assert(byType.keySet == Set("NORMAL", "CARD_TESTING", "VELOCITY", "IMPOSSIBLE_TRAVEL"))
    a.filter(_.event_type == "CARD_TESTING").foreach(t => assert(t.amount >= 1 && t.amount <= 5))

    val spark = TestSpark.spark
    val q = TxGen.stream(spark, rowsPerSecond = 100)
      .writeStream.format("memory").queryName("txgen_stream")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txgen").toString)
      .start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        n = spark.table("txgen_stream").count()
      }
      assert(n > 0, "rate stream produced no rows in 30 s")
    } finally q.stop()
  }

  test("stateful stream generator: monotonic per-card time, shaped travel, fraud mix") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wall = java.time.Instant.parse("2024-06-01T12:00:00Z")
    val in = MemoryStream[TxGen.Tick]
    in.addData((0L until 4000L).map(TxGen.routeTick(wall, _)))
    val q = TxGen.statefulShape(in.toDS())
      .writeStream.format("memory").queryName("txgen_stateful")
      .outputMode("append").trigger(Trigger.Once())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("txgen_sf").toString)
      .start()
    q.awaitTermination()
    val rows = spark.table("txgen_stateful").as[graft.model.Transaction].collect()
    assert(rows.length == 4000)

    // G1a in stream mode: strictly monotonic per-card event time
    rows.groupBy(_.card_id).foreach { case (_, ts) =>
      val millis = ts.map(t => parseMillis(t.timestamp)).sorted
      assert(millis.distinct.size == millis.size)
    }

    // G1b in stream mode: IMPOSSIBLE_TRAVEL events are +90 s at a forced
    // different location (producer:70-77), so the travel rule really fires
    val byCard = rows.groupBy(_.card_id).view.mapValues(
      _.sortBy(t => parseMillis(t.timestamp)))
    var shaped = 0
    byCard.foreach { case (_, ts) =>
      ts.toSeq.sliding(2).foreach {
        case Seq(prev, cur) if cur.event_type == "IMPOSSIBLE_TRAVEL" =>
          assert(cur.location != prev.location)
          assert(parseMillis(cur.timestamp) -
            parseMillis(prev.timestamp) == 90000L)
          shaped += 1
        case _ => ()
      }
    }
    assert(shaped > 20, s"expected a meaningful shaped-travel population, got $shaped")

    // end-to-end: the batch rule engine detects travel on the shaped corpus
    val scored = graft.operators.FraudRules.scoreTransactions(rows.toSeq.toDF())
      .filter(org.apache.spark.sql.functions.col("reasons")
        .contains("IMPOSSIBLE_TRAVEL"))
    assert(scored.count() >= shaped,
      "every shaped travel event must trigger the travel rule")

    // fraud mix still approximates 80/8/6/6
    val byType = rows.groupBy(_.event_type).view.mapValues(_.size).toMap
    assert(byType("NORMAL").toDouble / rows.length > 0.7)
    assert(byType.keySet == Set("NORMAL", "CARD_TESTING", "VELOCITY", "IMPOSSIBLE_TRAVEL"))
  }
}
