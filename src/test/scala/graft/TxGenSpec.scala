package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TxGen
import graft.model.GenDims
import graft.streaming.{FraudStream, Main}

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

  test("tick generator is deterministic and shaped; rate stream produces rows") {
    val now = java.time.Instant.parse("2024-06-01T12:00:00Z")
    val a = (0L until 2000L).map(TxGen.fromTick(now, _))
    val b = (0L until 2000L).map(TxGen.fromTick(now, _))
    assert(a == b)
    val byType = a.groupBy(_.event_type).view.mapValues(_.size).toMap
    assert(byType.keySet == Set("NORMAL", "CARD_TESTING", "VELOCITY", "IMPOSSIBLE_TRAVEL"))
    a.filter(_.event_type == "CARD_TESTING").foreach(t => assert(t.amount >= 1 && t.amount <= 5))

    // the path `--source synthetic` runs: the kafka-shaped rate stream,
    // parsed back the way a broker's records are
    val spark = TestSpark.spark
    val q = FraudStream.parse(Main.kafkaShapedSynthetic(spark, rowsPerSecond = 100))
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
      val fields = FraudStream.txSchema.fieldNames
      assert(fields.length == 13)
      val rows = spark.table("txgen_stream").select(fields.map(col).toSeq: _*).collect()
      assert(rows.forall(r => fields.indices.forall(!r.isNullAt(_))),
        s"a field parsed null: ${rows.find(r => fields.indices.exists(r.isNullAt))}")
    } finally q.stop()
  }
}
