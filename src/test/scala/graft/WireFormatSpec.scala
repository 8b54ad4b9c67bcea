package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{FraudConstants, Transaction}
import graft.streaming.FraudStream

/** Wire-format parity with the reference output records (SURVEY.md §1.5)
  * and the foreachBatch fan-out (P3).
  */
class WireFormatSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tx(card: String, ts: String, amount: Double, loc: String, id: String): Transaction =
    Transaction("1.0", id, s"t-$id", "Alice", card, "amazon", "ECOM",
      amount, "USD", loc, "1.2.3.4", "NORMAL", ts)

  test("v1 json matches the reference field order and prefix format") {
    import spark.implicits._
    // NY -> CA at +5 s with amount 250: HIGH_AMOUNT + IMPOSSIBLE_TRAVEL = 90
    val scored = FraudStream.score(spark.createDataset(Seq(
      tx("card_3", "2024-01-01T00:00:00Z", 10.0, "NY", "e0"),
      tx("card_3", "2024-01-01T00:00:05Z", 250.0, "CA", "e1"))),
      FraudConstants.RapidTxCountV1)
    val rows = FraudStream.toV1Json(scored).collect().map(_.getString(0)).sorted
    assert(rows.head.startsWith("FRAUD | {\"event_id\":\"e1\",\"card_id\":\"card_3\",\"amount\":250.0,"))
    assert(rows.head.contains("\"score\":90,\"status\":\"FRAUD\",\"severity\":\"HIGH\",\"event_time\":\"2024-01-01T00:00:05Z\""))
    assert(rows.last.startsWith("LEGIT | {\"event_id\":\"e0\""))
    assert(rows.last.contains("\"severity\":\"NONE\""))
  }

  test("v2 json renames ip/risk_score, carries reasons array, drops severity") {
    import spark.implicits._
    val scored = FraudStream.score(spark.createDataset(Seq(
      tx("card_3", "2024-01-01T00:00:00Z", 10.0, "NY", "e0"),
      tx("card_3", "2024-01-01T00:00:05Z", 250.0, "CA", "e1"))),
      FraudConstants.RapidTxCountV1)
    val v2 = FraudStream.toV2Json(scored).collect().map(_.getString(0)).find(_.contains("\"e1\"")).get
    assert(v2.contains("\"ip\":\"1.2.3.4\""))
    assert(v2.contains("\"risk_score\":90"))
    assert(v2.contains("\"reasons\":[\"HIGH_AMOUNT\",\"IMPOSSIBLE_TRAVEL\"]"))
    assert(!v2.contains("severity"))
    val audit = FraudStream.toAuditJson(scored).collect().map(_.getString(0)).find(_.contains("90")).get
    assert(audit.contains("\"rules_triggered\":[\"HIGH_AMOUNT\",\"IMPOSSIBLE_TRAVEL\"]"))
  }

  test("foreachBatch fan-out routes main/alerts/audit like the v2 side outputs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // concurrent map (polled from the test thread while the streaming
    // thread writes), and empty micro-batches are ignored: fMGWS with a
    // processing-time timeout keeps firing empty batches after the data
    // batch, and letting one overwrite a captured result is a race
    val buf = scala.collection.concurrent.TrieMap[String, Seq[org.apache.spark.sql.Row]]()
    def capture(key: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.collect().toSeq
      if (rows.nonEmpty) buf(key) = rows
    }
    val ms = MemoryStream[Transaction]
    ms.addData(Seq(
      tx("c1", "2024-01-01T00:00:00Z", 10.0, "NY", "a"),   // LEGIT
      tx("c1", "2024-01-01T00:00:05Z", 250.0, "CA", "b"),  // 90 FRAUD
      tx("c2", "2024-01-01T00:00:00Z", 300.0, "NY", "c"))) // 40 FRAUD
    val q = FraudStream.fanOut(
      FraudStream.score(ms.toDS(), FraudConstants.RapidTxCountV1),
      writeMain = capture("main"),
      writeAlerts = capture("alerts"),
      writeAudit = capture("audit"),
      checkpointDir = Files.createTempDirectory("fanout").toString)
    try {
      var waited = 0
      while (waited < 60000 && buf.size < 3) { Thread.sleep(250); waited += 250 }
    } finally q.stop()
    assert(buf("main").size == 3)
    assert(buf("alerts").map(_.getAs[String]("event_id")).toSet == Set("b", "c"))
    assert(buf("audit").size == 3)
    assert(buf("audit").head.schema.fieldNames.toSeq ==
      Seq("card_id", "score", "rules_triggered", "event_time"))
  }
}
