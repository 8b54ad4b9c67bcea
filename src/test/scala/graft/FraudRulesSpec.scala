package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.RegExpExtract
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{FraudConstants, Transaction}
import graft.operators.FraudRules
import graft.streaming.FraudScoring

/** Rule-threshold edges from FIXTURES.md §A: amount 200/200.01, 3 events at
  * a 10 000 ms span edge, travel gap 120 000 ms edge, unknown locations,
  * status/severity cutoffs — driven through the batch window-function
  * pipeline — plus the scorer's plan shape: one window pass.
  */
class FraudRulesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tx(card: String, ts: String, amount: Double, loc: String, id: String): Transaction =
    Transaction("1.0", id, s"t-$id", "Alice", card, "amazon", "ECOM",
      amount, "USD", loc, "1.2.3.4", "NORMAL", ts)

  private def score(txs: Seq[Transaction]): Map[String, (Int, String, String, String)] = {
    import spark.implicits._
    FraudRules
      .scoreTransactions(spark.createDataset(txs).toDF())
      .select("event_id", "score", "status", "severity", "reasons")
      .collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getString(2), r.getString(3), r.getString(4))))
      .toMap
  }

  test("haversine matches the 5-city reference table (NY-CA ~ 3936 km)") {
    val d = FraudScoring.haversineKm(
      FraudConstants.LocationCoords("NY"), FraudConstants.LocationCoords("CA"))
    assert(math.abs(d - 3935.75) < 1.0)
    // every distinct city pair is > 500 km: any in-table location change
    // within the time bound trips the travel rule
    val pairs = for {
      a <- FraudConstants.Locations; b <- FraudConstants.Locations if a < b
    } yield FraudScoring.haversineKm(
      FraudConstants.LocationCoords(a), FraudConstants.LocationCoords(b))
    assert(pairs.forall(_ > 500.0))
  }

  test("HIGH_AMOUNT edge: 200 is legit, 200.01 scores 40") {
    val s = score(Seq(
      tx("c1", "2024-01-01T00:00:00Z", 200.0, "NY", "a"),
      tx("c2", "2024-01-01T00:00:00Z", 200.01, "NY", "b")))
    assert(s("a") == ((0, "LEGIT", "NONE", "")))
    assert(s("b") == ((40, "FRAUD", "NONE", "HIGH_AMOUNT")))
  }

  test("RAPID edge: 3rd event at +10 s fires, at +11 s does not") {
    val inWindow = score(Seq(
      tx("c1", "2024-01-01T00:00:00Z", 10, "NY", "a"),
      tx("c1", "2024-01-01T00:00:05Z", 10, "NY", "b"),
      tx("c1", "2024-01-01T00:00:10Z", 10, "NY", "c")))
    assert(inWindow("c")._1 == 30)
    assert(inWindow("b")._1 == 0)
    val outWindow = score(Seq(
      tx("c2", "2024-01-01T00:00:00Z", 10, "NY", "d"),
      tx("c2", "2024-01-01T00:00:05Z", 10, "NY", "e"),
      tx("c2", "2024-01-01T00:00:11Z", 10, "NY", "f")))
    assert(outWindow("f")._1 == 0)
  }

  test("TRAVEL edge: NY->CA at +120 s fires, +121 s does not, unknown location never") {
    val s = score(Seq(
      tx("c1", "2024-01-01T00:00:00Z", 10, "NY", "a"),
      tx("c1", "2024-01-01T00:02:00Z", 10, "CA", "b"), // gap = 120 000 ms
      tx("c2", "2024-01-01T00:00:00Z", 10, "NY", "c"),
      tx("c2", "2024-01-01T00:02:01Z", 10, "CA", "d"), // gap = 121 000 ms
      tx("c3", "2024-01-01T00:00:00Z", 10, "XX", "e"),
      tx("c3", "2024-01-01T00:00:30Z", 10, "NY", "f"))) // prev loc unknown
    assert(s("b")._1 == 50 && s("b")._2 == "FRAUD")
    assert(s("d")._1 == 0)
    assert(s("f")._1 == 0)
  }

  test("severity HIGH at combined score >= 70; reasons in reference order") {
    val s = score(Seq(
      tx("c1", "2024-01-01T00:00:00Z", 10, "NY", "a"),
      tx("c1", "2024-01-01T00:00:05Z", 300, "CA", "b"))) // high + travel = 90
    assert(s("b") == ((90, "FRAUD", "HIGH", "HIGH_AMOUNT,IMPOSSIBLE_TRAVEL")))
  }

  test("v2 threshold: 20-event velocity rule stays quiet on 3 rapid events") {
    import spark.implicits._
    val txs = Seq(
      tx("c1", "2024-01-01T00:00:00Z", 10, "NY", "a"),
      tx("c1", "2024-01-01T00:00:02Z", 10, "NY", "b"),
      tx("c1", "2024-01-01T00:00:04Z", 10, "NY", "c"))
    val v2 = FraudRules
      .scoreTransactions(spark.createDataset(txs).toDF(),
        rapidCount = FraudConstants.RapidTxCountV2)
      .select("event_id", "score").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(v2.values.forall(_ == 0))
  }

  /** (Window nodes, shuffle Exchanges) of a frame's physical plan. */
  private def windowShape(df: DataFrame): (Int, Int) = {
    val nodes = TestSpark.planNodes(df.queryExecution.executedPlan)
    (nodes.count(_.isInstanceOf[WindowExec]), nodes.count(_.isInstanceOf[ShuffleExchangeExec]))
  }

  test("plan shape: one window pass (2 Window nodes, one shuffle) for the batch scorer") {
    import spark.implicits._
    val txs = Seq(
      tx("c1", "2024-01-01T00:00:00Z", 10, "NY", "a"),
      tx("c1", "2024-01-01T00:00:05Z", 300, "CA", "b"))
    val scored = FraudRules.scoreTransactions(spark.createDataset(txs).toDF())
    assert(windowShape(scored) == ((2, 1)), scored.queryExecution.executedPlan.treeString)
  }

  test("plan shape: fraud_score_v1 has one window pass and parses props once") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val q = SparkEntry.queries("fraud_score_v1")(spark, TestSpark.sf0001)
    assert(windowShape(q) == ((2, 1)), q.queryExecution.executedPlan.treeString)
    val extracts = q.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case r: RegExpExtract => r }.size).sum
    }.sum
    assert(extracts == 1, q.queryExecution.optimizedPlan.treeString)
  }
}
