package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Main

/** Drives graft.streaming.Main's job topologies through MemoryStream —
  * the same wiring `runMain graft.streaming.Main` attaches to Kafka.
  */
class MainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def txJson(id: String, card: String, ts: String, amount: Double): String =
    s"""{"schema_version":"1.0","event_id":"$id","transaction_id":"t-$id",""" +
      s""""customer_id":"Alice","card_id":"$card","merchant_id":"amazon",""" +
      s""""merchant_category":"ECOM","amount":$amount,"currency":"USD",""" +
      s""""location":"NY","ip_address":"1.2.3.4","event_type":"NORMAL",""" +
      s""""timestamp":"$ts"}"""

  test("v1 topology: high-amount event surfaces as 'FRAUD | {json}' wire row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[String]
    in.addData(
      txJson("a", "c1", "2024-01-01T00:00:00Z", 250.0), // HIGH_AMOUNT -> 40
      txJson("b", "c2", "2024-01-01T00:05:00Z", 10.0))  // legit
    val q = Main.v1Pipeline(in.toDF().withColumnRenamed("value", "value"))
      .writeStream.format("memory").queryName("main_v1")
      .outputMode("append").trigger(Trigger.Once())
      .option("checkpointLocation", Files.createTempDirectory("main_v1").toString)
      .start()
    q.awaitTermination()
    val rows = spark.table("main_v1").collect().map(_.getString(0))
    assert(rows.length == 1)
    assert(rows.head.startsWith("FRAUD | {"))
    assert(rows.head.contains(""""event_id":"a"""") &&
      rows.head.contains(""""score":40"""))
  }

  test("v2 topology: scored stream + dead-letter channel from one source") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[String]
    in.addData(
      txJson("a", "c1", "2024-01-01T00:00:00Z", 250.0),
      "definitely-not-json",
      txJson("b", "c2", "2024-01-01T00:05:00Z", 10.0))
    val p = Main.v2Pipelines(in.toDF())
    val qs = p.scored.writeStream.format("memory").queryName("main_v2_scored")
      .outputMode("append").trigger(Trigger.Once())
      .option("checkpointLocation", Files.createTempDirectory("main_v2s").toString)
      .start()
    val qd = p.deadLetter.writeStream.format("memory").queryName("main_v2_dead")
      .outputMode("append").trigger(Trigger.Once())
      .option("checkpointLocation", Files.createTempDirectory("main_v2d").toString)
      .start()
    qs.awaitTermination(); qd.awaitTermination()
    val scored = spark.table("main_v2_scored").collect()
    assert(scored.map(_.getAs[String]("event_id")).toSet == Set("a", "b"))
    // v2 rapid threshold is 20 events/10 s: a single 250-amount event
    // scores HIGH_AMOUNT only
    assert(scored.find(_.getAs[String]("event_id") == "a").get
      .getAs[Int]("score") == 40)
    val dead = spark.table("main_v2_dead").collect().map(_.getString(0))
    assert(dead.length == 1 && dead.head.contains("definitely-not-json"))
  }

  test("dry-run with no kafka connector jar falls back to the synthetic source") {
    // this environment has no kafka connector jar, so the default
    // (--source kafka) dry-run must hit the DATA_SOURCE_NOT_FOUND fallback
    // and hand back the kafka-shaped synthetic stream, not crash.
    val df = Main.resolveDryRunSource(spark, Main.Config(dryRun = true))
    assert(df.isStreaming)
    assert(df.columns.toSeq == Seq("key", "value", "topic", "partition",
      "offset", "timestamp", "timestampType"))
  }

  test("synthetic source passes the streaming checker and runs end-to-end") {
    // regression: an offset from monotonically_increasing_id() makes
    // start() throw (batch-only expression in a streaming plan); the
    // rate-source tick must survive through the full v1 topology.
    val q = Main.v1Pipeline(Main.kafkaShapedSynthetic(spark, rowsPerSecond = 50))
      .writeStream.format("memory").queryName("main_synth_v1")
      .outputMode("append").trigger(Trigger.Once())
      .option("checkpointLocation", Files.createTempDirectory("main_synth").toString)
      .start()
    q.awaitTermination() // would throw if the plan were rejected
  }

  test("arg parsing: variant defaults (offsets, rapid count) and overrides") {
    val v1 = Main.parseArgs(Array("--variant", "v1", "--dry-run"))
    assert(v1.effectiveOffsets == "latest" && v1.effectiveRapidCount == 3 && v1.dryRun)
    val v2 = Main.parseArgs(Array("--variant", "v2", "--brokers", "k:9092"))
    assert(v2.effectiveOffsets == "earliest" && v2.effectiveRapidCount == 20 &&
      v2.brokers == "k:9092")
    val o = Main.parseArgs(Array("--variant", "v2", "--offsets", "latest",
      "--rapid-count", "5", "--sink", "kafka"))
    assert(o.effectiveOffsets == "latest" && o.effectiveRapidCount == 5 &&
      o.sink == "kafka")
    intercept[IllegalArgumentException](Main.parseArgs(Array("--nope")))
  }

  test("arg parsing: a value outside a flag's set fails loudly, naming the flag") {
    def rejects(flag: String, args: String*): Unit = {
      val e = intercept[IllegalArgumentException](Main.parseArgs(args.toArray))
      assert(e.getMessage.contains(flag), e.getMessage)
    }
    rejects("--variant", "--variant", "v3", "--dry-run")
    rejects("--source", "--source", "kafak")
    rejects("--sink", "--sink", "kafak")
    rejects("--offsets", "--offsets", "newest")
    rejects("--rapid-count", "--rapid-count", "0")
    rejects("--rapid-count", "--rapid-count", "-1")
    rejects("--rapid-count", "--rapid-count", "three")
    val ok = Main.parseArgs(Array("--source", "synthetic", "--offsets", "earliest",
      "--sink", "console"))
    assert(ok.source == "synthetic" && ok.effectiveOffsets == "earliest")
  }
}
