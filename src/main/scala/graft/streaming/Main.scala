package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.FraudConstants._

/** Runnable end-to-end streaming job — the artifact twin of the
  * reference's two entry points:
  *
  *  - v1 (flink/fraud_detection.py:131-203): Kafka `transactions` (latest)
  *    → 13-field JSON parse → keyed stateful scoring (rapid ≥ 3) → keep
  *    FRAUD → `"FRAUD | {json}"` console print.
  *  - v2 (fraud_detector_TAG.py:149-218): Kafka (earliest) → parse with
  *    dead-letter channel → scoring (rapid ≥ 20) → three-sink fan-out
  *    (main results + fraud-alerts + risk-audit), console or Kafka.
  *
  * `--dry-run` constructs and explains every query without contacting a
  * broker (the Kafka source is lazy until `start()`), so the wiring is
  * exercisable in an environment with no Kafka — the same topologies are
  * driven through MemoryStream in MainSpec.
  *
  * Every query it starts (v1, v2 fan-out, dead-letter) checkpoints through
  * [[LocalCheckpointFileManager]] unless `spark.sql.streaming.checkpointFileManagerClass`
  * is set, so `file:` checkpoints are written without forking.
  *
  * Usage: sbt "runMain graft.streaming.Main [--variant v1|v2]
  *   [--source kafka|synthetic] [--brokers host:port] [--topic transactions]
  *   [--offsets latest|earliest] [--sink console|kafka] [--checkpoint dir]
  *   [--rapid-count n] [--dry-run]"
  */
object Main {

  final case class Config(
      variant: String = "v1",
      source: String = "kafka",      // kafka | synthetic (TxGen, kafka-shaped)
      brokers: String = "localhost:9092",
      topic: String = "transactions",
      offsets: String = "",          // "" → variant default (v1 latest, v2 earliest)
      sink: String = "console",
      checkpointDir: String = "",    // "" → temp dir
      rapidCount: Int = -1,          // -1 → variant default (v1 3, v2 20)
      outTopic: String = "fraud-results",
      alertsTopic: String = "fraud-alerts",
      auditTopic: String = "risk-audit",
      deadLetterTopic: String = "dead-letter",
      dryRun: Boolean = false
  ) {
    def effectiveOffsets: String =
      if (offsets.nonEmpty) offsets else if (variant == "v2") "earliest" else "latest"
    def effectiveRapidCount: Int =
      if (rapidCount > 0) rapidCount
      else if (variant == "v2") RapidTxCountV2 else RapidTxCountV1
  }

  /** v1 topology over any kafka-shaped frame (binary/string `value`):
    * parse → score → keep FRAUD → `"<status> | {json}"` wire rows.
    */
  def v1Pipeline(kafka: DataFrame, rapidCount: Int = RapidTxCountV1): DataFrame =
    FraudStream.toV1Json(
      FraudStream.score(FraudStream.parse(kafka), rapidCount)
        .filter(_.status == "FRAUD"))

  final case class V2Pipelines(
      scored: Dataset[ScoredEvent],
      deadLetter: DataFrame
  )

  /** v2 topology: dead-letter-safe parse → score. The three output
    * projections (main/alerts/audit) are applied per micro-batch inside
    * [[FraudStream.fanOut]] so the scored stream is computed once.
    */
  def v2Pipelines(kafka: DataFrame, rapidCount: Int = RapidTxCountV2): V2Pipelines = {
    val (good, dead) = FraudStream.parseWithDeadLetter(kafka)
    V2Pipelines(FraudStream.score(good, rapidCount),
      dead.select(to_json(struct(col("raw"), col("rejected_at"))).as("value")))
  }

  /** Parses the usage above. A value outside a flag's documented set, or
    * a `--rapid-count` that is not a positive integer, throws an
    * IllegalArgumentException naming the flag instead of falling back to
    * a default.
    */
  def parseArgs(args: Array[String]): Config = {
    def positive(flag: String, v: String): Int = v.toIntOption.filter(_ > 0)
      .getOrElse(throw new IllegalArgumentException(
        s"$flag must be a positive integer, got '$v'"))
    @annotation.tailrec
    def loop(rest: List[String], c: Config): Config = rest match {
      case "--variant" :: v :: t        => loop(t, c.copy(variant = v))
      case "--source" :: v :: t         => loop(t, c.copy(source = v))
      case "--brokers" :: v :: t        => loop(t, c.copy(brokers = v))
      case "--topic" :: v :: t          => loop(t, c.copy(topic = v))
      case "--offsets" :: v :: t        => loop(t, c.copy(offsets = v))
      case "--sink" :: v :: t           => loop(t, c.copy(sink = v))
      case "--checkpoint" :: v :: t     => loop(t, c.copy(checkpointDir = v))
      case "--rapid-count" :: v :: t    => loop(t, c.copy(rapidCount = positive("--rapid-count", v)))
      case "--out-topic" :: v :: t      => loop(t, c.copy(outTopic = v))
      case "--alerts-topic" :: v :: t   => loop(t, c.copy(alertsTopic = v))
      case "--audit-topic" :: v :: t    => loop(t, c.copy(auditTopic = v))
      case "--dead-letter-topic" :: v :: t => loop(t, c.copy(deadLetterTopic = v))
      case "--dry-run" :: t             => loop(t, c.copy(dryRun = true))
      case Nil                          => c
      case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
    }
    val c = loop(args.toList, Config())
    def oneOf(flag: String, v: String, allowed: String*): Unit =
      if (!allowed.contains(v)) throw new IllegalArgumentException(
        s"$flag must be one of ${allowed.map(a => s"'$a'").mkString(", ")}, got '$v'")
    oneOf("--variant", c.variant, "v1", "v2")
    oneOf("--source", c.source, "kafka", "synthetic")
    oneOf("--offsets", c.offsets, "", "latest", "earliest")
    oneOf("--sink", c.sink, "console", "kafka")
    c
  }

  /** Kafka-shaped synthetic source: the paced TxGen stream projected to
    * the kafka source's column layout (key/value/topic/partition/offset/
    * timestamp), so every downstream topology is identical whether fed by
    * a broker or locally. Used by `--source synthetic` and as the dry-run
    * fallback when the kafka connector jar is not deployed.
    */
  def kafkaShapedSynthetic(spark: SparkSession, rowsPerSecond: Int = 10): DataFrame = {
    // the offset derives from the rate source's tick (carried through the
    // generator map) — `monotonically_increasing_id()` is batch-only and
    // rejected by the streaming UnsupportedOperationChecker at start().
    graft.gen.TxGen.streamTicked(spark, rowsPerSecond)
      .toDF("tick", "tx")
      .select(col("tick"), col("tx.*"))
      .select(
        col("card_id").cast("binary").as("key"),
        to_json(struct(col("schema_version"), col("event_id"),
          col("transaction_id"), col("customer_id"), col("card_id"),
          col("merchant_id"), col("merchant_category"), col("amount"),
          col("currency"), col("location"), col("ip_address"),
          col("event_type"), col("timestamp"))).cast("binary").as("value"),
        lit("transactions").as("topic"),
        lit(0).as("partition"),
        col("tick").as("offset"),
        current_timestamp().as("timestamp"),
        lit(0).as("timestampType"))
  }

  private def source(spark: SparkSession, cfg: Config): DataFrame =
    if (cfg.source == "synthetic") kafkaShapedSynthetic(spark)
    else FraudStream.kafkaSource(spark, cfg.brokers, cfg.topic, cfg.effectiveOffsets)

  /** The dry-run source: the configured source if its data source
    * resolves, else the kafka-shaped synthetic stand-in. The kafka source
    * is lazy (no broker contact before `start()`) but needs the connector
    * jar at analysis time; environments without it (no kafka jar in
    * `/opt/spark/jars`) still get a full wiring check. Matching is on the
    * error class `DATA_SOURCE_NOT_FOUND`, not the message text — Spark
    * 4.1's message is "Failed to find the data source: kafka" and has
    * changed wording across releases.
    */
  def resolveDryRunSource(spark: SparkSession, cfg: Config): DataFrame =
    try {
      val k = source(spark, cfg)
      k.schema // force analysis
      k
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "DATA_SOURCE_NOT_FOUND" ||
            (e.getMessage.contains("Failed to find") && e.getMessage.contains("kafka")) =>
        println("[dry-run] kafka connector jar not deployed; " +
          "using kafka-shaped synthetic source for the wiring check")
        kafkaShapedSynthetic(spark)
    }

  private def kafkaBatchWriter(brokers: String, topic: String)(df: DataFrame): Unit =
    df.write.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .save()

  private def consoleBatchWriter(label: String)(df: DataFrame): Unit = {
    println(s"=== $label ===")
    df.show(20, truncate = false)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName(s"graft-fraud-${cfg.variant}")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val kafka =
      if (cfg.dryRun) resolveDryRunSource(spark, cfg)
      else source(spark, cfg)

    if (cfg.dryRun) {
      // construct + explain every topology without contacting a broker
      println("=== v1: parse -> score -> FRAUD filter -> 'STATUS | json' ===")
      v1Pipeline(kafka, Config(variant = "v1").effectiveRapidCount).explain()
      val p = v2Pipelines(kafka, Config(variant = "v2").effectiveRapidCount)
      println("=== v2 main (results wire format) ===")
      FraudStream.toV2Json(p.scored).explain()
      println("=== v2 fraud-alerts (score >= 40) ===")
      FraudStream.toV2Json(p.scored.filter(_.score >= FraudThreshold)).explain()
      println("=== v2 risk-audit projection ===")
      FraudStream.toAuditJson(p.scored).explain()
      println("=== v2 dead-letter channel ===")
      p.deadLetter.explain()
      println("DRY_RUN_OK")
      spark.stop()
      return
    }

    val ckpt =
      if (cfg.checkpointDir.nonEmpty) cfg.checkpointDir
      else java.nio.file.Files.createTempDirectory("graft_main_ckpt").toString
    LocalCheckpointFileManager.install(spark)

    cfg.variant match {
      case "v1" =>
        val out = v1Pipeline(kafka, cfg.effectiveRapidCount)
        val q =
          if (cfg.sink == "kafka")
            out.writeStream.format("kafka")
              .option("kafka.bootstrap.servers", cfg.brokers)
              .option("topic", cfg.outTopic)
              .option("checkpointLocation", s"$ckpt/v1")
              .start()
          else
            out.writeStream.format("console")
              .option("truncate", "false")
              .option("checkpointLocation", s"$ckpt/v1")
              .start()
        q.awaitTermination()

      case "v2" =>
        val p = v2Pipelines(kafka, cfg.effectiveRapidCount)
        import spark.implicits._
        def writer(label: String, topic: String): DataFrame => Unit =
          if (cfg.sink == "kafka") df => kafkaBatchWriter(cfg.brokers, topic)(df)
          else consoleBatchWriter(label)
        // one scored pass, three projections per micro-batch (P3)
        val fan = FraudStream.fanOut(
          p.scored,
          writeMain = df => writer("main", cfg.outTopic)(
            FraudStream.toV2Json(df.as[ScoredEvent])),
          writeAlerts = df => writer("fraud-alerts", cfg.alertsTopic)(
            FraudStream.toV2Json(df.as[ScoredEvent])),
          writeAudit = df => writer("risk-audit", cfg.auditTopic)(
            if (cfg.sink == "kafka")
              df.select(to_json(struct(df.columns.map(col): _*)).as("value"))
            else df),
          checkpointDir = s"$ckpt/v2")
        val dlq =
          if (cfg.sink == "kafka")
            p.deadLetter.writeStream.format("kafka")
              .option("kafka.bootstrap.servers", cfg.brokers)
              .option("topic", cfg.deadLetterTopic)
              .option("checkpointLocation", s"$ckpt/dlq")
              .start()
          else
            p.deadLetter.writeStream.format("console")
              .option("truncate", "false")
              .option("checkpointLocation", s"$ckpt/dlq")
              .start()
        spark.streams.awaitAnyTermination()
        fan.stop(); dlq.stop()

      case other => throw new IllegalArgumentException(s"unknown variant: $other")
    }
    spark.stop()
  }
}
