package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Transaction
import graft.streaming.{FraudStream, LocalCheckpointFileManager}

/** The reference only *claims* checkpoint-readiness (README.md:58; never
  * enabled in code). Here it is proven: per-card state written by run 1
  * is restored from the checkpoint by run 2, so the travel rule fires on
  * an event whose "previous location" was seen before the restart —
  * including when the restart switches between Spark's default checkpoint
  * file manager and [[graft.streaming.LocalCheckpointFileManager]].
  */
class CheckpointRecoverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tx(card: String, ts: String, amount: Double, loc: String,
      id: String): Transaction =
    Transaction("1.0", id, s"t-$id", "Alice", card, "m", "POS", amount,
      "USD", loc, "1.2.3.4", "NORMAL", ts)

  /** Checkpoint file manager per run: Spark's default, or the one the
    * streaming entry points install.
    */
  private val managers = Map(
    "default" -> None,
    "new" -> Some(classOf[LocalCheckpointFileManager].getName))

  test("card state survives a query restart via the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    for ((first, second) <- Seq("default" -> "new", "new" -> "default", "new" -> "new")) {
      val ckpt = Files.createTempDirectory("recovery").toString
      val ms = MemoryStream[Transaction]
      // foreachBatch sink: unlike the memory sink it supports restarting
      // from an existing checkpoint.
      val seen = new java.util.concurrent.ConcurrentHashMap[String, Int]()

      def run(manager: String): Unit = {
        val key = LocalCheckpointFileManager.ConfKey
        val before = spark.conf.getOption(key)
        managers(manager).fold(spark.conf.unset(key))(spark.conf.set(key, _))
        try {
          val q = FraudStream.score(ms.toDS())
            .writeStream
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.ScoredEvent], _: Long) =>
              batch.collect().foreach(e => seen.put(e.event_id, e.score))
            }
            .outputMode("append")
            .trigger(Trigger.Once())
            .option("checkpointLocation", ckpt)
            .start()
          q.awaitTermination(120000); q.stop()
        } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }

      // Run 1: establishes card_9's location = NY in state.
      ms.addData(Seq(tx("card_9", "2024-01-01T00:00:00Z", 250.0, "NY", "r1")))
      run(first)
      assert(seen.get("r1") == 40, s"$first -> $second") // HIGH_AMOUNT only

      // Run 2 (fresh query, same checkpoint): 60 s later, CA. Travel rule
      // (gap <= 120 s, NY->CA ~3936 km > 500) can only fire if the NY state
      // from run 1 was recovered.
      ms.addData(Seq(tx("card_9", "2024-01-01T00:01:00Z", 10.0, "CA", "r2")))
      run(second)
      assert(seen.get("r2") == 50,
        s"$first -> $second: expected travel rule from recovered state, got ${seen.get("r2")}")
    }
  }
}
