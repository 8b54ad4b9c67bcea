package graft

import graft.gen.TxGen
import graft.operators.FraudRules

/** Dev smoke runner: drives the flagship entry pipeline and prints the
  * detection-vs-ground-truth crosstab. `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()

    val entry = SparkEntry.entry(spark).cache()
    println(s"ENTRY_ROWS=${entry.count()}")
    entry.show(8, truncate = false)

    println("--- status x event_type (detection vs injected ground truth) ---")
    FraudRules
      .scoreTransactions(TxGen.dataset(spark, 5000).toDF())
      .groupBy("event_type", "status")
      .count()
      .orderBy("event_type", "status")
      .show(20, truncate = false)

    println("--- streaming pipeline (MemoryStream -> stateful scoring -> memory sink) ---")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[graft.model.Transaction]
    ms.addData(TxGen.generate(2000))
    val q = graft.streaming.FraudStream
      .score(ms.toDS())
      .writeStream
      .format("memory")
      .queryName("smoke_scored")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("smoke_ckpt").toString)
      .start()
    q.awaitTermination(120000)
    q.stop()
    val scored = spark.table("smoke_scored").cache()
    println(s"STREAMED_ROWS=${scored.count()}")
    scored.groupBy("status").count().show(5, truncate = false)
    spark.stop()
  }
}
