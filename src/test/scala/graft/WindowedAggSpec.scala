package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

final case class TsEvent(ts: Timestamp, event_type: String, user_id: Long, value: Double)

/** Windowed aggregation over the events table: the `kmv_distinct` sketch
  * gives the same hourly distinct-user estimates streamed (partial
  * sketches merged through the state store) as in one batch pass, and
  * Spark's native session window agrees with the lag/cum-sum
  * `q_sessionize` query.
  */
class WindowedAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def loadEvents(): Seq[TsEvent] =
    graft.sources.Tables.eventsNormalized(spark, TestSpark.sf0001)
      .select(col("ts").cast("timestamp"), col("event_type"), col("user_id"), col("value"))
      .collect()
      .map(r => TsEvent(r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  /** Hourly (win_start, approx_users, n) with the KMV distinct sketch. */
  private def hourlyDistinct(events: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", "10 minutes") else events
    withWm
      .groupBy(window(col("ts"), "1 hour").as("win"))
      .agg(expr("kmv_distinct(cast(user_id as string))").as("approx_users"),
        count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("approx_users"), col("n"))
  }

  test("streaming KMV windowed distinct == batch exactly (sketch state round-trips the store)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = loadEvents()
    val ms = MemoryStream[TsEvent]
    // two adds → two micro-batches: the second batch MERGES its partial
    // sketches into serialized state from the first, exercising
    // serialize/deserialize + merge through the state store
    val (first, second) = events.splitAt(events.size / 2)
    ms.addData(first)
    ms.addData(second)
    val q = hourlyDistinct(ms.toDF())
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", Files.createTempDirectory("wmk").toString)
      .start()
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2))
    val streamed = spark.table("kmv_stream").collect().map(key).toSet
    val batch = hourlyDistinct(spark.createDataset(events).toDF())
      .collect().map(key).toSet
    // merge-order invariance ⇒ EQUALITY, not approximation
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} diff=${(streamed -- batch).take(3)}")
  }

  test("native session window agrees with lag/cum-sum sessionization counts") {
    import spark.implicits._
    // (user_id, sess_start, n_events) per 30-minute-gap session
    val native = spark.createDataset(loadEvents()).toDF()
      .groupBy(session_window(col("ts"), "30 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("win.start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2))).toSet
    val lagBased = graft.operators.Analytics.queries("q_sessionize")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSet
    assert(native.nonEmpty && native == lagBased,
      s"native=${native.size} lag=${lagBased.size} diff=${(native -- lagBased).take(3)}")
  }
}
