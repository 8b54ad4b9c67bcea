package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The harness runs a query to its full result: the action a timed run
  * or a warm serve executes computes every column of the frame, so
  * Catalyst cannot prune the columns, windows or joins a `count()`
  * would not need.
  */
class RunFullSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  /** Output columns of what the last action run by `body` computed: the
    * input of a write command, else the action's own plan.
    */
  private def computedColumns(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.analyzed): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBusDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val last = seen.asScala.lastOption.getOrElse(fail("no action ran"))
    last.collectFirst { case w: V2WriteCommand => w.query }.getOrElse(last)
      .output.map(_.name)
  }

  test("runFull, Bench's timed run and WarmServe's serve compute every column") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val df = SparkEntry.queries("q_pricing_summary")(spark, sf)
    val q: (org.apache.spark.sql.SparkSession, String) => DataFrame = (_, _) => df
    val cols = df.columns.toSeq
    assert(computedColumns(SparkEntry.runFull(df)) == cols)
    assert(computedColumns(Bench.timeQuery(spark, sf, q): Unit) == cols)
    assert(computedColumns(
      WarmServe.serveOnce(spark, sf, Seq("q"), Map("q" -> q)): Unit) == cols)
  }
}
