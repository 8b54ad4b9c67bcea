package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `parent` is -1 for a root span; every span of one
  * timed iteration carries that iteration's number in `iter`.
  */
final case class Span(id: Int, parent: Int, iter: Int, name: String, startNs: Long, endNs: Long)

/** Spans around the harness's calls into each layer, plus Spark's own
  * listeners: task/stage totals (`SparkListener`), Catalyst phase times
  * and executed-plan shapes (`QueryExecutionListener`), and micro-batch
  * progress (`StreamingQueryListener`). Everything stays in memory until
  * the run ends. A disabled tracer runs span bodies and nothing else, so
  * the untraced run pays no listener cost.
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  @volatile var iter = 0

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val current = new ThreadLocal[Integer]
  private val SpanProp = "perfbench.span"

  // epoch-millis listener timestamps → the nanoTime axis spans use
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def nsOfMs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = Option(current.get).map(_.intValue).getOrElse(-1)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      current.set(id)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, iter, name, t0, System.nanoTime()))
        current.set(if (parent < 0) null else Integer.valueOf(parent))
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Records an interval measured elsewhere (a stage, a sink callback on
    * the stream thread) as a child of `parent`.
    */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(nextId.getAndIncrement(), parent, iter, name, startNs, endNs))

  def currentSpan: Int = Option(current.get).map(_.intValue).getOrElse(-1)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Span duration minus the part of it covered by its children. */
  def selfNs(s: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
    s.endNs - s.startNs - Tracer.covered(kids)
  }

  // ---- listener totals of the traced iterations, reset per timed loop ----
  final class Totals {
    var jobs, stages, tasks = 0L
    var taskMs, taskMaxMs, gcMs = 0L
    var inputBytes, shuffleWrite, shuffleRead, spill = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val plans = mutable.ArrayBuffer.empty[Map[String, Int]]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  }
  @volatile private var totals = new Totals
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  def reset(): Unit = { drain(); totals = new Totals }
  def snapshot(): Totals = { drain(); totals }
  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      totals.synchronized(totals.jobs += 1)
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .foreach(s => e.stageIds.foreach(st => jobSpan.put(st, s.toInt)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      for (s <- info.submissionTime; c <- info.completionTime) {
        totals.synchronized {
          totals.stages += 1
          totals.stageIntervals += ((nsOfMs(s), nsOfMs(c)))
        }
        record(s"stage ${info.stageId}", jobSpan.getOrDefault(info.stageId, -1),
          nsOfMs(s), nsOfMs(c))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) totals.synchronized {
        val t = totals
        t.tasks += 1
        t.taskMs += m.executorRunTime
        t.taskMaxMs = math.max(t.taskMaxMs, e.taskInfo.duration)
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      totals.synchronized {
        totals.analysisMs += ms("analysis")
        totals.optimizationMs += ms("optimization")
        totals.planningMs += ms("planning")
        totals.plans += Tracer.planCounts(qe.executedPlan)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      totals.synchronized { totals.progress += e.progress }
  }

  /** Turns tracing on: waits until earlier events are delivered, then
    * registers the three listeners and starts spans. Totals accumulate
    * over every enabled interval until `reset`.
    */
  def enable(): Unit = if (!enabled) {
    drain()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  /** Waits until the traced events are delivered, then removes the
    * listeners.
    */
  def disable(): Unit = if (enabled) {
    drain()
    enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {

  /** Length of the union of intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    for ((a, b) <- intervals.sortBy(_._1)) {
      if (b > end) {
        total += b - math.max(a, end)
        end = b
      }
    }
    total
  }

  /** Every node of an executed plan, looking through AQE wrappers and
    * into subqueries.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val buf = mutable.ArrayBuffer.empty[SparkPlan]
    def go(n: SparkPlan): Unit = {
      buf += n
      n match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case other =>
          other.children.foreach(go)
          other.subqueries.foreach(go)
      }
    }
    go(p)
    buf.toSeq
  }

  def planCounts(p: SparkPlan): Map[String, Int] = {
    val nodes = planNodes(p)
    Map(
      "window" -> nodes.count(_.isInstanceOf[WindowExec]),
      "exchange" -> nodes.count(n =>
        n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike]),
      "sort" -> nodes.count(_.isInstanceOf[SortExec]))
  }
}
