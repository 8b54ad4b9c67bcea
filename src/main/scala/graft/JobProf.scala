package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query job/stage profiler (optimization guide §1: measure first).
  *
  * Runs the named queries once each (same `.count()` action as Bench) under
  * a listener and prints, per query: wall seconds, number of Spark jobs,
  * summed in-stage task time, the max single-task time (straggler signal),
  * total task count, process CPU and GC seconds (JVM MXBean deltas over
  * the run), and the DRIVER GAP — wall time not covered by any
  * running stage (planning, AQE re-optimization, broadcast collects,
  * checkpoint bookkeeping). The gap column is what separates "the plan
  * computes too much" from "the plan has too many sequential barriers",
  * which is the first question at local fixture scale where data volume is
  * tiny and fixed overheads dominate.
  *
  * `tools/jrun.sh graft.JobProf <sfDir> <q1> [q2 ...]` — defaults to the
  * bench headline. Session from [[Session.local]]; env GRAFT_PROF_RUNS
  * (default 2; the LAST run is reported so one-time store builds / JIT
  * land outside the profile, mirroring Bench's median-of-3 discipline).
  */
object JobProf {

  private final class Prof extends SparkListener {
    final case class Stage(durMs: Long, taskTimeMs: Long, tasks: Int)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    // max single-task wall (straggler signal) — from onTaskEnd, the only
    // callback that sees per-task durations (ADVICE r20: the old per-Stage
    // maxTaskMs field was stored as 0 and never printed)
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    // [start, end] unix ms per stage, for the gap computation
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onJobEnd(j: SparkListenerJobEnd): Unit = ()
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null)
        maxTaskMs.getAndAccumulate(t.taskInfo.duration, math.max)
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val dur = (for {s <- i.submissionTime; e <- i.completionTime} yield e - s).getOrElse(0L)
      val run = i.taskMetrics.executorRunTime
      stages.add(Stage(dur, run, i.numTasks))
      for {s <- i.submissionTime; e <- i.completionTime} spans.add((s, e))
      if (sys.env.contains("GRAFT_PROF_STAGES"))
        stageRows.add(f"    stage ${i.stageId}%4d dur=${dur / 1e3}%6.2f tasks=${i.numTasks}%4d " +
          f"taskt=${run / 1e3}%7.2f gc=${i.taskMetrics.jvmGCTime / 1e3}%5.2f " +
          f"deser=${i.taskMetrics.executorDeserializeTime / 1e3}%5.2f " +
          f"${i.name.take(90)}")
    }
  }

  /** Wall ms minus the union of stage spans — driver-side serial time. */
  private def gapMs(spans: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val sorted = spans.filter(s => s._2 > t0 && s._1 < t1)
      .map(s => (math.max(s._1, t0), math.min(s._2, t1))).sortBy(_._1)
    var covered = 0L
    var cur = t0
    for ((s, e) <- sorted) {
      if (e > cur) { covered += e - math.max(s, cur); cur = e }
    }
    (t1 - t0) - covered
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Bench.headline
    val runs = math.max(1, sys.env.getOrElse("GRAFT_PROF_RUNS", "2").toInt)
    val spark = Session.local()
    // same warmup as Bench
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    val queries = SparkEntry.queries
    println(f"${"query"}%-36s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"taskt_s"}%8s ${"maxt_s"}%6s ${"cpu_s"}%7s ${"gc_s"}%6s ${"gap_s"}%6s")
    names.filter(queries.contains).foreach { n =>
      var last: String = null
      for (r <- 1 to runs) {
        val prof = new Prof
        spark.sparkContext.addSparkListener(prof)
        spark.sparkContext.setJobDescription(n)
        val t0w = System.currentTimeMillis(); val c0 = Bench.processCpuNs(); val g0 = Bench.gcTimeMs()
        try queries(n)(spark, sfDir).count()
        catch { case e: Throwable => System.err.println(s"[prof] $n failed: $e") }
        val t1w = System.currentTimeMillis(); val c1 = Bench.processCpuNs(); val g1 = Bench.gcTimeMs()
        spark.sparkContext.removeSparkListener(prof)
        import scala.jdk.CollectionConverters._
        val st = prof.stages.asScala.toSeq
        val gap = gapMs(prof.spans.asScala.toSeq, t0w, t1w)
        last = f"$n%-36s ${(t1w - t0w) / 1e3}%7.2f ${prof.jobs.get}%5d ${st.size}%6d ${st.map(_.tasks).sum}%6d ${st.map(_.taskTimeMs).sum / 1e3}%8.2f ${prof.maxTaskMs.get / 1e3}%6.2f ${(c1 - c0) / 1e9}%7.2f ${(g1 - g0) / 1e3}%6.2f ${gap / 1e3}%6.2f"
        if (r == runs && sys.env.contains("GRAFT_PROF_STAGES")) {
          println(last); last = null
          prof.stageRows.forEach(r => println(r))
        }
      }
      if (last != null) println(last)
    }
    spark.stop()
  }
}
