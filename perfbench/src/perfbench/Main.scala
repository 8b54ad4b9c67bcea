package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run; see perfbench/README.md.
  *
  * Prints human-readable lines, then `PERFBENCH_RESULT {json}` with the
  * attempted/failed operation counts and the values of the end-to-end
  * metrics (untraced run) or the per-layer metrics (traced run) the
  * workload measured. `run.py` adds their units from BENCHMARK.json.
  */
object Main {

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this process (VmHWM), MB. */
  private def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Task, stage, Catalyst and driver-gap totals of the traced iterations,
    * per iteration.
    */
  private def sparkLayers(r: Run): Unit = {
    val t = r.lastTimed
    val tot = t.totals
    val units = t.traced.size.toDouble
    r.layer("spark.jobs") = tot.jobs / units
    r.layer("spark.stages") = tot.stages / units
    r.layer("spark.tasks") = tot.tasks / units
    r.layer("spark.task_s") = tot.taskMs / 1e3 / units
    r.layer("spark.task_max_s") = tot.taskMaxMs / 1e3
    r.layer("spark.gc_s") = tot.gcMs / 1e3 / units
    r.layer("spark.input_bytes") = tot.inputBytes / units
    r.layer("spark.shuffle_write_bytes") = tot.shuffleWrite / units
    r.layer("spark.shuffle_read_bytes") = tot.shuffleRead / units
    r.layer("spark.spill_bytes") = tot.spill / units
    r.layer("catalyst.analysis_ms") = tot.analysisMs / units
    r.layer("catalyst.optimization_ms") = tot.optimizationMs / units
    r.layer("catalyst.planning_ms") = tot.planningMs / units
    // the traced iterations' wall during which no stage ran
    val gap = t.windows.map { case (start, end) =>
      val inside = tot.stageIntervals.toSeq
        .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
        .filter { case (a, b) => b > a }
      end - start - Tracer.covered(inside)
    }
    r.layer("spark.driver_gap_s") = gap.sum / 1e9 / units
    r.layer("jvm.heap_peak_mb") = heapPeakMb()
    r.layer("jvm.rss_peak_mb") = rssPeakMb()
  }

  /** Writes every span, with its self time, as JSON lines. */
  private def writeSpans(r: Run, path: String): Unit = {
    val all = r.tracer.allSpans
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"iter":${s.iter},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${r.tracer.selfNs(s, all)}}""")
    } finally w.close()
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val loadStart = loadAvg()
    val spark = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.runDir}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${opts.runDir}/ckpt-root")
      .config("spark.hadoop.hadoop.tmp.dir", s"${opts.runDir}/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = new Run(spark, opts)
    r.note(f"session ready ${(Stats.epochNs() - opts.launchEpochNs) / 1e9}%.3f s after launch")

    if (opts.bridge == "count") {
      Basket.bridgeCount(r)
      spark.stop()
      return
    }
    opts.workload match {
      case "fraud_pipeline" => FraudPipeline.run(r)
      case "stream_drain" => FraudStreams.drain(r)
      case "engine_basket" => Basket.run(r)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    val metrics =
      if (!opts.trace) {
        r.e2e("setup_s") =
          (r.firstTimedEpochNs - opts.launchEpochNs - r.repeatedSetupNs) / 1e9
        r.e2e.toSeq
      } else {
        sparkLayers(r)
        writeSpans(r, s"${opts.runDir}/spans.jsonl")
        r.layer.toSeq
      }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    println(graft.Conditions.row("perfbench",
      "workload" -> opts.workload, "seed" -> opts.seed.toString,
      "trace" -> (if (opts.trace) "1" else "0"),
      "loadavg_start" -> f"$loadStart%.2f", "loadavg_end" -> f"${loadAvg()}%.2f",
      "heap_committed_mb" -> (heap.getCommitted / 1048576).toString))
    r.notes.foreach(n => println(s"note: $n"))
    println(f"failed_frac ${if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted}%.6f ratio " +
      s"(${r.failed} of ${r.attempted})")
    spark.stop()
    val body = metrics.map { case (k, v) => s""""$k": ${num(v)}""" }
    println("PERFBENCH_RESULT " +
      s"""{"correct": ${r.failed == 0 && r.attempted > 0}, "attempted": ${math.max(1L, r.attempted)}, """ +
      s""""failed": ${r.failed}, "metrics": {${body.mkString(", ")}}}""")
  }
}
