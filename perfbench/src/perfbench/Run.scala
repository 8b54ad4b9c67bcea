package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    launchEpochNs: Long = 0L,
    tiny: Boolean = false,
    corrupt: Boolean = false,
    runDir: String = "",
    dataDir: String = "",
    digests: String = "",
    recordDigests: String = "",
    bridge: String = "",
    cores: Int = Runtime.getRuntime.availableProcessors
)

object Opts {
  def parse(args: Array[String]): Opts = {
    @annotation.tailrec
    def loop(rest: List[String], o: Opts): Opts = rest match {
      case "--workload" :: v :: t => loop(t, o.copy(workload = v))
      case "--seed" :: v :: t => loop(t, o.copy(seed = v.toLong))
      case "--seconds" :: v :: t => loop(t, o.copy(seconds = v.toDouble))
      case "--trace" :: v :: t => loop(t, o.copy(trace = v == "1"))
      case "--launch-epoch-ns" :: v :: t => loop(t, o.copy(launchEpochNs = v.toLong))
      case "--tiny" :: t => loop(t, o.copy(tiny = true))
      case "--corrupt" :: t => loop(t, o.copy(corrupt = true))
      case "--run-dir" :: v :: t => loop(t, o.copy(runDir = v))
      case "--data-dir" :: v :: t => loop(t, o.copy(dataDir = v))
      case "--digests" :: v :: t => loop(t, o.copy(digests = v))
      case "--record-digests" :: v :: t => loop(t, o.copy(recordDigests = v))
      case "--bridge" :: v :: t => loop(t, o.copy(bridge = v))
      case "--cores" :: v :: t => loop(t, o.copy(cores = v.toInt))
      case Nil => o
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    loop(args.toList, Opts())
  }
}

/** One timed iteration's measurements: wall, named layer intervals and,
  * for stream workloads, the latency of every event in milliseconds.
  */
final case class Sample(wallNs: Long, parts: Map[String, Long] = Map.empty,
    latencyMs: Array[Double] = Array.empty)

/** State shared by a workload and the result printer: options, session,
  * tracer, failure counts and the metrics the run reports.
  */
final class Run(val spark: SparkSession, val opts: Opts) {
  val tracer = new Tracer(spark)
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Set-up time that was repeated only to take a median; subtracted from
    * launch-to-first-timed-operation.
    */
  var repeatedSetupNs = 0L
  var firstTimedEpochNs = 0L
  var lastTimed: Timed = null

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; note(s"FAIL $what") }
  }

  def note(s: String): Unit = { notes += s; System.err.println(s"[perfbench] $s") }

  private val bornNs = System.nanoTime()

  /** Runs `body` and notes its wall time, for the set-up breakdown. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally note(f"$name ${(System.nanoTime() - t0) / 1e9}%.3f s (at ${(System.nanoTime() - bornNs) / 1e9}%.1f s)")
  }

  def dir(name: String): String = {
    val d = new java.io.File(opts.runDir, name)
    d.mkdirs()
    d.getPath
  }

  /** Runs `setup` `times` times and keeps the last result; the extra
    * repetitions are left out of `setup_s`, which then counts the median.
    */
  def repeatedSetup[T](times: Int)(setup: Int => T): T = {
    var last: Option[T] = None
    val ns = (0 until times).map { k =>
      val t0 = System.nanoTime()
      last = Some(phase(s"set-up $k")(setup(k)))
      System.nanoTime() - t0
    }
    repeatedSetupNs += ns.sum - Stats.medianL(ns)
    last.get
  }

  /** Runs `iteration` until `seconds` have passed, at least `minIters`
    * times. The traced run interleaves untraced and traced iterations in
    * the order U T T U U T T U …, so both kinds see the same JIT warmth and
    * machine drift, and runs at least `minIters` of each; both are
    * returned, with the traced iterations' listener totals.
    */
  def timed(minIters: Int, seconds: Double = opts.seconds)(iteration: Int => Sample): Timed = {
    val untilNs = System.nanoTime() + (seconds * 1e9).toLong
    if (firstTimedEpochNs == 0L) firstTimedEpochNs = Stats.epochNs()
    val plain, traced = mutable.ArrayBuffer.empty[Sample]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    if (opts.trace) tracer.reset()
    var i = 0
    while (plain.size < minIters || (opts.trace && traced.size < minIters) ||
      System.nanoTime() < untilNs) {
      val on = opts.trace && (i % 4 == 1 || i % 4 == 2)
      if (on) tracer.enable()
      tracer.iter = i
      val t0 = System.nanoTime()
      val s = tracer.span("iteration")(iteration(i))
      val t1 = System.nanoTime()
      if (on) { tracer.disable(); traced += s; windows += ((t0, t1)) }
      else plain += s
      i += 1
    }
    lastTimed = Timed(plain.toSeq, traced.toSeq,
      if (opts.trace) tracer.snapshot() else null, windows.toSeq)
    lastTimed
  }
}

/** Samples of a timed loop; `traced`, `totals` and the traced iterations'
  * (start, end) `windows` are empty unless tracing.
  */
final case class Timed(plain: Seq[Sample], traced: Seq[Sample], totals: Tracer#Totals,
    windows: Seq[(Long, Long)])

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def medianL(xs: Seq[Long]): Long = median(xs.map(_.toDouble)).toLong

  /** Linear-interpolation quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}
