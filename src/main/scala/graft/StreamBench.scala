package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.FraudConstants
import graft.streaming.FraudStream

/** Streaming throughput micro-benchmark: N generated transactions ride the
  * full v1 wire path — JSON value → 13-field parse → watermark → keyed
  * flatMapGroupsWithState scoring — through MemoryStream; the wall time of
  * the timed pass yields events/second. A warmup pass first absorbs the
  * one-time session costs (streaming codegen, state-store init), so the
  * number approximates steady-state micro-batch throughput.
  *
  * The key space is the reference's own 8 cards (BASELINE.md), which is
  * also the stateful stage's inherent parallelism bound — the reference
  * claims "millions of events per second" with no harness; this prints a
  * measured single-node number for the equivalent pipeline.
  *
  * A second number covers the [[graft.streaming.Ingest]] training-data
  * path (quality gate → watermarked exact dedup → per-batchId idempotent
  * shard commit) over documents replayed from the testdata corpus.
  *
  * `sbt "runMain graft.StreamBench [nEvents]"`.
  */
final case class IngestEvent(
    doc_id: Long,
    text: String,
    lang: String,
    source: String,
    event_time: java.sql.Timestamp
)

object StreamBench {

  /** 1-min system load + process CPU seconds around a timed body — the
    * same contended-box discriminator Bench carries (VERDICT r11 #7:
    * STREAM numbers without loadavg cost a round of confounded
    * throughput comparisons). Every metric line appends
    * `cpu_sec` (this measurement's CPU burn) and `loadavg` (at line
    * emission), so a wall-time regression is attributable in-artifact.
    */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  private def withCpu[T](body: => T): (T, Double) = {
    val c0 = cpuNs()
    val r = body
    (r, if (c0 < 0) -1.0 else (cpuNs() - c0) / 1e9)
  }

  /** Adaptive median-of-3 for SHORT-WALL rows (r18, VERDICT r17 #7): a
    * sub-[[ShortWallSec]] timed body is the ±20% single-sample shape
    * that cost stream_ingest two rounds of manual re-measures before its
    * median-of-3 fix — and this round's two 0.80 RoR flags
    * (sigstore_maintain 1.7 s, decontam_gate 1.7 s) were the same
    * pattern again. Run the body once; if its wall already clears the
    * threshold, a single sample stands (long rows self-average), else
    * run two more and report the MEDIAN-wall sample — timed body
    * untouched, telemetry (cpu/loadavg/calib) is the median sample's,
    * all wall samples + spread ride in the row so it self-reports its
    * noise the way ingest's does.
    */
  private val ShortWallSec = 3.0

  private def shortWallSampled[A](run: () => (A, Double))(wall: A => Double)
      : ((A, Double), Seq[Double]) = {
    val first = run()
    if (wall(first._1) >= ShortWallSec) (first, Seq(wall(first._1)))
    else {
      val all = Seq(first, run(), run())
      (all.sortBy(a => wall(a._1)).apply(1), all.map(a => wall(a._1)))
    }
  }

  /** Row suffix for [[shortWallSampled]] output: empty when one sample
    * stood, else the samples + spread fields.
    */
  private def samplesJson(samples: Seq[Double]): String =
    if (samples.size <= 1) ""
    else {
      val med = samples.sorted.apply(samples.size / 2)
      val spread = (samples.max - samples.min) / med
      f""","samples_wall_sec":[${samples.map(s => f"$s%.3f").mkString(",")}],"spread_frac":$spread%.3f"""
    }

  /** Telemetry suffix for every metric line: CPU burn, loadavg, and a
    * freshly measured calibration rate (see [[runCalibration]]) captured
    * at emission time — i.e. immediately after the timed measurement,
    * when the box state is closest to what the measurement saw.
    */
  private def tele(cpuSec: Double): String = {
    val calib = calibSession.fold(-1.0)(runCalibration)
    f""","cpu_sec":$cpuSec%.3f,"loadavg":${loadAvg()}%.2f,"calib_eps":$calib%.0f"""
  }

  private var calibSession: Option[SparkSession] = None

  /** Pinned in-JVM calibration arm (VERDICT r14 #4): a trivial
    * flatMapGroupsWithState counting pass over a fixed deterministic
    * event set, re-measured right after EVERY timed row and emitted as
    * `calib_eps` in that row's JSON. Its definition is FROZEN — it is
    * the denominator that turns cross-round STREAM comparisons into
    * ratio-of-ratios (measured rate ÷ same-instant calibration rate),
    * cancelling host/tenant drift the way an interleaved batch A/B
    * does: if a row's wall moved but its rate/calib ratio did
    * not, the box moved, not the code. Do NOT change CalibEvents, the
    * key width, or the state body: any edit invalidates cross-round
    * ratio reads (note it in the round log if ever necessary).
    */
  private val CalibEvents = 50000
  private var calibSeq = 0

  private def runCalibration(spark: SparkSession): Double = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    calibSeq += 1
    val name = s"sb_calib_$calibSeq"
    val ckpt = java.nio.file.Files.createTempDirectory(name)
    val in = MemoryStream[(Long, Long)]
    in.addData((0 until CalibEvents).map(i => ((i % 64).toLong, i.toLong)))
    val t0 = System.nanoTime()
    val q = in.toDS().repartition(spark.sparkContext.defaultParallelism)
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (k: Long, it: Iterator[(Long, Long)], st: GroupState[Long]) => {
          var c = st.getOption.getOrElse(0L)
          it.foreach(_ => c += 1)
          st.update(c)
          Iterator.single((k, c))
        })
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.Once())
      .option("checkpointLocation", ckpt.toString)
      .start()
    q.awaitTermination()
    val eps = CalibEvents / ((System.nanoTime() - t0) / 1e9)
    // a calibration fires per metric row: drop its memory-sink view and
    // checkpoint dir so neither the temp-view catalog nor /tmp grows
    // with the row count
    spark.catalog.dropTempView(name)
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(): Unit
    }
    rmTree(ckpt.toFile)
    eps
  }

  /** Section filter (r16): `GRAFT_STREAM_ONLY=components_maintain,dsir_gate`
    * runs only the named sections so a single drifted row can be
    * re-measured — the ratio-of-ratios read (VERDICT r15 #3) makes
    * per-row re-runs a routine operation. Tokens match section names
    * EXACTLY (ADVICE r16: `bm25_serve` must not silently also run
    * bm25_serve_skewed); a trailing `*` is the explicit wildcard syntax
    * (`percolate_*` runs the three percolate sections). The TIMED BODIES
    * and the frozen calibration arm are untouched: a filtered run's rows
    * are measured exactly as a full run's (each section still runs its
    * own warmup; the calibration pass still re-measures per row), only
    * unselected sections are skipped.
    */
  private val Sections = Seq("stream_score", "stream_ingest", "ann_serve",
    "bm25_serve", "sigstore_maintain", "components_maintain",
    "semantic_dedup", "percolate_docs", "percolate_q1000",
    "bm25_serve_skewed", "percolate_served", "decontam_gate", "dsir_gate",
    "overlap_maintain")

  /** Every filter token must match a known section — a typo'd or empty
    * GRAFT_STREAM_ONLY would otherwise run ZERO sections and exit 0 with
    * a metric-less artifact indistinguishable from success (self-review
    * r16).
    */
  private def tokenMatches(tok: String, section: String): Boolean =
    if (tok.endsWith("*")) section.startsWith(tok.dropRight(1))
    else section == tok

  private def validateFilter(): Unit =
    sys.env.get("GRAFT_STREAM_ONLY").foreach { v =>
      val toks = v.split(",").map(_.trim).filter(_.nonEmpty)
      require(toks.nonEmpty, "GRAFT_STREAM_ONLY is set but empty")
      val unknown = toks.filterNot(t => Sections.exists(tokenMatches(t, _)))
      require(unknown.isEmpty,
        s"GRAFT_STREAM_ONLY tokens match no section (exact name or 'prefix*'): " +
          s"${unknown.mkString(",")}; sections: ${Sections.mkString(",")}")
    }

  private def wanted(section: String): Boolean =
    sys.env.get("GRAFT_STREAM_ONLY").forall(
      _.split(",").map(_.trim).filter(_.nonEmpty).exists(tokenMatches(_, section)))

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    // widen the key space by a factor (card_id#0..card_id#w-1): state and
    // per-key sequential work shard w× finer, demonstrating the keyed
    // stage's scaling axis (a real corpus has millions of cards; wide=1
    // is the reference's own 8-card key space)
    val wide = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val spark = Session.local()
    validateFilter()
    println(Conditions.row("stream"))
    calibSession = Some(spark)
    runCalibration(spark) // warm the calibration arm's own one-time costs
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    if (wanted("stream_score")) {
    // deterministic corpus, rendered to the kafka value wire format up
    // front so the timed section measures parse + stateful scoring only
    val tx0 = graft.gen.TxGen.dataset(spark, n).toDF()
    val tx =
      if (wide <= 1) tx0
      else tx0.withColumn("card_id",
        concat(col("card_id"), lit("#"), pmod(xxhash64(col("event_id")), lit(wide))))
    val json = tx
      .select(to_json(struct(tx.columns.map(col): _*)).as("value"))
      .collect().map(_.getString(0)).toSeq

    def run(name: String, rows: Seq[String]): (Double, Long) = {
      val in = MemoryStream[String]
      in.addData(rows)
      val t0 = System.nanoTime()
      // a kafka source is topic-partition-parallel; MemoryStream is one
      // partition, so spread the decode the way a real source would be
      val q = FraudStream.score(
        FraudStream.parse(in.toDF().repartition(
          spark.sparkContext.defaultParallelism)), FraudConstants.RapidTxCountV1)
        .groupBy().count()
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.Once())
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(name).toString)
        .start()
      q.awaitTermination()
      ((System.nanoTime() - t0) / 1e9, spark.table(name).collect().head.getLong(0))
    }

    run("sb_warm", json.take(math.min(20000, n))) // absorb one-time costs
    val ((secs, scored), cpuT) = withCpu(run("sb_timed", json))
    require(scored == n, s"scored $scored of $n")
    println(f"""{"metric":"stream_score_events_per_sec","value":${n / secs}%.0f,"unit":"events/sec","events":$n,"wall_sec":$secs%.3f,"keys":${8 * math.max(1, wide)}${tele(cpuT)}}""")
    }

    // ---- Ingest path: quality gate → watermarked exact dedup → per-batch
    // idempotent shard commit, over documents replayed from the testdata
    // corpus (replicas get distinct ids + perturbed text so the dedup
    // state sees genuine singletons, as a crawl stream would).
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val nDocs = math.min(n, 100000)
    // lazy (self-review r16): a filtered single-section run (the fast
    // path the filter exists for) must not pay the corpus collect + two
    // 100k-element materializations no selected section reads
    lazy val baseDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source").collect()
    val t0ms = 1704067200000L // 2024-01-01T00:00:00Z; 1 ms apart
    lazy val docRows = (0 until nDocs).map { i =>
      val r = baseDocs(i % baseDocs.length)
      IngestEvent(i.toLong, r.getString(1) + " r" + (i / baseDocs.length),
        r.getString(2), r.getString(3), new java.sql.Timestamp(t0ms + i))
    }

    /** Wall seconds + state-store telemetry (peak rows / peak bytes across
      * the run's StreamingQueryProgress events) for the watermarked-dedup
      * operator — the number that says how state grows under a replayed
      * corpus, the scaling axis of this stage at 100 TB.
      */
    if (wanted("stream_ingest")) {
    def runIngest(rows: Seq[IngestEvent]): (Double, Long, Long) = {
      val in = MemoryStream[IngestEvent]
      in.addData(rows)
      val out = java.nio.file.Files.createTempDirectory("sb_ingest_out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("sb_ingest_ckpt").toString
      val t0 = System.nanoTime()
      val q = graft.streaming.Ingest.ingest(
        in.toDF().repartition(spark.sparkContext.defaultParallelism), out, ckpt)
      val secs =
        try { q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
        finally q.stop()
      // recentProgress is capped (default 100) but this run is few batches
      val states = q.recentProgress.flatMap(_.stateOperators)
      val peakRows = if (states.isEmpty) 0L else states.map(_.numRowsTotal).max
      val peakBytes = if (states.isEmpty) 0L else states.map(_.memoryUsedBytes).max
      (secs, peakRows, peakBytes)
    }

    runIngest(docRows.take(math.min(10000, nDocs)))
    // MEDIAN-OF-3 (VERDICT r16 #5): ingest is the one I/O-bound row
    // (per-batch shard commits) and its single-sample spread is ±20% —
    // two rounds in a row needed a manual 3× re-measure note. Time three
    // full passes, emit the median rate plus all samples and the spread,
    // so the artifact self-reports its noise the way Bench's per-query
    // medians do. The timed body and the calibration arm are unchanged;
    // telemetry (cpu/loadavg/calib) is the median sample's.
    val ingestSamples = (1 to 3).map(_ => withCpu(runIngest(docRows)))
    val bySecs = ingestSamples.sortBy(_._1._1)
    val ((ingestSecs, stateRows, stateBytes), cpuI) = bySecs(1)
    val rates = ingestSamples.map { case ((s, _, _), _) => nDocs / s }
    val spread = (rates.max - rates.min) / (nDocs / ingestSecs)
    println(f"""{"metric":"stream_ingest_docs_per_sec","value":${nDocs / ingestSecs}%.0f,"unit":"docs/sec","docs":$nDocs,"wall_sec":$ingestSecs%.3f,"samples_docs_per_sec":[${rates.map(r => f"$r%.0f").mkString(",")}],"spread_frac":$spread%.3f,"state_rows_peak":$stateRows,"state_bytes_peak":$stateBytes${tele(cpuI)}}""")
    }

    // ---- ANN serving path: streamed query vectors answered from the
    // persisted IVF×PQ index (one-time build excluded — that's the
    // amortized "nightly" cost). Each micro-batch costs driver-side probe
    // arithmetic + one partition-pruned code-table scan; queries/sec is
    // the online-serving number a vector-search user asks.
    if (wanted("ann_serve")) {
    val root = graft.operators.AnnIndexIO.ensureFullBuilt(spark, sfDir)
    val qvecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .limit(500)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .collect()
      .map(r => graft.streaming.AnnServe.AnnQuery(r.getLong(0), r.getSeq[Double](1).toArray))
      .toSeq

    def runServe(rows: Seq[graft.streaming.AnnServe.AnnQuery],
        batchSize: Int): (Double, Long) = {
      val in = MemoryStream[graft.streaming.AnnServe.AnnQuery]
      rows.grouped(batchSize).foreach(b => in.addData(b))
      val answered = new java.util.concurrent.atomic.AtomicLong(0L)
      val t0 = System.nanoTime()
      val q = graft.streaming.AnnServe.serve(in.toDS(), root,
        (df, _) => answered.addAndGet(df.select("query_id").distinct().count()),
        trigger = Trigger.AvailableNow())
      val secs =
        try { q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
        finally q.stop()
      (secs, answered.get())
    }

    runServe(qvecs.take(100), 50) // warmup: codegen + model cache + footers
    val (((serveSecs, answered), cpuSv), svSamples) =
      shortWallSampled(() => withCpu(runServe(qvecs, 100)))(_._1)
    require(answered == qvecs.length, s"answered $answered of ${qvecs.length}")
    println(f"""{"metric":"ann_serve_queries_per_sec","value":${answered / serveSecs}%.0f,"unit":"queries/sec","queries":$answered,"wall_sec":$serveSecs%.3f${samplesJson(svSamples)}${tele(cpuSv)}}""")
    }

    // ---- BM25 online serving: streamed query texts answered from the
    // persisted postings store (streaming/BmServe — the lexical twin of
    // the ANN serving path above). Per micro-batch: one O(batch-vocab)
    // df lookup freezes the statistics, one bucket-pruned postings scan
    // scores candidates; the corpus text is never read.
    if (wanted("bm25_serve")) {
    val bmServeRoot = graft.operators.BmStore.ensureFullBuilt(spark, sfDir)
    val bmQueryDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(500).collect()
      .map(r => graft.streaming.BmServe.BmQuery(r.getLong(0), r.getString(1)))
      .toSeq
    def runBmServe(rows: Seq[graft.streaming.BmServe.BmQuery],
        batchSize: Int): (Double, Long) = {
      val in = MemoryStream[graft.streaming.BmServe.BmQuery]
      rows.grouped(batchSize).foreach(b => in.addData(b))
      val answered = new java.util.concurrent.atomic.AtomicLong(0L)
      val t0 = System.nanoTime()
      val q = graft.streaming.BmServe.serve(in.toDS(), bmServeRoot,
        (df, _) => answered.addAndGet(df.select("query_id").distinct().count()): Unit,
        trigger = Trigger.AvailableNow())
      val secs =
        try { q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
        finally q.stop()
      (secs, answered.get())
    }
    // throughput numerator = SUBMITTED queries (ADVICE r12): zero-hit
    // queries consume wall time too, so rating only answered ids would
    // deflate the denominator's work; `answered` stays in-artifact as
    // the coverage figure
    runBmServe(bmQueryDocs.take(100), 50) // warmup: codegen + df footers
    val (((bmsSecs, bmsAnswered), cpuBs), bmsSamples) =
      shortWallSampled(() => withCpu(runBmServe(bmQueryDocs, 100)))(_._1)
    println(f"""{"metric":"bm25_serve_queries_per_sec","value":${bmQueryDocs.length / bmsSecs}%.0f,"unit":"queries/sec","queries":${bmQueryDocs.length},"answered":$bmsAnswered,"wall_sec":$bmsSecs%.3f${samplesJson(bmsSamples)}${tele(cpuBs)}}""")

    // the rows above serve whole DOCUMENTS as queries (~150 distinct
    // terms — the more-like-this shape); real search requests are a few
    // terms, so also measure 5-term synthetic queries: candidate volume
    // per request drops ~30x and q/s is the number a search user sees
    val bmShort = graft.operators.BmStore
      .syntheticStandingQueries(spark, bmServeRoot, "sbshort", 2000, termsPerQuery = 5)
      .map { case (id, ts) => graft.streaming.BmServe.BmQuery(id, ts.mkString(" ")) }
    runBmServe(bmShort.take(200), 100) // warmup
    val (((bshSecs, bshAnswered), cpuBsh), bshSamples) =
      shortWallSampled(() => withCpu(runBmServe(bmShort, 200)))(_._1)
    println(f"""{"metric":"bm25_serve_short_queries_per_sec","value":${bmShort.length / bshSecs}%.0f,"unit":"queries/sec","queries":${bmShort.length},"answered":$bshAnswered,"wall_sec":$bshSecs%.3f${samplesJson(bshSamples)}${tele(cpuBsh)}}""")
    }

    // ---- dedup signature-store maintenance: streamed new documents
    // simhash-encoded and committed exactly-once into the banded store
    // (operators/SigStore) — docs/sec here is the rate the dedup index
    // can absorb a crawl without ever rescanning the base corpus.
    lazy val sigDocs = docRows.map(e =>
      graft.streaming.SigStream.DocInsert(e.doc_id + 10000000L, e.text))
    // the maintain workloads run the store's own compaction policy
    // (maintenanceTick at the DefaultMaxBatchDirs bound rides every
    // absorb); rows carry policy_batch_dirs so each capture
    // self-describes the bound it measured.
    val policyDirs = graft.operators.SigStore.DefaultMaxBatchDirs
    if (wanted("sigstore_maintain")) {
    def runSigMaintain(rows: Seq[graft.streaming.SigStream.DocInsert],
        batchSize: Int): Double = {
      val sroot = java.nio.file.Files
        .createTempDirectory("sb_sigstore").toString + "/store"
      graft.operators.SigStore.buildFrom(spark, sroot,
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text"))
      val in = MemoryStream[graft.streaming.SigStream.DocInsert]
      rows.grouped(batchSize).foreach(b => in.addData(b))
      val ckpt = java.nio.file.Files.createTempDirectory("sb_sig_ckpt").toString
      val t0 = System.nanoTime()
      val q = graft.streaming.SigStream.maintain(in.toDS(), sroot, ckpt,
        trigger = Trigger.AvailableNow(), maxBatchDirs = policyDirs)
      try { q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
      finally q.stop()
    }
    runSigMaintain(sigDocs.take(math.min(2000, nDocs)), 1000) // warmup
    val ((sigSecs, cpuSg), sigSamples) =
      shortWallSampled(() => withCpu(runSigMaintain(sigDocs, 2500)))(identity)
    println(f"""{"metric":"sigstore_maintain_docs_per_sec","value":${nDocs / sigSecs}%.0f,"unit":"docs/sec","docs":$nDocs,"wall_sec":$sigSecs%.3f,"policy_batch_dirs":$policyDirs${samplesJson(sigSamples)}${tele(cpuSg)}}""")
    }

    // ---- streamed CLUSTERING maintenance: each micro-batch also merges
    // component labels (contracted fixpoint + label republish) — the
    // docs/sec a corpus can absorb while keeping canonical clusters
    // continuously queryable as a pure label scan.
    if (wanted("components_maintain")) {
    def runCcMaintain(rows: Seq[graft.streaming.SigStream.DocInsert],
        batchSize: Int, maxBatchDirs: Int = policyDirs): Double = {
      val sroot = java.nio.file.Files
        .createTempDirectory("sb_ccstore").toString + "/store"
      graft.operators.SigStore.buildFrom(spark, sroot,
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text"))
      graft.operators.SigStore.buildLabels(spark, sroot)
      val in = MemoryStream[graft.streaming.SigStream.DocInsert]
      rows.grouped(batchSize).foreach(b => in.addData(b))
      val ckpt = java.nio.file.Files.createTempDirectory("sb_cc_ckpt").toString
      val t0 = System.nanoTime()
      val q = graft.streaming.SigStream.maintainComponents(in.toDS(), sroot, ckpt,
        trigger = Trigger.AvailableNow(), maxBatchDirs = maxBatchDirs)
      try { q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
      finally q.stop()
    }
    // the replayed fixture is ~50× duplicated (every base doc recurs with
    // a tiny suffix), so every absorbed batch probes near-complete dup
    // CLIQUES — the worst case for any LSH clustering, and the candidate
    // volume grows with absorbed history. Bench at 25k docs and publish
    // the duplication factor so the number reads as what it is:
    // worst-case-density absorption, not typical-crawl throughput.
    val ccDocs = sigDocs.take(math.min(25000, nDocs))
    runCcMaintain(ccDocs.take(math.min(2000, nDocs)), 1000) // warmup
    val (ccSecs, cpuCc) = withCpu(runCcMaintain(ccDocs, 2500))
    val dupFactor = ccDocs.length.toDouble / baseDocs.length
    println(f"""{"metric":"components_maintain_docs_per_sec","value":${ccDocs.length / ccSecs}%.0f,"unit":"docs/sec","docs":${ccDocs.length},"wall_sec":$ccSecs%.3f,"dup_factor":$dupFactor%.1f,"policy_batch_dirs":$policyDirs${tele(cpuCc)}}""")
    // the long-horizon deployment shape (r19, VERDICT r18 #6): the SAME
    // absorb workload in 1000-doc micro-batches with the store's own
    // compaction policy live in-stream at an AGGRESSIVE 8-dir bound —
    // since r20 the plain row above already runs the policy at the
    // conservative default (16), so this row prices a tighter fold
    // cadence against it.
    val (ccCmpSecs, cpuCmp) = withCpu(runCcMaintain(ccDocs, 1000,
      maxBatchDirs = 8))
    println(f"""{"metric":"components_maintain_compact_docs_per_sec","value":${ccDocs.length / ccCmpSecs}%.0f,"unit":"docs/sec","docs":${ccDocs.length},"wall_sec":$ccCmpSecs%.3f,"batch_size":1000,"policy_batch_dirs":8${tele(cpuCmp)}}""")
    }

    // ---- streaming SEMANTIC dedup: vectors assigned to frozen centroids
    // at ingest, compared against their cluster's horizon residents
    // (streaming/SemanticDedup — the ingest twin of dedup_semantic).
    // Synthetic arrivals replay the fixture embeddings ~40× with tiny
    // deterministic noise, so replicas are genuine semantic dups (cosine
    // ≈ 1) and the state actually fills; K=64 centroids keep per-cluster
    // residents realistic (the batch trainer's derived K plays the same
    // role on a real corpus).
    if (wanted("semantic_dedup")) {
    val baseVecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val semCents = baseVecs.take(64).map(_._2)
    val nVecs = math.min(n, 20000)
    val semRows = (0 until nVecs).map { i =>
      val (bid, bemb) = baseVecs(i % baseVecs.length)
      val rep = i / baseVecs.length
      val emb = bemb.zipWithIndex.map { case (x, c) =>
        x + (math.floorMod((i.toLong * 64 + c) * 2654435761L, 21L) - 10) / 100000.0
      }
      graft.streaming.SemanticDedup.VecArrival(
        bid + rep.toLong * baseVecs.length, emb.toSeq, t0ms + i)
    }
    // Trigger.Once, DELIBERATELY: a flatMapGroupsWithState stage with
    // ProcessingTimeTimeout under Trigger.AvailableNow schedules
    // timeout-evaluation batches indefinitely after the data drains
    // (measured: 6000+ empty commits, processAllAvailable never
    // returning, each commit re-listing an ever-growing state dir) —
    // the TTL belongs to continuous deployments; bounded replays run
    // the drain-everything trigger, same as the parity specs.
    def runSemantic(rows: Seq[graft.streaming.SemanticDedup.VecArrival]): (Double, Long) = {
      val in = MemoryStream[graft.streaming.SemanticDedup.VecArrival]
      in.addData(rows)
      val pairs = new java.util.concurrent.atomic.AtomicLong(0L)
      val ckpt = java.nio.file.Files.createTempDirectory("sb_sem_ckpt").toString
      val t0 = System.nanoTime()
      val q = graft.streaming.SemanticDedup
        .dupPairs(in.toDS(), semCents, withinMs = 3600000L)
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
          pairs.addAndGet(df.count()): Unit)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.Once())
        .start()
      val secs =
        try { q.awaitTermination(); (System.nanoTime() - t0) / 1e9 }
        finally q.stop()
      (secs, pairs.get())
    }
    runSemantic(semRows.take(math.min(2000, nVecs))) // warmup
    val (((semSecs, semPairs), cpuSm), semSamples) =
      shortWallSampled(() => withCpu(runSemantic(semRows)))(_._1)
    println(f"""{"metric":"semantic_dedup_vecs_per_sec","value":${nVecs / semSecs}%.0f,"unit":"vecs/sec","vecs":$nVecs,"pairs":$semPairs,"wall_sec":$semSecs%.3f${samplesJson(semSamples)}${tele(cpuSm)}}""")
    }

    // ---- BM25 percolation: arriving documents scored against the
    // standing query set with index statistics frozen at build time
    // (streaming/Percolate — the retrieval twin). Stateless projection:
    // throughput is the per-doc evaluation cost (one frozen-vocab probe
    // per token) × partition parallelism, no state store in the path.
    // Statistics come FROM the persisted postings store (BmStore) — the
    // deployment shape: percolator and served top-k share one statistics
    // snapshot; BmStoreSpec proves the store freeze equals the
    // full-recompute freeze.
    lazy val bmRoot = graft.operators.BmStore.ensureFullBuilt(spark, sfDir)
    if (wanted("percolate_docs")) {
    val frozen = graft.operators.BmStore.frozenStats(spark, bmRoot, sfDir)
    def runPercolate(rows: Seq[IngestEvent]): (Double, Long) = {
      val in = MemoryStream[IngestEvent]
      in.addData(rows)
      val matches = new java.util.concurrent.atomic.AtomicLong(0L)
      val ckpt = java.nio.file.Files.createTempDirectory("sb_perc_ckpt").toString
      val t0 = System.nanoTime()
      val q = graft.streaming.Percolate
        .score(in.toDF().repartition(spark.sparkContext.defaultParallelism), frozen)
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
          matches.addAndGet(df.count()): Unit)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.Once())
        .start()
      val secs =
        try { q.awaitTermination(); (System.nanoTime() - t0) / 1e9 }
        finally q.stop()
      (secs, matches.get())
    }
    val percDocs = docRows.take(math.min(50000, nDocs))
    runPercolate(percDocs.take(math.min(5000, percDocs.length))) // warmup
    val ((percSecs, percMatches), cpuPc) = withCpu(runPercolate(percDocs))
    println(f"""{"metric":"percolate_docs_per_sec","value":${percDocs.length / percSecs}%.0f,"unit":"docs/sec","docs":${percDocs.length},"standing_queries":${frozen.queries.size},"matches":$percMatches,"wall_sec":$percSecs%.3f${tele(cpuPc)}}""")
    }

    // ---- percolation at PROSPECTIVE-SEARCH scale: Q=1000 synthetic
    // standing queries (8 vocabulary terms each, registered via the
    // postings store's df lookup — the user-authored-query path). Both
    // formulations measured on the same arrivals: the explode-every-query
    // scorer pays Σ_q |terms_q| per arrival (≈8000 term checks), the
    // inverted-index PercolateHits walk pays O(|tokens| + matched pairs)
    // — the scaling axis is matched (query, term) volume, not Q. The
    // emitted matches count is identical by construction (PercolateSpec
    // proves bit-parity).
    if (wanted("percolate_q1000")) {
    val frozen1k = graft.operators.BmStore.frozenStatsForQueries(spark, bmRoot,
      graft.operators.BmStore.syntheticStandingQueries(spark, bmRoot, "sbq", 1000))
    def runPercolate1k(rows: Seq[IngestEvent],
        indexed: Boolean): (Double, Long) = {
      val in = MemoryStream[IngestEvent]
      in.addData(rows)
      val matches = new java.util.concurrent.atomic.AtomicLong(0L)
      val ckpt = java.nio.file.Files.createTempDirectory("sb_perc1k_ckpt").toString
      val src = in.toDF().repartition(spark.sparkContext.defaultParallelism)
      val scored =
        if (indexed) graft.streaming.Percolate.scoreIndexed(src, frozen1k)
        else graft.streaming.Percolate.score(src, frozen1k)
      val t0 = System.nanoTime()
      val q = scored.writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
          matches.addAndGet(df.count()): Unit)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.Once())
        .start()
      val secs =
        try { q.awaitTermination(); (System.nanoTime() - t0) / 1e9 }
        finally q.stop()
      (secs, matches.get())
    }
    val perc1kDocs = docRows.take(math.min(20000, nDocs))
    Seq(false, true).foreach { indexed =>
      runPercolate1k(perc1kDocs.take(math.min(2000, perc1kDocs.length)), indexed) // warmup
      val ((s1k, m1k), cpu1k) = withCpu(runPercolate1k(perc1kDocs, indexed))
      val metric =
        if (indexed) "percolate_q1000_indexed_docs_per_sec"
        else "percolate_q1000_docs_per_sec"
      println(f"""{"metric":"$metric","value":${perc1kDocs.length / s1k}%.0f,"unit":"docs/sec","docs":${perc1kDocs.length},"standing_queries":${frozen1k.queries.size},"matches":$m1k,"wall_sec":$s1k%.3f${tele(cpu1k)}}""")
    }
    }

    // ---- BM25 serving on a SKEWED vocabulary: the fixture corpus is a
    // flat 31-word vocabulary (every doc matches every query — no pruning
    // strategy can reduce candidates, and the doc-vector plan above is
    // the right one there). Real corpora are Zipfian, and that is the
    // regime the WAND/MaxScore plan exists for — so serve the same wide
    // query shape against a synthetic Zipf-ish store (10 stopwords in
    // every doc + rare terms, df=8-ish) and measure the SAME BmServe
    // loop under the exhaustive plan vs the auto-selected (WAND) plan.
    // Both are exact (BmStoreSpec proves identical top-k); the gap is
    // the essential-term pruning collapsing the stopword fan-out.
    // 20k docs / 2k rare keys (df=10) keeps the EXHAUSTIVE leg's stopword
    // fan-out at ~50M join rows per 250-query batch — big enough to show
    // the pruning, bounded enough to bench
    if (wanted("bm25_serve_skewed")) {
    val skewRoot = java.nio.file.Files
      .createTempDirectory("sb_bmskew").toString + "/store"
    val skewCommon = (0 until 10).map(i => s"common$i")
    graft.operators.BmStore.buildFrom(spark, skewRoot,
      spark.range(20000).select(col("id").as("doc_id"),
        concat_ws(" ",
          (skewCommon.map(lit(_)) ++ Seq(
            concat(lit("rare_"), pmod(col("id"), lit(2000))),
            concat(lit("rare_"), pmod(col("id") + 13, lit(2000)), lit("_b")),
            concat(lit("tail_"), col("id")))): _*).as("text")))
    val skewQueries = (0 until 1000).map { q =>
      graft.streaming.BmServe.BmQuery(9000000L + q,
        (skewCommon ++ (0 until 8).map(j => s"rare_${(q * 7 + j) % 2000}") ++
          (0 until 4).map(j => s"rare_${(q * 5 + j) % 2000}_b")).mkString(" "))
    }
    def runSkewServe(rows: Seq[graft.streaming.BmServe.BmQuery],
        batchSize: Int): Double = {
      val in = MemoryStream[graft.streaming.BmServe.BmQuery]
      rows.grouped(batchSize).foreach(b => in.addData(b))
      val t0 = System.nanoTime()
      val q = graft.streaming.BmServe.serve(in.toDS(), skewRoot,
        (df, _) => { df.count(): Unit }, trigger = Trigger.AvailableNow())
      try { q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
      finally q.stop()
    }
    Seq("exhaustive", "auto").foreach { mode =>
      if (mode == "exhaustive")
        System.setProperty("graft.bm.serve.plan", "exhaustive")
      else System.clearProperty("graft.bm.serve.plan")
      // warmup to STEADY STATE: the auto arm's per-class verdict needs
      // VerdictStickyAfter agreeing probes before unseen standing-set
      // fingerprints adopt it probe-free (r14 stickiness) — run that
      // many batches so the timed window measures converged serving,
      // not the one-time probe ramp (each probe is a bounded θ job)
      runSkewServe(skewQueries.take(
        250 * graft.operators.BmStore.VerdictStickyAfter), 250)
      val (skSecs, cpuSk) = withCpu(runSkewServe(skewQueries, 250))
      println(f"""{"metric":"bm25_serve_skewed_${mode}_queries_per_sec","value":${skewQueries.length / skSecs}%.0f,"unit":"queries/sec","queries":${skewQueries.length},"wall_sec":$skSecs%.3f${tele(cpuSk)}}""")
    }
    }

    // ---- percolator standing-query REGISTRATION (operators/PercStore):
    // streamed registration batches persisted BESIDE the postings store
    // (per-term df resolved once at registration against the frozen
    // vocabulary, exactly-once batch_id dirs) — registrations/sec the
    // prospective-search control plane absorbs. The persisted population
    // must then reload and serve with no rebuild (PercStoreSpec proves
    // verdict parity; here the reload count gates coverage).
    // persisted roots outlive the JVM: drop standing state left by any
    // prior (possibly crashed) run so the load-count gates below measure
    // THIS run's lifecycle, not leftover registrations
    // one section: registration populates the standing set the
    // steady/postburst serve rows then measure against
    if (wanted("percolate_served")) {
    graft.operators.PercStore.clearStanding(spark, bmRoot)
    val regQueries = graft.operators.BmStore.syntheticStandingQueries(
      spark, bmRoot, "sbreg", 4000, termsPerQuery = 8)
      .map { case (id, ts) => (id, ts.mkString(" ")) }
    def runRegister(rows: Seq[(Long, String)], batchSize: Int): Double = {
      val in = MemoryStream[(Long, String)]
      rows.grouped(batchSize).foreach(b => in.addData(b))
      val ckpt = java.nio.file.Files.createTempDirectory("sb_reg_ckpt").toString
      val t0 = System.nanoTime()
      val q = in.toDS().writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[(Long, String)], bid: Long) =>
          val qs = batch.collect().toSeq
            .map { case (id, t) => (id, t.split(" ", -1).toSeq) }
          graft.operators.PercStore.registerBatch(spark, bmRoot, qs, bid)
        }
        .start()
      try { q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
      finally q.stop()
    }
    runRegister(regQueries.take(500), 250) // warmup: codegen + df footers
    val (regSecs, cpuRg) = withCpu(runRegister(regQueries, 1000))
    val regLoaded = graft.operators.PercStore.loadFrozen(spark, bmRoot)
    require(regLoaded.queries.size >= 4000,
      s"registration reload lost queries: ${regLoaded.queries.size} of 4000")
    println(f"""{"metric":"percolate_register_queries_per_sec","value":${regQueries.length / regSecs}%.0f,"unit":"queries/sec","queries":${regQueries.length},"reloaded":${regLoaded.queries.size},"wall_sec":$regSecs%.3f${tele(cpuRg)}}""")

    // ---- STEADY-STATE percolation serving over the PERSISTED standing
    // set (VERDICT r13 #3): each micro-batch resolves the live standing
    // set via PercStore.loadFrozenCached — in steady state that is two
    // directory listings and ZERO standing-store parquet reads (r13
    // reloaded + re-collected the store every batch); only a
    // registration/removal batch bumping the high-water pays a real
    // load. The rows carry the measured full-load count so the artifact
    // is self-attributing: 0 during the steady window AND after the
    // mid-stream registration burst (which delta-merges, r15), with the
    // serve rate holding.
    def runServedPerc(rows: Seq[IngestEvent], nBatches: Int): (Double, Long) = {
      val in = MemoryStream[IngestEvent]
      rows.grouped(math.max(1, rows.length / nBatches)).foreach(b => in.addData(b))
      val matches = new java.util.concurrent.atomic.AtomicLong(0L)
      val ckpt = java.nio.file.Files.createTempDirectory("sb_psrv_ckpt").toString
      val t0 = System.nanoTime()
      val q = in.toDF().writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val fz = graft.operators.PercStore.loadFrozenCached(spark, bmRoot)
          matches.addAndGet(graft.streaming.Percolate.scoreIndexed(
            df.repartition(spark.sparkContext.defaultParallelism), fz).count()): Unit
        }
        .start()
      val secs =
        try { q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
        finally q.stop()
      (secs, matches.get())
    }
    graft.operators.PercStore.clearLoadedCache()
    val servePool = docRows.take(math.min(20000, nDocs))
    runServedPerc(servePool.take(math.min(2500, servePool.length)), 1) // warmup: pays the cold load
    val lSteady0 = graft.operators.PercStore.loadCount.get()
    val ((svSecs, svMatches), cpuPs) = withCpu(runServedPerc(servePool, 8))
    val steadyLoads = graft.operators.PercStore.loadCount.get() - lSteady0
    require(steadyLoads == 0,
      s"steady-state serve paid $steadyLoads standing-store loads (expected 0)")
    println(f"""{"metric":"percolate_served_steady_docs_per_sec","value":${servePool.length / svSecs}%.0f,"unit":"docs/sec","docs":${servePool.length},"batches":8,"standing_queries":${regLoaded.queries.size},"store_loads_in_window":$steadyLoads,"matches":$svMatches,"wall_sec":$svSecs%.3f${tele(cpuPs)}}""")
    // registration burst mid-stream (r15, VERDICT r14 #7): the appended
    // batch DELTA-MERGES into the cached standing set — ZERO full store
    // loads, exactly one O(burst) merge — and the rate holds
    graft.operators.PercStore.registerBatch(spark, bmRoot,
      graft.operators.BmStore.syntheticStandingQueries(
        spark, bmRoot, "sbburst", 200, termsPerQuery = 8,
        idBase = 2000000L), // disjoint from the sbreg ids: the burst ADDS
      99L)                  // 200 monitors rather than replacing existing
    val lBurst0 = graft.operators.PercStore.loadCount.get()
    val mBurst0 = graft.operators.PercStore.deltaMergeCount.get()
    val ((svSecs2, svMatches2), cpuPs2) = withCpu(runServedPerc(servePool, 8))
    val burstLoads = graft.operators.PercStore.loadCount.get() - lBurst0
    val burstMerges = graft.operators.PercStore.deltaMergeCount.get() - mBurst0
    require(burstLoads == 0 && burstMerges == 1,
      s"post-burst serve paid $burstLoads full loads / $burstMerges delta merges (expected 0 / 1)")
    println(f"""{"metric":"percolate_served_postburst_docs_per_sec","value":${servePool.length / svSecs2}%.0f,"unit":"docs/sec","docs":${servePool.length},"batches":8,"standing_queries":${regLoaded.queries.size + 200},"store_loads_in_window":$burstLoads,"delta_merges_in_window":$burstMerges,"matches":$svMatches2,"wall_sec":$svSecs2%.3f${tele(cpuPs2)}}""")
    }

    // ---- decontamination gate: arrivals probed against the frozen eval
    // artifacts (bloom + exact shingle set + winnow fingerprints —
    // streaming/DecontamGate, the decontam family's ingest twin).
    // Stateless; per-doc cost is O(|shingles|) md5+bit-tests plus the
    // winnow rolling-hash pass.
    if (wanted("decontam_gate")) {
    val dcFrozen = graft.streaming.DecontamGate.frozen(spark, sfDir)
    def runDecontam(rows: Seq[IngestEvent]): (Double, Long) = {
      val in = MemoryStream[IngestEvent]
      in.addData(rows)
      val flagged = new java.util.concurrent.atomic.AtomicLong(0L)
      val ckpt = java.nio.file.Files.createTempDirectory("sb_dc_ckpt").toString
      val t0 = System.nanoTime()
      val q = graft.streaming.DecontamGate
        .score(in.toDF().repartition(spark.sparkContext.defaultParallelism), dcFrozen)
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
          flagged.addAndGet(df.filter(
            df("shingle_contaminated") || df("winnow_contaminated")).count()): Unit)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.Once())
        .start()
      val secs =
        try { q.awaitTermination(); (System.nanoTime() - t0) / 1e9 }
        finally q.stop()
      (secs, flagged.get())
    }
    val dcDocs = docRows.take(math.min(50000, nDocs))
    runDecontam(dcDocs.take(math.min(5000, dcDocs.length))) // warmup
    val (((dcSecs, dcFlagged), cpuDc), dcSamples) =
      shortWallSampled(() => withCpu(runDecontam(dcDocs)))(_._1)
    println(f"""{"metric":"decontam_gate_docs_per_sec","value":${dcDocs.length / dcSecs}%.0f,"unit":"docs/sec","docs":${dcDocs.length},"flagged":$dcFlagged,"wall_sec":$dcSecs%.3f${samplesJson(dcSamples)}${tele(cpuDc)}}""")
    }

    // ---- DSIR admission gate: arrivals scored against the frozen
    // 256-bucket importance model + batch-selected cut
    // (streaming/DsirGate — the selection twin). Stateless like the
    // percolator; per-doc cost is one md5 + array lookup per token.
    if (wanted("dsir_gate")) {
    val dsirFrozen = graft.streaming.DsirGate.frozen(spark, sfDir)
    def runDsir(rows: Seq[IngestEvent]): (Double, Long) = {
      val in = MemoryStream[IngestEvent]
      in.addData(rows)
      val admitted = new java.util.concurrent.atomic.AtomicLong(0L)
      val ckpt = java.nio.file.Files.createTempDirectory("sb_dsir_ckpt").toString
      val t0 = System.nanoTime()
      val q = graft.streaming.DsirGate
        .score(in.toDF().repartition(spark.sparkContext.defaultParallelism), dsirFrozen)
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
          admitted.addAndGet(df.filter(df("accepted")).count()): Unit)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.Once())
        .start()
      val secs =
        try { q.awaitTermination(); (System.nanoTime() - t0) / 1e9 }
        finally q.stop()
      (secs, admitted.get())
    }
    val dsirDocs = docRows
    runDsir(dsirDocs.take(math.min(10000, nDocs))) // warmup
    val (((dsirSecs, dsirAdmitted), cpuDs), dsirSamples) =
      shortWallSampled(() => withCpu(runDsir(dsirDocs)))(_._1)
    println(f"""{"metric":"dsir_gate_docs_per_sec","value":${dsirDocs.length / dsirSecs}%.0f,"unit":"docs/sec","docs":${dsirDocs.length},"admitted":$dsirAdmitted,"wall_sec":$dsirSecs%.3f${samplesJson(dsirSamples)}${tele(cpuDs)}}""")
    }

    // ---- cross-source overlap sketch maintenance: per-source MinHash
    // signatures merged per micro-batch (streaming/OverlapStream — the
    // CRDT store; per-batch cost is one batch shingle pass + a
    // kilobyte republish).
    if (wanted("overlap_maintain")) {
    def runOverlap(rows: Seq[IngestEvent], batches: Int): Double = {
      val root = java.nio.file.Files.createTempDirectory("sb_ov").toString
      val in = MemoryStream[graft.streaming.OverlapStream.SourceDoc]
      rows.map(e => graft.streaming.OverlapStream.SourceDoc(e.source, e.text))
        .grouped(math.max(1, rows.size / batches)).foreach(b => in.addData(b))
      val ckpt = java.nio.file.Files.createTempDirectory("sb_ov_ck").toString
      val t0 = System.nanoTime()
      val q = graft.streaming.OverlapStream.maintain(in.toDS(), root, ckpt,
        trigger = Trigger.AvailableNow())
      try { q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
      finally q.stop()
    }
    val ovDocs = docRows.take(math.min(50000, nDocs))
    runOverlap(ovDocs.take(math.min(5000, ovDocs.length)), 2) // warmup
    val ((ovSecs, cpuOv), ovSamples) =
      shortWallSampled(() => withCpu(runOverlap(ovDocs, 10)))(identity)
    println(f"""{"metric":"overlap_maintain_docs_per_sec","value":${ovDocs.length / ovSecs}%.0f,"unit":"docs/sec","docs":${ovDocs.length},"batches":10,"wall_sec":$ovSecs%.3f${samplesJson(ovSamples)}${tele(cpuOv)}}""")
    }
    spark.stop()
  }
}
