package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: one JSON line with per-query wall seconds on
  * `SPARK_GRAFT_SF_DIR` (default sf0.1). An outside driver parses the
  * last stdout line, so its field names are fixed.
  *
  * [[headline]] is a stable basket across every operator family; Verify
  * covers the whole registered surface. Each timed run is [[timeQuery]],
  * a `noop` write of the whole result, so a row times the plan Verify
  * checks. `runMain graft.Bench q1 q2` times just those queries, and an
  * unregistered name fails before the session starts.
  *
  * Each query runs GRAFT_BENCH_RUNS times (default 3), round-robin over
  * the basket so back-to-back runs of one query don't share a warm page
  * cache the others lack; `queries` reports per-query medians and the
  * detail file's `spread` each query's [min,max], so a contended sample
  * is visible instead of silently becoming the number.
  */
object Bench {

  /** Artifact-discipline helper shared with [[WarmServe]]: write the
    * full per-query detail lines to `envVar`'s path (or the default) and
    * return that path for the short final-stdout-line summary. Failures
    * log and return the path anyway — a missing detail file must never
    * kill the run that produced the numbers.
    */
  private[graft] def writeDetail(envVar: String, default: String,
      lines: Seq[String]): String = {
    val path = sys.env.getOrElse(envVar, default)
    try {
      val w = new java.io.PrintWriter(path, "UTF-8")
      try lines.foreach(w.println) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    path
  }

  val headline: Seq[String] = Seq(
    "q_pricing_summary",
    "q_forecast_revenue",
    "q_local_supplier_volume",
    "q_shipping_priority",
    "q_top_orders_per_cust",
    "q_running_supplier_qty",
    "q_sessionize",
    "q_setops",
    "fraud_score_v1",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "dedup_sorted_neighborhood",
    "dedup_incremental",
    "dedup_incremental_stored",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_ngram_jaccard_prefix",
    "dedup_substring",
    "dedup_winnow_pairs",
    "decontam_winnow",
    "dedup_components",
    "dedup_components_incremental",
    "dedup_components_stored",
    // leakage-safe split over the PERSISTED label state (r13) — rides the
    // store dedup_components_stored just built, so the row reads as the
    // split's marginal cost (one hash projection + label read)
    "split_assign_leakage_safe_stored",
    "dedup_embedding_lsh",
    "dedup_embedding_lsh_fine",
    "dedup_semantic",
    "decontam_bloom",
    "decontam_neardup",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_served_topk",
    "ann_ivfpq_incremental",
    "ann_recall",
    "ann_recall_incremental",
    // production-config index quality, self-graded in-plan (r15)
    "ann_recall_production",
    "text_bm25_topk",
    "text_bm25_served_topk",
    "text_bm25_incremental",
    // the served fusion replaces ann_hybrid_rrf here (VERDICT r11 #2):
    // both legs now read persisted indexes; the brute-force fusion stays
    // registered as the exact oracle twin
    "ann_hybrid_served_rrf",
    // served fusion + exact re-rank of IN-pushed candidates (r13)
    "ann_hybrid_served_rerank",
    "text_bigram_logprob",
    "dsir_sample",
    "text_gopher_rules",
    "corpus_overlap_eval",
    "embedding_prototypicality",
    "q_approx_distinct_kmv",
    "q_approx_quantile_kmv",
    "text_len_quantiles_by_lang",
    "text_distinct_shingles_by_lang",
    "q_range_join_binned",
    "q_bucketed_join",
    "q_sorted_layout_prune",
    "q_zorder_prune",
    "q_scalar_subquery",
    "text_quality",
    "text_entropy",
    "text_fingerprint",
    "text_pii_scrub",
    "sample_manifest",
    "corpus_train_manifest",
    // the manifest's deployment shape: persisted SigStore labels instead
    // of the inline components fixpoint (VERDICT r14 #1); rides the store
    // dedup_components_stored already built this run
    "corpus_train_manifest_stored",
    "multimodal_features",
    "text_bpe_tokens",
    "bpe_train_merges",
    "pack_chunks_bpe",
    "q_merge_upsert"
  )

  /** 1-minute system load average (or -1 where unsupported) and process
    * CPU nanos — the two numbers that separate "the plan regressed" from
    * "the box was busy" (VERDICT r10 #5: an environment slowdown cost two
    * rounds of confounded wall-clock comparisons). CPU time counts all
    * executor threads, so cpu/wall ≈ effective parallelism; a query whose
    * wall grew but whose CPU didn't was waiting on the machine, not
    * burning more cycles.
    */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Frozen fixed-flop calibration arm (r18, VERDICT r17 #2): a
    * plan-stable, I/O-free, codegen'd arithmetic aggregation over
    * `spark.range`, timed once per round-robin pass and emitted as
    * `calib_rps` (median) and `calib_samples` beside cpu_total/loadavg.
    * Cross-round artifact reads divide by it: if a row's wall moved but
    * its rate/calib ratio did not, the box moved, not the code (BENCH_r17:
    * 81.2 s at loadavg 2.67 vs 70–73 s local needed judge-side forensics
    * because Bench had no such column). The definition is FROZEN (rows,
    * expression, partitioning): any edit invalidates cross-round ratio
    * reads.
    */
  private val CalibRows = 1000L * 1000 * 1000

  private def runCalibration(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, CalibRows, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr(
        "sum(bit_count(id * 2654435761) + bit_count(id ^ 1099511628211)) AS s")
      .collect()
    CalibRows / ((System.nanoTime() - t0) / 1e9)
  }

  /** I/O-side calibration arm (r19, VERDICT r18 #4): the fixed-flop
    * arithmetic probe above is CPU-only and stayed FLAT through a
    * discarded 85.5 s capture whose 12 uniformly-slower movers were
    * I/O/GC-side — a degraded capture could not self-identify and cost a
    * three-capture shootout. This arm scans a FROZEN parquet file (same
    * deterministic content every round: 4 M rows of (id, md5 hex) —
    * incompressible strings, so the scan is storage/decode-bound, not
    * arithmetic-bound) once per round-robin pass. Cross-round reads
    * compare the two arms: a capture whose cpu-calib is flat but whose
    * scan-calib sank was I/O-degraded, in-artifact. The definition is
    * FROZEN like CalibRows; the `_v1` path suffix is the format version.
    */
  private val ScanCalibRows = 4L * 1000 * 1000
  // per-user path (ADVICE r19): /tmp is shared across users/processes, so
  // a concurrent bench run's SaveMode.Overwrite could clobber the dir
  // mid-scan of another run under a shared name
  private val ScanCalibPath = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
    s"/graft_bench_scancalib_v1_${sys.props.getOrElse("user.name", "anon")}.parquet"

  private def writeScanCalib(spark: SparkSession): Unit =
    spark.range(0L, ScanCalibRows, 1L, 8)
      .selectExpr("id", "md5(cast(id as string)) AS h")
      .write.mode("overwrite").parquet(ScanCalibPath)

  private def ensureScanCalib(spark: SparkSession): Unit =
    if (!new java.io.File(ScanCalibPath, "_SUCCESS").exists()) {
      writeScanCalib(spark)
    }

  private def runScanCalibration(spark: SparkSession): Double = {
    // length(h) forces the string column through the decoder — a
    // pruned-away h would turn this back into a CPU probe. count(*)
    // rides the same scan and VALIDATES the artifact (ADVICE r19): a
    // stale/truncated dir whose _SUCCESS survived would silently skew
    // the arm every cross-round comparison keys on.
    def pass(): (Long, Double) = {
      val t0 = System.nanoTime()
      val row = spark.read.parquet(ScanCalibPath)
        .selectExpr("sum(id ^ length(h)) AS s", "count(*) AS n").collect()(0)
      (row.getLong(1), ScanCalibRows / ((System.nanoTime() - t0) / 1e9))
    }
    val (n, rps) = pass()
    if (n == ScanCalibRows) rps
    else {
      // torn artifact: rebuild once; a second mismatch is a hard error,
      // not a silently-skewed calibration
      writeScanCalib(spark)
      val (n2, rps2) = pass()
      require(n2 == ScanCalibRows,
        s"scan-calib artifact invalid after rebuild: $n2 rows at $ScanCalibPath")
      rps2
    }
  }

  /** Cumulative stop-the-world GC milliseconds across all collectors —
    * per-pass deltas over wall time give the gc_frac column (VERDICT r18
    * #4's second ask: a capture degraded by heap pressure shows a high
    * GC fraction even when the box is otherwise idle).
    */
  private def gcTimeMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** One timed run of `q` to its full result through
    * [[SparkEntry.runFull]]: (wall s, process CPU s or -1 where the JVM
    * does not report CPU time). Building the frame is inside the timer,
    * so eager work a query does while it is built is counted.
    */
  private[graft] def timeQuery(spark: SparkSession, sfDir: String,
      q: (SparkSession, String) => DataFrame): (Double, Double) = {
    val t0 = System.nanoTime()
    val c0 = processCpuNs()
    SparkEntry.runFull(q(spark, sfDir))
    val wall = (System.nanoTime() - t0) / 1e9
    val c1 = processCpuNs()
    (wall, if (c0 >= 0 && c1 >= 0) (c1 - c0) / 1e9 else -1.0)
  }

  def main(args: Array[String]): Unit = {
    val basket = SparkEntry.registered(if (args.nonEmpty) args.toSeq else headline)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // stderr: the driver's contract is ONE stdout JSON line (the total)
    System.err.println(
      Conditions.row("bench", "sf_dir" -> sfDir, "master" -> spark.sparkContext.master))
    // Warmup: JIT/codegen paths + parquet footers, so the first timed query
    // doesn't absorb one-time session costs.
    SparkEntry.runFull(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count())
    val queries = SparkEntry.queries
    val runs = math.max(1, sys.env.getOrElse("GRAFT_BENCH_RUNS", "3").toInt)
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val cpuSamples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // cold cache builds per query, recorded on whichever run they fire
    // (normally the query's first — VERDICT r13 #7: a row whose first
    // sample absorbed a one-time trainer/store build says so in the
    // artifact, and the median-over-runs discipline already keeps that
    // sample from becoming the reported number)
    val coldBuilds = scala.collection.mutable.Map.empty[String, Seq[String]]
    val loadStart = loadAvg()
    // warm the calibration arms' own one-time costs (codegen; the scan
    // file build + its first page-cache load) outside the timed samples
    runCalibration(spark)
    ensureScanCalib(spark)
    runScanCalibration(spark)
    val calibSamples = scala.collection.mutable.ListBuffer.empty[Double]
    val scanSamples = scala.collection.mutable.ListBuffer.empty[Double]
    val gcFracs = scala.collection.mutable.ListBuffer.empty[Double]
    var gcPrev = gcTimeMs()
    var gcWallPrev = System.nanoTime()
    for (r <- 1 to runs; name <- basket) {
      // one sample per calibration arm per round-robin pass, taken at
      // the pass boundary — points across the run's duration, so
      // contention arriving mid-run is visible in the samples, not just
      // the median; the GC fraction covers the whole preceding pass
      if (name == basket.head) {
        calibSamples += runCalibration(spark)
        scanSamples += runScanCalibration(spark)
        val (gcNow, wallNow) = (gcTimeMs(), System.nanoTime())
        if (wallNow > gcWallPrev)
          gcFracs += (gcNow - gcPrev) / ((wallNow - gcWallPrev) / 1e6)
        gcPrev = gcNow; gcWallPrev = wallNow
      }
      val cb0 = graft.ColdBuilds.mark()
      // a failed run contributes no sample, never its partial wall time
      try {
        val (wall, cpu) = timeQuery(spark, sfDir, queries(name))
        samples(name) = samples(name) :+ wall
        if (cpu >= 0) cpuSamples(name) = cpuSamples(name) :+ cpu
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed (run $r): $e")
          errors += name
      }
      val colds = graft.ColdBuilds.since(cb0)
      if (colds.nonEmpty)
        coldBuilds(name) = coldBuilds.getOrElse(name, Seq.empty) ++ colds
    }
    val loadEnd = loadAvg()
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = basket.map { name =>
      name -> (if (samples(name).nonEmpty) median(samples(name)) else -1.0)
    }
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val spread = basket.filter(samples(_).nonEmpty)
      .map { name =>
        val s = samples(name)
        "\"" + name + "\":[" + f"${s.min}%.3f" + "," + f"${s.max}%.3f" + "]"
      }
      .mkString("{", ",", "}")
    val cpuQs = basket.filter(cpuSamples(_).nonEmpty)
      .map(name => "\"" + name + "\":" + f"${median(cpuSamples(name))}%.3f")
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val cpuTotal = basket.flatMap(n =>
      if (cpuSamples(n).nonEmpty) Some(median(cpuSamples(n))) else None).sum
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val load = f"""[$loadStart%.2f,$loadEnd%.2f]"""
    val coldJson = basket.filter(coldBuilds.contains)
      .map(n => "\"" + n + "\":" +
        coldBuilds(n).map("\"" + _ + "\"").mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    // one final sample per arm after the last pass brackets the run
    calibSamples += runCalibration(spark)
    scanSamples += runScanCalibration(spark)
    val (gcEnd, gcWallEnd) = (gcTimeMs(), System.nanoTime())
    if (gcWallEnd > gcWallPrev)
      gcFracs += (gcEnd - gcPrev) / ((gcWallEnd - gcWallPrev) / 1e6)
    val calibMed = median(calibSamples.toList)
    val calibJson = calibSamples.map(c => f"$c%.0f").mkString("[", ",", "]")
    val scanMed = median(scanSamples.toList)
    val scanJson = scanSamples.map(c => f"$c%.0f").mkString("[", ",", "]")
    val gcJson = gcFracs.map(g => f"$g%.4f").mkString("[", ",", "]")
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"runs":$runs,"spread":$spread,"cpu_queries":$cpuQs,"cpu_total":$cpuTotal%.3f,"cold_builds":$coldJson,"loadavg":$load,"calib_rps":$calibMed%.0f,"calib_samples":$calibJson,"scan_calib_rps":$scanMed%.0f,"scan_calib_samples":$scanJson,"gc_frac":$gcJson,"errors":$errs,"sf":"$sfDir"}"""
    // The full per-query/spread JSON is ~4 KB on one line; a bounded tail
    // capture of stdout can slice it mid-line and kill the parse (that is
    // exactly what happened to BENCH_r07). Persist the full detail to a
    // file and keep the LAST stdout line a short, always-parseable summary.
    val detailPath = writeDetail("GRAFT_BENCH_DETAIL", "/tmp/graft_bench.json", Seq(full))
    // Stop Spark BEFORE printing the summary: anything the session's
    // shutdown path logs must land above the one line the driver parses.
    // A throwing stop() must not eat that line — it is the whole artifact.
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: $e") }
    // `gate` lets the driver (and a human eyeballing the artifact) see a
    // run with broken queries without parsing the errors array — rc is 0
    // either way because partial timings are still worth recording.
    val gate = if (errors.isEmpty) "pass" else "fail"
    // `queries` — per-query medians, driver-visible (VERDICT r20 #2: 20
    // rounds of PERF.per_query came up empty because the medians lived
    // only in the detail file; totals-only artifacts forced every
    // round-over-round verdict into a calibration argument). Additions
    // only: every pre-existing field keeps its name and meaning, and the
    // full detail (spread/cpu/cold_builds/samples) still goes to the
    // detail file. The r07 slice risk (a bounded tail capture cutting a
    // long line) is mitigated, not reintroduced: this stays the LAST
    // stdout line, ~2.5 KB, and the summary keeps its own short fields
    // so a sliced head still leaves the detail file authoritative.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"nqueries":${results.count(_._2 >= 0)},"runs":$runs,"cpu_total":$cpuTotal%.3f,"loadavg":$load,"calib_rps":$calibMed%.0f,"scan_calib_rps":$scanMed%.0f,"gc_frac_max":${if (gcFracs.isEmpty) -1.0 else gcFracs.max}%.4f,"errors":$errs,"gate":"$gate","sf":"$sfDir","detail":"$detailPath"}""")
  }
}
