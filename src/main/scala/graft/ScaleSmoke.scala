package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf1-scale smoke (VERDICT r5 §8): the cheapest empirical check that no
  * hidden cliff sits between sf0.1 and real scale. Deterministically
  * expands the sf0.1 `documents`/`embeddings` tables ~10× (TxGen-style:
  * every byte a pure function of ids — no Random, no time), then times
  * the dedup/ANN/text headline once and prints one JSON line per query.
  *
  * Expansion semantics: replica r of a document rewrites ~half its words
  * via a hash of (word, r), so replicas are NOT near-dups of their
  * original (Jaccard « 0.1) while each replica internally preserves the
  * planted near-dup pairs (the same rewrite hits both members of a pair).
  * Duplicate DENSITY therefore stays at sf0.1 levels while the corpus
  * grows 10× — pair volume scales ~linearly like a real crawl, not
  * quadratically like naive replication. Embedding replicas add small
  * deterministic per-component noise, preserving cluster geometry.
  *
  * `sbt "runMain graft.ScaleSmoke [outDir]"` (default `target/sf1`;
  * generation skipped when the fixture already exists).
  */
object ScaleSmoke {

  val headline: Seq[String] = Seq(
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_ngram_jaccard_prefix",
    "dedup_substring",
    "dedup_winnow_pairs",
    "decontam_winnow",
    "dedup_components",
    // the RECOMMENDED embedding-LSH variant (2×8-bit bands); the coarse
    // 4×4-bit `dedup_embedding_lsh` stays registered for the oracle but
    // out of the headline — its Σ bucket² blowup on clique-dense data is
    // documented (VERDICT r10 #2) and the fine re-banding is the answer,
    // so the headline measures the path a 100 TB user should run
    "dedup_embedding_lsh_fine",
    // embedding_kmeans FIRST: it pays the shared one-time Lloyd trainer
    // (K derived from the corpus), so the dedup_semantic row right after
    // it reads as the operator's marginal cost — same attribution idiom
    // as ann_ivfpq_served_topk below
    "embedding_kmeans",
    "dedup_semantic",
    "decontam_neardup",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    // filtered ANN (predicate pushed below ADC scoring) — the query shape
    // real retrieval serves most; plan pruning is spec-asserted in
    // SimilarityFilterSpec (a plan property, scale-independent)
    "ann_ivfpq_filtered_topk",
    // first run pays the one-time index build; the serve cost is the gap
    // vs ann_ivfpq_topk (which re-derives from the in-memory train cache)
    "ann_ivfpq_served_topk",
    "ann_ivfpq_incremental",
    "ann_recall",
    // production K/nprobe/codebook geometry, self-graded (VERDICT r14 #5)
    "ann_recall_production",
    // documents/embeddings-backed only: the sf1 fixture has no TPC-H
    // tables, so lineitem-bound queries (e.g. q_approx_distinct_kmv)
    // don't belong here
    // lexical + hybrid retrieval (documents ⊕ embeddings)
    "text_bm25_topk",
    // the SERVED lexical path (persisted postings store; first run pays
    // the one-time build, the serve itself is the bucket-pruned plan)
    "text_bm25_served_topk",
    "text_bm25_incremental",
    // index-served fusion (postings store × IVF×PQ codes) — replaces the
    // brute-force ann_hybrid_rrf in the headline (VERDICT r11 #2)
    "ann_hybrid_served_rrf",
    // served fusion + exact re-rank of the IN-pushed candidate read
    "ann_hybrid_served_rerank",
    "text_bigram_logprob",
    "dsir_sample",
    "text_gopher_rules",
    "corpus_overlap_eval",
    "embedding_prototypicality",
    "dedup_incremental",
    "dedup_incremental_stored",
    "dedup_components_incremental",
    "dedup_components_stored",
    "dedup_eval_minhash",
    "corpus_validate",
    "corpus_validate_refs",
    "corpus_train_manifest",
    // the manifest's deployment shape (VERDICT r14 #1): cluster labels
    // from the persisted SigStore state instead of an inline fixpoint —
    // serve row should read ≪ the one-shot above
    "corpus_train_manifest_stored",
    "text_distinct_shingles_by_lang",
    "text_quality",
    "text_entropy",
    "text_fingerprint",
    "text_tfidf",
    "text_bpe_tokens",
    "bpe_train_merges",
    "pack_chunks_bpe",
    "q_merge_upsert",
    "corpus_mixture_tokens",
    "sample_manifest_upsampled",
    "corpus_mixture_incremental",
    // leakage-safe split on the PERSISTED SigStore label path — the
    // deployment shape (VERDICT r12 #4); the one-shot clustering form is
    // the oracle-scale anchor and stays out of the scale baskets
    "split_assign_leakage_safe_stored"
  )

  /** Queries whose first invocation pays a one-time persisted-index
    * build (ensure*Built / store absorb): the smoke times them TWICE and
    * emits `serve_sec` (warm second run) and `build_sec` (first minus
    * second) separately, so a scale artifact row shows the cost the
    * deployment pays per query, not per index rebuild (VERDICT r12 #2 —
    * the sf10 rows previously conflated the two).
    */
  val servedQueries: Set[String] = Set(
    "text_bm25_served_topk", "text_bm25_incremental",
    "ann_hybrid_served_rrf", "ann_hybrid_served_rerank",
    "ann_ivfpq_served_topk", "ann_ivfpq_incremental",
    "dedup_incremental_stored", "dedup_components_incremental",
    "dedup_components_stored", "split_assign_leakage_safe_stored",
    "corpus_train_manifest_stored",
    // TRAINER-BACKED queries (r14, VERDICT r13 #1): their first
    // invocation pays the per-JVM Lloyd-trainer / ANN-sample cache build
    // inside the timer — the exact conflation suspected behind the r13
    // kmeans 586-cpu-s artifact row. The warm second run isolates the
    // marginal (serve) cost; the cold_builds field attributes the rest.
    "embedding_kmeans", "dedup_semantic", "embedding_prototypicality",
    "ann_recall_production")

  /** Stored flop-family CPU envelopes for the sf10 decade probe (r18,
    * VERDICT r17 #3): the r17 five-sample solo captures of the two
    * dot_double-dominated rows (SCALE10_r17 `sf10_dot_double_reread`:
    * dedup_embedding_lsh_fine 438.7–587.7 cpu-s, ann_bruteforce_topk
    * 49.2–73.7 — bit-identical work, ±25–50% host spread) closed the
    * r16 drift flag, but "read future rows against this envelope" was
    * an instruction to a human. Now the smoke compares these rows
    * itself: each carries `cpu_envelope` (the stored bounds widened 10%
    * for sampling granularity) and `cpu_in_envelope`, and a generated
    * summary row lists any outliers — the stream_ror_summary treatment
    * for sf10. A row OUTSIDE the envelope means either real plan drift
    * (interleaved A/B it) or a host regime change (recapture the
    * 5-sample envelope and update these constants, noting it in the
    * round log). Bounds must only ever come from a solo 5-sample
    * capture, never from a single basket run.
    */
  private val Sf10CpuEnvelope: Map[String, (Double, Double)] = Map(
    "dedup_embedding_lsh_fine" -> ((438.7, 587.7)),
    "ann_bruteforce_topk" -> ((49.2, 73.7)))

  def generate(spark: SparkSession, base: String, outDir: String,
      replicas: Int): Unit = {
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val nDocs = docs.count()
    val nVecs = emb.count()
    val reps = spark.range(replicas).select(col("id").as("r"))

    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("r") * lit(nDocs)).as("doc_id"),
        when(col("r") === 0, col("text")).otherwise(expr(
          """array_join(transform(split(text, ' '),
            |  w -> CASE WHEN pmod(xxhash64(concat(w, ':', r)), 2) = 0
            |            THEN w ELSE concat(w, '_', r) END), ' ')""".stripMargin))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    emb.crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("r") * lit(nVecs)).as("vec_id"),
        when(col("r") === 0, col("embedding")).otherwise(expr(
          """transform(embedding, (x, i) ->
            |  cast(x + (pmod(xxhash64(vec_id * 64 + i + r * 131), 1000) - 500)
            |           / 100000.0 as float))""".stripMargin))
          .as("embedding"),
        col("label"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.headOption.getOrElse("target/sf1")
    val replicas = sys.env.getOrElse("GRAFT_SCALE_REPLICAS", "10").toInt
    // artifact label: "sf1" for the standard 10x run, "sf10" for the
    // 100-replica decade probe — lets one main serve both scale points
    val label = sys.env.getOrElse("GRAFT_SCALE_LABEL", "sf1")
    val spark = Session.local()
    // Memory envelope (VERDICT r13 #8): shuffle.partitions=cpus keeps
    // small-stage latency down, but at sf10 a 16-partition sort of the
    // components edge pipeline needs ~2 GiB/partition and OOMs the
    // default 8 GiB heap (r13 ran it at 32 GiB). Letting AQE START
    // wide and coalesce down makes each sort partition fit-and-spill
    // instead: measured, one-shot dedup_components at sf10 completes
    // in 160 s wall / 1735 cpu-s with -Xmx8g and this setting — no
    // 32 GiB provisioning rule needed. Coalescing folds the width back
    // for the small stages, so sf1 rows are unaffected.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", 128L)
    println(Conditions.row(label, "base" -> base, "out_dir" -> outDir,
      "replicas" -> replicas.toString))

    if (!new java.io.File(s"$outDir/documents.parquet").exists()) {
      val t0 = System.nanoTime()
      generate(spark, base, outDir, replicas)
      System.err.println(f"[scale] generated $outDir in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    val queries = SparkEntry.queries
    // dev: trailing args (after an optional outDir) time just those queries
    val basket0 =
      if (args.exists(queries.contains)) args.toSeq.filter(queries.contains)
      else headline
    // The decade probe runs the plans a 100× deployment would RUN: the
    // uncapped exact Jaccard's Σdf² candidate volume is the documented
    // scale-killer (VERDICT r12 "what's wrong" #1) — it stays the oracle
    // anchor at oracle scales and in the sf1 basket, but the sf10 rows
    // measure its recommended capped/prefix twins instead. The exclusion
    // is LOGGED into the artifact, not silent.
    val exactJaccardExcluded =
      label == "sf10" && basket0.contains("dedup_ngram_jaccard")
    val basket =
      if (exactJaccardExcluded) basket0.filterNot(_ == "dedup_ngram_jaccard")
      else basket0
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val envelopeOutliers = scala.collection.mutable.ArrayBuffer.empty[String]
    var total = 0.0
    def cpuNs(): Long =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
        case _ => -1L
      }
    if (exactJaccardExcluded) {
      lines += s"""{"metric":"${label}_note","query":"dedup_ngram_jaccard","skipped":"exact (uncapped) form is the oracle-scale anchor; its Sum-df^2 candidate volume is the documented scale-killer and the capped/prefix twins in this basket are the 100x plans"}"""
      println(lines.last)
    }
    // the jaccard-anchor treatment for the lexical family (VERDICT r15
    // #7): the one-shot stays IN the basket (unlike the exact jaccard it
    // is corpus-scan-shaped, not quadratic) but the row needs to say why
    // both forms run — its cost is the from-scratch anchor, not the
    // deployment number
    if (label == "sf10" && basket.contains("text_bm25_topk")) {
      lines += s"""{"metric":"${label}_note","query":"text_bm25_topk","note":"one-shot from-scratch scoring is the oracle anchor the served plans are proven against; the deployment path is text_bm25_served_topk's persisted-postings serve in this same basket - read its serve_sec as the per-query cost, this row as the anchor's full-scan cost"}"""
      println(lines.last)
    }
    basket.foreach { name =>
      val t0 = System.nanoTime()
      val c0 = cpuNs()
      val cb0 = graft.ColdBuilds.mark()
      try {
        val rows = queries(name)(spark, outDir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        // process-CPU alongside wall (same rationale as Bench): cpu/wall
        // separates a contended box from a genuinely costlier plan
        val cpu = (cpuNs() - c0) / 1e9
        // cold cache builds that fired INSIDE this timer (VERDICT r13
        // #7): a row whose wall includes a one-time trainer/store build
        // now says so itself, so cross-round artifact reads can never
        // again mistake a cold first invocation for a serve regression
        val colds = graft.ColdBuilds.since(cb0)
        val coldsJson = colds.map("\"" + _ + "\"").mkString("[", ",", "]")
        total += secs
        if (servedQueries.contains(name)) {
          // second (warm) run = serve-only cost; first-run surplus is the
          // one-time index/trainer build this query triggered (≈0 when
          // another query already built the shared store — also visible)
          val t1 = System.nanoTime()
          val c1 = cpuNs()
          val cb1 = graft.ColdBuilds.mark()
          queries(name)(spark, outDir).count()
          val serve = (System.nanoTime() - t1) / 1e9
          val serveCpu = (cpuNs() - c1) / 1e9
          // the warm run is itself ColdBuilds-attributed (ADVICE r14): a
          // build keyed off some OTHER cache that fires only on the
          // second invocation would silently inflate the serve number —
          // the exact conflation cold_builds exists to prevent. Non-empty
          // serve_cold_builds = the serve figure is NOT serve-only.
          val serveColds = graft.ColdBuilds.since(cb1)
          val serveColdsJson =
            serveColds.map("\"" + _ + "\"").mkString("[", ",", "]")
          val build = math.max(0.0, secs - serve)
          lines += f"""{"metric":"${label}_smoke","query":"$name","wall_sec":$secs%.3f,"build_sec":$build%.3f,"serve_sec":$serve%.3f,"cpu_sec":$cpu%.3f,"serve_cpu_sec":$serveCpu%.3f,"cold_builds":$coldsJson,"serve_cold_builds":$serveColdsJson,"rows":$rows}"""
        } else {
          // in/out-of-envelope self-check for the stored flop-family rows
          val env =
            if (label == "sf10") Sf10CpuEnvelope.get(name).map { case (lo, hi) =>
              val in = cpu >= lo / 1.1 && cpu <= hi * 1.1
              if (!in) envelopeOutliers += name
              f""","cpu_envelope":[$lo%.1f,$hi%.1f],"cpu_in_envelope":$in"""
            }.getOrElse("")
            else ""
          lines += f"""{"metric":"${label}_smoke","query":"$name","wall_sec":$secs%.3f,"cpu_sec":$cpu%.3f$env,"cold_builds":$coldsJson,"rows":$rows}"""
        }
        println(lines.last)
      } catch {
        case e: Throwable =>
          errors += name
          // carry a bounded, JSON-safe slice of the message in the row
          // itself: an in-basket failure that passes solo (observed r17)
          // is undiagnosable from the class name alone once stderr is
          // gone
          val msg = Option(e.getMessage).getOrElse("")
            .replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(300)
          lines += s"""{"metric":"${label}_smoke","query":"$name","error":"${e.getClass.getSimpleName}","error_msg":"$msg"}"""
          println(lines.last)
          System.err.println(s"[scale] $name failed: $e")
          e.printStackTrace()
      }
      // between-query hygiene, OUTSIDE every timer: localCheckpoint
      // blocks of the finished query's frames are dead the moment its
      // DataFrames go out of scope, but the ContextCleaner only sweeps
      // them after a driver GC — without this nudge a basket accumulates
      // GBs of dead blocks and a later query's sort spike OOMs the
      // default heap (r15: components at basket position 10 died where
      // the same query solo succeeded)
      System.gc()
    }
    // generated envelope summary (r18, VERDICT r17 #3): one row saying
    // which flop-family rows were checked and which fell outside — the
    // machine-readable verdict a cross-round reader consumes first
    if (label == "sf10") {
      val checked = basket.filter(Sf10CpuEnvelope.contains)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val out = envelopeOutliers.map("\"" + _ + "\"").mkString("[", ",", "]")
      lines += s"""{"metric":"sf10_envelope_summary","checked":$checked,"out_of_envelope":$out}"""
      println(lines.last)
    }
    // artifact discipline (same as Bench): full per-query detail to a
    // file, short always-parseable summary as the LAST stdout line, so a
    // bounded tail capture still yields a usable round artifact
    val detailPath = Bench.writeDetail(
      "GRAFT_SCALE_DETAIL", "/tmp/graft_scale.json", lines.toSeq)
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(f"""{"metric":"${label}_total","value":$total%.3f,"unit":"sec","nqueries":${basket.size - errors.size},"errors":$errs,"detail":"$detailPath"}""")
    spark.stop()
  }
}
