package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.sources.{Datasets, Tables}

/** Incremental aggregate maintenance — the materialized-view analog of
  * the repo's other incremental lifecycles (dedup_incremental's signature
  * store, ann_ivfpq_incremental's frozen index): per-lang corpus
  * statistics are kept as PERSISTED ALGEBRAIC PARTIALS (counts, sums,
  * extrema — every one commutative + associative), so absorbing a delta
  * batch costs one pass over the DELTA plus an O(|langs|) state merge,
  * never a rescan of the accumulated corpus. At 100 TB this is the
  * difference between a dataset-card refresh being a delta job and a
  * full-corpus job.
  *
  * Exactly the partial-aggregation contract Spark itself uses inside one
  * query (partial HashAggregate → merge), lifted across JOBS via a
  * parquet state file. Non-algebraic measures (distinct counts) are
  * deliberately excluded — the mergeable form of those is the KMV sketch
  * (q_approx_distinct_kmv); mixing them here would silently change
  * semantics.
  *
  * State publish is crash-safe in the SigStore style: staged build +
  * `_STATE_READY` marker + one atomic rename.
  */
object IncrementalStats {

  /** Fold into the root digest; bump on state-schema change. */
  // v2 (r20): sum_quality double partial → sum_quality_q4 exact LONG
  private val FormatVersion = 2

  /** Delta split for the registered query: every 5th doc arrives "late"
    * (mirrored literally in the oracle as `doc_id % 5 = 0`).
    */
  private[graft] val DeltaMod = 5

  private[graft] def stateRoot(s: SparkSession, d: String): String =
    Datasets.storeRoot(s, "graft_aggstate", "", d, FormatVersion, Seq("documents"))

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Per-lang algebraic partials of a documents frame — one
    * map-side-combined aggregation, O(|langs|) rows out.
    */
  private[graft] def partials(docs: DataFrame): DataFrame =
    TextOps.withQuality(docs).groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("total_chars"),
      sum(col("n_words").cast("long")).as("total_words"),
      // EXACT integer partial (r20, ADVICE r19): quality_score is q4/10⁴
      // exactly, so ×10⁴ + round recovers the integer per row and the
      // state sums LONGs — double accumulation over a large corpus can
      // drift ≥1 in the numerator vs an exact sum, flipping the 4th
      // decimal of the average between engines near a boundary. The duck
      // oracle twin sums per-row-rounded BIGINTs the same way.
      sum(round(col("quality_score") * 10000).cast("long")).as("sum_quality_q4"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))

  /** Merge partial states: sums add, extrema fold — the cross-job twin of
    * Spark's merge-side HashAggregate.
    */
  private[graft] def mergePartials(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("lang").agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("total_chars")).as("total_chars"),
      sum(col("total_words")).as("total_words"),
      sum(col("sum_quality_q4")).as("sum_quality_q4"),
      min(col("min_chars")).as("min_chars"),
      max(col("max_chars")).as("max_chars"))

  /** Finalize partials into the published stat row shape. */
  private[graft] def finalizeStats(state: DataFrame): DataFrame =
    state.select(col("lang"), col("n_docs"), col("total_chars"),
      col("total_words"),
      ExactRound.round4(col("sum_quality_q4"), col("n_docs") * 10000)
        .as("avg_quality"),
      col("min_chars"), col("max_chars"))

  /** Crash-safe state publish: staged write + marker + atomic rename. */
  private[graft] def publish(s: SparkSession, root: String,
      state: DataFrame): Unit = {
    val rootPath = new Path(root)
    val f = fs(s, rootPath)
    val tmp = new Path(root + ".build_tmp")
    f.delete(tmp, true)
    // O(|langs|) rows: one file is the right layout
    state.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(new Path(tmp, "state.parquet").toString)
    f.create(new Path(tmp, "_STATE_READY")).close()
    f.delete(rootPath, true)
    require(f.rename(tmp, rootPath), s"atomic publish failed: $root")
  }

  private[graft] def readState(s: SparkSession, root: String): DataFrame = {
    graft.ColdBuilds.record("aggstate_load")
    Tables.parquet(s, new Path(root, "state.parquet").toString)
  }

  /** Build (once per dataset, crash-safe) the base state over
    * `doc_id % DeltaMod =!= 0`.
    */
  private[graft] def ensureBuilt(s: SparkSession, d: String): String =
    synchronized {
      val root = stateRoot(s, d)
      // ColdBuilds-tagged (r20): the v1→v2 format bump re-keyed the state
      // root and SCALE10's corpus_mixture_incremental row silently booked
      // the one-time base rebuild into its serve cost (2.5→25.6 cpu-s at
      // sf10) — exactly the unattributed-build class the registry exists
      // for. The tag also makes the aggstate family visible to the
      // WarmServe calibration (builder in sweep A, silent in the fresh
      // JVM), pulling these store-backed queries under the gate.
      if (!fs(s, new Path(root)).exists(new Path(root, "_STATE_READY")))
        graft.ColdBuilds.timed("aggstate_build") {
          publish(s, root, partials(
            Tables.documents(s, d).filter(col("doc_id") % DeltaMod =!= 0)))
        }
      root
    }

  /** Merge-on-read serve: published base state + the delta's partials,
    * finalized. Never re-aggregates base documents (IncrementalStatsSpec
    * asserts the serving plan's only documents scan is the delta's).
    */
  private[graft] def serveIncremental(s: SparkSession, d: String): DataFrame = {
    val root = ensureBuilt(s, d)
    val delta = Tables.documents(s, d).filter(col("doc_id") % DeltaMod === 0)
    finalizeStats(mergePartials(readState(s, root), partials(delta)))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_stats_incremental" -> ((s, d) => serveIncremental(s, d)),
    // mixture weights served from the SAME persisted partials: the
    // per-lang doc counts come from stored state + one delta pass, then
    // the |langs|-row temperature normalization — identical output (and
    // oracle) to corpus_mixture, with no base-corpus scan in the plan
    "corpus_mixture_incremental" -> ((s, d) => {
      val root = ensureBuilt(s, d)
      // the mixture needs only per-lang COUNTS: a bare groupBy-count of
      // the delta (not the full quality-scoring partials) merged with the
      // stored counts
      val deltaCounts = Tables.documents(s, d)
        .filter(col("doc_id") % DeltaMod === 0)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val byLang = readState(s, root).select(col("lang"), col("n_docs"))
        .unionByName(deltaCounts)
        .groupBy("lang").agg(sum("n_docs").as("n_docs"))
      SamplingOps.mixtureOutput(SamplingOps.mixtureFrom(byLang))
    })
  )

  /** The oracle recomputes the SAME stats over the full corpus in one
    * pass — base ∪ delta is every document — so a hash match proves the
    * split + persisted-partial + merge path loses nothing.
    */
  def oracleSql: Map[String, String] = Map(
    "corpus_stats_incremental" ->
      s"""WITH ${TextOps.wsCte}, ${TextOps.qualityCte}
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(len(ws)) AS BIGINT) AS total_words,
         |  ${ExactRound.duck4("sum(round(quality_score * 10000)::BIGINT)", "10000 * count(*)")} AS avg_quality,
         |  CAST(min(n_chars) AS BIGINT) AS min_chars,
         |  CAST(max(n_chars) AS BIGINT) AS max_chars
         |FROM t JOIN q USING (doc_id)
         |GROUP BY lang""".stripMargin,
    // identical output to corpus_mixture — only the counts' provenance
    // (persisted partials + delta) differs
    "corpus_mixture_incremental" -> SamplingOps.oracleSql("corpus_mixture")
  )
}
