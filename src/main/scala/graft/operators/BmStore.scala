package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

import graft.operators.Retrieval.FrozenIndexStats
import graft.sources.{Datasets, Tables}

/** Persisted POSTINGS store for lexical (BM25) retrieval — the retrieval
  * family's build-once/serve-many index, completing the lifecycle
  * pattern its siblings already have (ANN: [[AnnIndexIO]]; dedup:
  * [[SigStore]]). `text_bm25_topk` recomputes tf/df/avgdl from the
  * documents table on every run — exactly the O(|corpus|) pass a 100 TB
  * deployment pays ONCE at index-build time, never per query. This
  * module banks that pass:
  *
  *   <root>/postings.parquet/tok_bucket=N/batch_id=M/  (token, doc_id, tf, dl)
  *   <root>/df.parquet/tok_bucket=N/                   (token, df)   [vocab-sized]
  *   <root>/meta.parquet                               (n_docs, sum_dl) [1 row]
  *   <root>/_STORE_READY                               publish marker
  *
  * == Layout = the serving plan ==
  *
  * Postings partition by `tok_bucket = xxhash64(token) % `[[NumBuckets]]
  * and sort by `token` inside each file: a query whose union vocabulary
  * hashes into k buckets reads k directories and SKIPS the rest at the
  * parquet-partition level (the [[AnnIndexIO]] nprobe idiom — the spec
  * asserts the pruned scan), and the token IN (…) filter then prunes row
  * groups inside them via the sorted column's min/max stats. The corpus
  * text is never touched — NO serving plan contains a documents scan
  * (query-term statistics are frozen driver-side, below). At 100 TB the
  * same layout holds with more buckets; each serve touches
  * `|query vocab buckets| / NumBuckets` of the postings files.
  *
  * Above the shared scan, [[servedRanked]] auto-selects among THREE
  * exact scoring strategies (r13): exhaustive join+aggregate for short
  * queries; MaxScore/WAND essential-term pruning for wide queries over
  * a skewed (real, Zipfian) vocabulary — candidates built from rare
  * postings, final aggregation driven candidates-first so the stopword
  * fan-out never materializes; and doc-vector percolation scoring for
  * wide queries over a flat vocabulary, where no pruning can shrink the
  * candidate set but the (posting × query) join fan-out still can. All
  * three are value-identical (one oracle), and the wand-vs-docvec
  * choice comes from a measured probe, not a heuristic.
  *
  * == Frozen statistics (the staleness contract) ==
  *
  * [[frozenStats]] materializes the standing-query statistics from the
  * STORE — per-term df from `df.parquet`, corpus scalars from
  * `meta.parquet` — one O(query-vocab) driver collect at index-refresh
  * time, identical in role (and in type: [[FrozenIndexStats]]) to the
  * batch [[Retrieval.frozenStats]]. Batch serve and incremental serve
  * score against one statistics snapshot.
  *
  * == Incremental growth ==
  *
  * [[appendBatch]] lands a new document batch's postings under their own
  * `batch_id=<n>` dirs inside the bucket partitions (dynamic partition
  * overwrite — the exactly-once replay idiom shared with
  * SigStore.appendBatch / AnnIndexIO.appendBatch): growth costs one
  * tokenize pass over the BATCH, O(|batch|), never O(|store|).
  * df / avgdl / N stay FROZEN at the base build — the same staleness
  * contract real search engines run between index rebuilds (and the same
  * shape as AnnIndexIO's frozen-model incremental encode): grown
  * documents are retrievable immediately, but idf drift accrues until
  * the next full rebuild re-freezes the statistics. A batch term absent
  * from the frozen vocabulary scores zero (unknown term), exactly as a
  * percolator treats out-of-vocabulary tokens. `text_bm25_incremental`'s
  * oracle mirrors the contract literally: postings over the full corpus,
  * dfq/st over the base split only.
  *
  * Publish is crash-safe in the SigStore style: build to a `.build_tmp`
  * sibling, one atomic rename; a torn build is invisible.
  *
  * Not a reference operator (the reference is a streaming fraud demo,
  * SURVEY §0) — this closes VERDICT r11 gap #2 (lexical retrieval was
  * the one family without a persisted lifecycle).
  */
object BmStore {

  /** Token-hash partition count. 16 keeps sf-fixture directories
    * non-trivial while every bucket still holds many tokens; at 100 TB
    * the knob scales to thousands — bucket count is the pruning
    * granularity, independent of corpus size.
    */
  val NumBuckets = 16

  // v3: docvec.parquet stores the flattened token multiset (ws) directly
  // (v2 briefly stored (token, tf) structs reconstructed per serve; v1
  // had no forward index) — bumping the version re-keys store roots so
  // older stores rebuild rather than serve with a missing/mismatched
  // layout
  private val FormatVersion = 3

  /** Keyed by canonical dataset path AND the documents table's content
    * fingerprint (ADVICE r12): a dataset dir rewritten IN PLACE now maps
    * to a fresh store root naturally — across JVMs too — instead of
    * serving stale postings/df/meta until a manual [[deleteStore]].
    * Fingerprinting lists a handful of part files (microseconds), and
    * every caller goes through ensure*Built, so the probe runs once per
    * query invocation.
    */
  private[graft] def storeRoot(s: SparkSession, d: String, variant: String): String =
    Datasets.storeRoot("graft_bmstore", variant, d, FormatVersion,
      Datasets.fingerprint(s, d, "documents"))

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private[graft] def deleteStore(s: SparkSession, d: String): Unit =
    Seq("full", "incr").foreach { v =>
      val root = storeRoot(s, d, v)
      val p = new Path(root)
      fs(s, p).delete(p, true)
      frozenCache.remove(root)
      metaCache.remove(root)
      planCache.removeKeys(_._1 == root)
    }

  private def tokBucket(c: Column): Column =
    pmod(xxhash64(c), lit(NumBuckets.toLong)).cast("int")

  /** (doc_id, dl, token, tf) — one tokenize pass over a documents frame;
    * the same token/dl derivation as [[Retrieval.bmScored]] so stored
    * postings are definitionally the batch scorer's tf frame.
    */
  private def tfRows(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"),
        explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).as("tf"))

  /** (doc_id, dl, ws) forward-index rows from a tf frame: the token
    * multiset reconstructed once at build/append time (tf repeats
    * expanded), shared by [[buildFrom]] and [[appendBatch]].
    */
  private def docVecRows(tf: DataFrame): DataFrame =
    tf.groupBy("doc_id", "dl")
      .agg(flatten(collect_list(
        expr("array_repeat(token, cast(tf as int))"))).as("ws"))

  /** Stable fingerprint of a build's INPUT frame — the canonicalized
    * logical plan (attribute ids normalized positionally, so the string
    * is identical across JVMs for the same source + transforms). Written
    * into `_STORE_READY` so the crash-heal adoption below can tell
    * whether a READY tmp was built from THESE docs (ADVICE r13: managed
    * roots are content-fingerprinted in the root path, but a direct
    * buildFrom(root, docs) caller — tests, benches — that crashed
    * mid-publish and later rebuilds the same root with different docs
    * must not silently adopt the stale store).
    */
  private def inputFingerprint(baseDocs: DataFrame): String =
    Datasets.md5hex(baseDocs.queryExecution.analyzed.canonicalized.toString)

  private def readMarker(f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Build a store at `root` from a base documents frame (crash-safe:
    * staged + atomic rename). Base postings publish as `batch_id=-1`.
    * ONE corpus pass: the materialized tf frame feeds postings, df, AND
    * the doc-vector serving layout.
    */
  private[graft] def buildFrom(s: SparkSession, root: String,
      baseDocs: DataFrame): Unit = {
    val rootPath = new Path(root)
    val f = fs(s, rootPath)
    val tmp = new Path(root + ".build_tmp")
    val inputFp = inputFingerprint(baseDocs)
    // Heal before building (ADVICE r12):
    // a crash in the previous publish's swap window leaves a READY-marked
    // tmp and no (or an unmarked) root — adopt the finished build instead
    // of paying the corpus pass again. Adoption requires the tmp's
    // recorded input fingerprint to match THIS build's input (ADVICE
    // r13); a legacy empty marker or a different input rebuilds instead.
    if (f.exists(new Path(tmp, "_STORE_READY")) &&
        !f.exists(new Path(rootPath, "_STORE_READY")) &&
        readMarker(f, new Path(tmp, "_STORE_READY")) == inputFp) {
      f.delete(rootPath, true)
      require(f.rename(tmp, rootPath), s"bm store tmp adoption failed: $root")
      return
    }
    f.delete(tmp, true)
    graft.ColdBuilds.record("bm_store_build")
    val tf = tfRows(baseDocs).transform(Materialize.once)
    tf.withColumn("tok_bucket", tokBucket(col("token")))
      .withColumn("batch_id", lit(-1L))
      .repartition(col("tok_bucket"))
      .sortWithinPartitions("token", "doc_id")
      .write.mode(SaveMode.Overwrite).partitionBy("tok_bucket", "batch_id")
      .parquet(new Path(tmp, "postings.parquet").toString)
    // df is a re-aggregation of tf rows (distinct (doc, token) pairs) —
    // no second corpus pass; bucketed like the postings so a frozen-stats
    // refresh over a huge vocabulary prunes the same way
    tf.groupBy("token").agg(count(lit(1)).as("df"))
      .withColumn("tok_bucket", tokBucket(col("token")))
      .repartition(col("tok_bucket"))
      .sortWithinPartitions("token")
      .write.mode(SaveMode.Overwrite).partitionBy("tok_bucket")
      .parquet(new Path(tmp, "df.parquet").toString)
    // doc-vector serving layout (VERDICT r13 #6): each document's
    // standing-agnostic token MULTISET as (doc_id, dl, ws=[token...])
    // rows — the FORWARD index the wide-flat-vocabulary serve plan
    // ([[servedDocVec]]) scans directly, replacing the per-serve
    // groupBy(doc_id) re-aggregation of postings (the r13 shape paid
    // that shuffle on EVERY serve call; a steady-state serve loop
    // rebuilt identical doc vectors every micro-batch). The multiset is
    // flattened HERE, once, at build time — serving applies the
    // percolation expression to the stored array with zero per-serve
    // reconstruction (the interpreted flatten/transform/array_repeat
    // chain measurably taxed every serve when run per call). Derived
    // from the same materialized tf frame — still one corpus pass — and
    // partitioned by batch_id so [[appendBatch]] grows it with the same
    // dynamic-overwrite idiom as the postings.
    docVecRows(tf)
      .withColumn("batch_id", lit(-1L))
      .sortWithinPartitions("doc_id")
      .write.mode(SaveMode.Overwrite).partitionBy("batch_id")
      .parquet(new Path(tmp, "docvec.parquet").toString)
    // meta derives from the MATERIALIZED tf frame (every doc has >= 1
    // token row — split never yields an empty array — so the distinct
    // (doc_id, dl) set covers the corpus exactly): a direct baseDocs
    // aggregate would re-scan and re-tokenize the full corpus text for
    // two scalars (self-review r12 — the build really is ONE corpus pass)
    tf.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(new Path(tmp, "meta.parquet").toString)
    Materialize.drop(tf)
    val ready = f.create(new Path(tmp, "_STORE_READY"))
    try ready.write(inputFp.getBytes("UTF-8")) finally ready.close()
    // Swap protocol (ADVICE r12): rename the old root ASIDE — not
    // delete-then-rename — so the no-store window is two renames, and a
    // crash anywhere leaves either a marked root or the marked tmp the
    // adoption path above replays into place on the next build.
    val old = new Path(root + ".old_tmp")
    f.delete(old, true)
    if (f.exists(rootPath))
      require(f.rename(rootPath, old), s"bm store old-root move failed: $root")
    require(f.rename(tmp, rootPath), s"bm store publish failed: $root")
    f.delete(old, true)
  }

  /** Grow a published store by one micro-batch of NEW documents: the
    * batch's postings land under their own `batch_id=<n>` dirs via
    * dynamic partition overwrite (replay rewrites exactly its own dirs).
    * df/meta are NOT touched — the frozen-statistics contract above.
    */
  private[graft] def appendBatch(s: SparkSession, root: String,
      docsBatch: DataFrame, batchId: Long): Unit = {
    val tf = tfRows(docsBatch).transform(Materialize.once)
    graft.sources.Writers.writeShards(
      tf.withColumn("tok_bucket", tokBucket(col("token")))
        .withColumn("batch_id", lit(batchId)),
      new Path(root, "postings.parquet").toString,
      partitionCols = Seq("tok_bucket", "batch_id"),
      sortCols = Seq("token", "doc_id"), mode = SaveMode.Overwrite,
      options = Map("partitionOverwriteMode" -> "dynamic"))
    // grow the doc-vector layout in lockstep (same exactly-once replay
    // contract: the batch rewrites exactly its own batch_id dir)
    graft.sources.Writers.writeShards(
      docVecRows(tf).withColumn("batch_id", lit(batchId)),
      new Path(root, "docvec.parquet").toString,
      partitionCols = Seq("batch_id"),
      sortCols = Seq("doc_id"), mode = SaveMode.Overwrite,
      options = Map("partitionOverwriteMode" -> "dynamic"))
    Materialize.drop(tf)
  }

  /** One frozen-stats collect per store root per JVM — refreshed by
    * [[deleteStore]] (a rebuilt store gets a new freeze; appends don't
    * change frozen statistics BY CONTRACT, so the cache stays valid
    * across growth).
    */
  private val frozenCache = new graft.JvmCache[String, FrozenIndexStats]

  /** (n_docs, sum_dl) per store root — frozen for the store's lifetime
    * by contract, so the one-row meta read happens once per JVM instead
    * of once per freeze.
    */
  private val metaCache = new graft.JvmCache[String, (Long, Long)]

  private[graft] def storeMeta(s: SparkSession, root: String): (Long, Long) =
    metaCache.getOrBuild(root, "bm_meta") {
      val m = Tables.parquet(s, new Path(root, "meta.parquet").toString).head()
      (m.getLong(0), m.getLong(1))
    }

  /** Materialize the standing-query statistics FROM the store: per-term
    * df from `df.parquet` (bucket-pruned lookup), scalars from
    * `meta.parquet`. The only documents access is the O(Q) IN-pushed
    * read of the 20 query docs' text (the AnnIndexIO
    * read-the-query-vectors idiom) — it happens HERE, at freeze time,
    * never in a serving plan. df values equal the batch
    * [[Retrieval.frozenStats]]'s by construction (both are distinct-doc
    * counts over the same tf definition) — spec-asserted.
    */
  private[graft] def frozenStats(s: SparkSession, root: String, d: String): FrozenIndexStats =
    frozenCache.getOrBuild(root, "bm_frozen_stats") {
      val qt = Tables.documents(s, d)
        .filter(Retrieval.isQueryDoc(col("doc_id")))
        .select(col("doc_id").as("query_id"),
          explode(split(col("text"), " ")).as("token"))
        .distinct()
      val dfT = Tables.parquet(s, new Path(root, "df.parquet").toString)
        .select("token", "df")
      val rows = qt.join(dfT, "token")
        .select("query_id", "token", "df").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val (nDocs, sumDl) = storeMeta(s, root)
      Retrieval.assembleFrozen(rows, nDocs, sumDl)
    }

  /** (query_id, doc_id, n_terms, sum_q) scored purely from the store:
    * the standing-query terms ride in as a broadcast LOCAL RELATION
    * (flattened from the frozen stats — no corpus side), the postings
    * scan is statically pruned to the union vocabulary's buckets, and
    * the scoring arithmetic reproduces [[Retrieval.bmScored]]'s
    * expression tree with the frozen scalars spliced as long literals
    * (long-literal division = the batch's long-column division, so
    * served sum_q is bit-identical to batch sum_q over the same
    * corpus+stats snapshot).
    */
  /** Candidate postings joined to the standing-query terms with the
    * exact per-(query, posting) quantized impact `q` — the shared
    * sub-plan under both serving strategies: the standing-query terms
    * ride in as a broadcast LOCAL RELATION (flattened from the frozen
    * stats — no corpus side), the postings scan is restricted to
    * `terms` (statically pruned to those terms' buckets), and the
    * scoring arithmetic reproduces [[Retrieval.bmScored]]'s expression
    * tree with the frozen scalars spliced as long literals
    * (long-literal division = the batch's long-column division, so
    * served sum_q is bit-identical to batch sum_q over the same
    * corpus+stats snapshot).
    */
  private def matchedPostings(s: SparkSession, root: String,
      frozen: FrozenIndexStats, queryTerms: DataFrame,
      terms: Seq[String]): DataFrame = {
    import s.implicits._
    // bucket literals for the static prune: one tiny job over the term
    // list (a local relation — no store or corpus access)
    val buckets = terms.toDF("token")
      .select(tokBucket(col("token")).as("b")).distinct()
      .as[Int].collect().sorted.toSeq
    Tables.parquet(s, new Path(root, "postings.parquet").toString)
      .filter(col("tok_bucket").isin(buckets: _*))
      .filter(col("token").isin(terms: _*))
      .join(broadcast(queryTerms), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .transform(withImpact(frozen))
  }

  /** The quantized per-posting impact `q` over (tf, dl, df) columns —
    * [[Retrieval.bmScored]]'s expression tree with the frozen scalars
    * spliced as long literals; one definition shared by every serving
    * sub-plan so the arithmetic cannot drift between them.
    */
  private def withImpact(frozen: FrozenIndexStats)(df: DataFrame): DataFrame =
    df.withColumn("idf",
        log(lit(1.0) + (lit(frozen.nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("tfw",
        col("tf") * lit(2.2) / (col("tf") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / (lit(frozen.sumDl) / lit(frozen.nDocs)))))
      .withColumn("q", round(col("idf") * col("tfw") * lit(1e6)).cast("long"))

  private def queryTermsDf(s: SparkSession, frozen: FrozenIndexStats): DataFrame = {
    import s.implicits._
    frozen.queries
      .flatMap(q => q.terms.map(t => (q.query_id, t.term, t.df)))
      .toDF("query_id", "token", "df")
  }

  /** (query_id, doc_id, n_terms, sum_q) scored purely from the store —
    * the exhaustive strategy: every posting in the union vocabulary's
    * buckets is scored and aggregated. Exact; the right plan for SHORT
    * queries, where candidate volume is small and the [[wandScored]]
    * machinery would cost more than the rows it prunes.
    */
  private[graft] def servedScored(s: SparkSession, root: String,
      frozen: FrozenIndexStats): DataFrame =
    matchedPostings(s, root, frozen, queryTermsDf(s, frozen), frozen.unionTerms)
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("int").as("n_terms"), sum("q").as("sum_q"))

  /** Per-term impact UPPER BOUND for the MaxScore/WAND pruning: the tf
    * weight tf·2.2/(tf + 1.2·(0.25 + 0.75·dl/avgdl)) is < 2.2 for every
    * posting (tf, dl ≥ 1), so round(idf·2.2·1e6)+1 bounds every
    * quantized per-posting impact `q` — for BASE and APPENDED postings
    * alike, with no stored per-token maximum to maintain (an appended
    * batch can exceed any build-time max; this bound is posting-
    * independent by construction, so incremental growth can never
    * invalidate a prune). The +1 absorbs cross-JVM ulp drift between
    * this driver-side ln and the executors' — the 2.2/tfw slack already
    * dwarfs it; round() is monotone, so the bound survives quantization.
    */
  private def termUb(nDocs: Long, df: Long): Long =
    math.round(math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5)) * 2.2 * 1e6) + 1

  /** Plan-select gate #1 (query width): queries with at most this many
    * terms serve via the exhaustive [[servedScored]] — candidate volume
    * is already small, and either wide-query strategy's extra stages
    * would dominate. Whole-document more-like-this queries sit past it.
    */
  private[graft] val WideQueryMinTerms = 16

  /** Plan-select gate #2 (measured prunability): WAND proceeds past its
    * θ probe only when the essential terms' postings volume — an upper
    * bound on candidate count, computable driver-side from the collected
    * θs and the frozen per-term df — is at most this fraction of the
    * full matched volume. A static skew heuristic is NOT sufficient: one
    * mildly rare token in an otherwise-flat vocabulary looks skewed but
    * prunes nothing (every doc still matches the query through the flat
    * mass), which only the θ-vs-cumulative-bound arithmetic can see. The
    * probe's cost is the top-P rare-term postings pass; its verdict is
    * cached per (store root × standing-query-set fingerprint) — r14,
    * ADVICE r13: θ and the essential sets depend on the QUERY SET (its
    * per-query terms and widths), not only corpus vocabulary shape, so
    * a root serving several different standing sets gets one measured
    * verdict each, while a steady-state serving stream (same frozen set
    * every batch) still pays the probe exactly once.
    */
  private[graft] val WandMaxEssRatio = 0.3

  /** wand-vs-docvec verdicts per (store root, standing-set fingerprint)
    * (see [[WandMaxEssRatio]]); cleared per root by [[deleteStore]]. A
    * caller that freezes a new standing set per call mints a new
    * fingerprint every time; the cache's bound evicts the least recently
    * used verdict, which costs at most one re-probe (bounded sample) or a
    * job-free precheck, never wrongness.
    */
  private val planCache = new graft.JvmCache[(String, String), String]

  /** Query-sample bound for the VERDICT probe: the essential-volume
    * ratio is a workload-SHAPE measurement (how prunable is this kind
    * of query against this corpus), not a per-query computation, so a
    * bounded deterministic sample measures it at bounded cost — a
    * whole-batch probe over a 100-wide-query serving batch costs
    * nearly a full serve on exactly the flat corpora that route to
    * docvec. When WAND wins, the full wandScored recomputes θs for
    * every query anyway (the probe is part of that plan), so sampling
    * loses nothing there either.
    */
  private[graft] val ProbeSampleQueries = 16

  /** θ-probe executions in this JVM — the spec seam proving a mixed
    * serve call probes once per wide class, a repeat serve probes zero
    * times, and a flat vocabulary verdicts without probing.
    */
  private[graft] val wandProbeCount =
    new java.util.concurrent.atomic.AtomicLong

  /** Deterministic fingerprint of a frozen standing-query set: ids +
    * per-query sorted terms (df rides with the root, so it adds nothing).
    */
  private[graft] def queryFingerprint(frozen: FrozenIndexStats): String =
    Datasets.md5hex(frozen.queries.map(q =>
      s"${q.query_id}:${q.terms.map(_.term).mkString(",")}").mkString("\n"))

  /** The subset of `frozen` covering `qids` only, with the union
    * vocabulary and term positions re-derived (the percolation index and
    * bucket prunes of a width-class sub-plan then see only that class's
    * vocabulary).
    */
  private def subsetFrozen(frozen: FrozenIndexStats,
      qids: Set[Long]): FrozenIndexStats =
    Retrieval.assembleFrozen(
      frozen.queries.filter(q => qids(q.query_id))
        .flatMap(q => q.terms.map(t => (q.query_id, t.term, t.df))).toArray,
      frozen.nDocs, frozen.sumDl)

  /** Terms per query in the threshold-estimation pass: the top-P terms
    * by impact bound. P=8 keeps the pass rare-postings-sized while the
    * partial scores it yields are close enough to final scores for a
    * tight θ (near-dup candidates share the query's rarest terms).
    */
  private[graft] val WandPhase1Terms = 8

  /** The non-essential-prefix computation shared by the measured probe
    * and the driver-side bound: per query, terms sorted by ascending
    * impact bound drop while the cumulative bound stays ≤ θ−1 (a doc
    * matching only dropped terms scores < θ, so it cannot enter the
    * top-k — see [[wandScored]] step 2); the rest are essential, as
    * (query_id, term, df) triples.
    */
  private def essentialPairs(frozen: FrozenIndexStats,
      ubOf: Map[(Long, String), Long],
      thetaOf: Long => Long): Seq[(Long, String, Long)] =
    frozen.queries.flatMap { q =>
      val th = thetaOf(q.query_id)
      var cum = 0L
      q.terms.map(t => (t.term, ubOf((q.query_id, t.term)), t.df))
        .sortBy { case (term, ub, _) => (ub, term) }
        .flatMap { case (term, ub, df) =>
          cum += ub
          if (cum > th - 1) Some((q.query_id, term, df)) else None
        }
    }

  private def essentialRatio(frozen: FrozenIndexStats,
      essPairs: Seq[(Long, String, Long)]): Double = {
    val fullVol = frozen.queries.flatMap(_.terms.map(_.df)).map(BigDecimal(_)).sum
    val essVol = essPairs.map(_._3).map(BigDecimal(_)).sum
    if (fullVol == 0) 1.0 else (essVol / fullVol).toDouble
  }

  /** Driver-side LOWER BOUND on the essential-volume ratio — the
    * job-free verdict pre-check. θ_ub(q) = Σ of the query's top-
    * [[WandPhase1Terms]] term bounds is ≥ any document's phase-1
    * partial score, hence ≥ the measured θ (a k-th order statistic of
    * those scores); a larger θ drops a longer non-essential prefix, so
    * the θ_ub-essential set is the SMALLEST any real θ could produce
    * and its volume ratio bounds the measured ratio from below. When
    * even this optimistic bound exceeds [[WandMaxEssRatio]], no θ probe
    * can route the class to WAND — the verdict is docvec at the cost of
    * driver arithmetic over the already-resident frozen stats. This is
    * exactly the flat-vocabulary case, where the probe job would have
    * cost nearly a full serve (every term's postings are corpus-sized);
    * on prunable (skewed) vocabularies the bound passes and the real
    * probe runs against rare-term postings — cheap there by the same
    * skew.
    */
  private[graft] def minEssentialRatio(frozen: FrozenIndexStats): Double = {
    val ubOf: Map[(Long, String), Long] = frozen.queries.flatMap(q =>
      q.terms.map(t => (q.query_id, t.term) -> termUb(frozen.nDocs, t.df))).toMap
    val thetaUb: Map[Long, Long] = frozen.queries.map { q =>
      q.query_id -> q.terms.map(t => ubOf((q.query_id, t.term)))
        .sorted(Ordering[Long].reverse).take(WandPhase1Terms).sum
    }.toMap
    essentialRatio(frozen,
      essentialPairs(frozen, ubOf, thetaUb.getOrElse(_, 0L)))
  }

  /** MaxScore-pruned exact scoring (the WAND family, adapted to a batch
    * dataflow engine; Turtle & Flood 1995's MaxScore, Broder et al.
    * 2003's WAND): LOSSLESS top-k short-circuiting — the output top-k is
    * bit-identical to [[servedScored]]'s (one oracle covers both plans,
    * the Jaccard auto-select discipline).
    *
    * Three cooperating sub-plans over the pruned postings store, one DAG,
    * no driver collect:
    *
    *   1. θ (threshold) pass: score ONLY each query's top-[[WandPhase1Terms]]
    *      terms by impact bound — rare, high-idf terms, so this touches
    *      few postings — and take each query's k-th best PARTIAL score.
    *      Partial ≤ final per doc, so the k-th partial order statistic
    *      lower-bounds the k-th FINAL score (monotone coupling).
    *   2. Essential terms: sort each query's terms by ascending bound;
    *      the maximal prefix whose cumulative bound sum ≤ θ−1 is
    *      NON-ESSENTIAL — a doc matching only prefix terms scores at
    *      most θ−1 < θ ≤ k-th final score, and scores are integer longs,
    *      so it cannot enter the top-k even on ties (the −1 closes the
    *      tie-break seam). Every top-k doc therefore matches ≥1
    *      essential term. The highest-bound term always survives
    *      (its cumulative sum ≥ any final score ≥ θ), so the essential
    *      set is never empty.
    *   3. Candidates = distinct (query, doc) pairs from ESSENTIAL-term
    *      postings; the final aggregation semi-joins the full matched
    *      stream against them — on a skewed real vocabulary the docs
    *      that match only common (non-essential) terms are the Σ df·Q
    *      bulk of the matched volume, and they now never reach the
    *      shuffle.
    *
    * A query with fewer than k phase-1 docs gets θ=0 (no pruning —
    * correct, just not accelerated). Incremental stores prune safely:
    * [[termUb]] bounds appended postings too.
    */
  private[graft] def wandScored(s: SparkSession, root: String,
      frozen: FrozenIndexStats, k: Int): DataFrame =
    wandScoredWithRatio(s, root, frozen, k)._1

  /** [[wandScored]] plus the measured essential-volume ratio
    * Σ_{essential (q,t)} df(t) / Σ_{all (q,t)} df(t) — the adaptive
    * plan-select signal (an upper bound on the fraction of the full
    * matched volume the final aggregation will see). The θ probe is a
    * real (small) Spark job — top-P rare-term postings scored, one
    * O(Q)-row collect — so the ratio reflects the ACTUAL corpus, not a
    * static skew heuristic: one mildly rare token in an otherwise-flat
    * vocabulary looks skewed but prunes nothing, which only the
    * θ-vs-cumulative-bound arithmetic can see.
    */
  private[graft] def wandScoredWithRatio(s: SparkSession, root: String,
      frozen: FrozenIndexStats, k: Int): (DataFrame, Double) = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val ubOf: Map[(Long, String), Long] = frozen.queries.flatMap(q =>
      q.terms.map(t => (q.query_id, t.term) -> termUb(frozen.nDocs, t.df))).toMap
    // phase-1 term set: top-P per query by (bound desc, term) — selected
    // driver-side from the already-resident frozen stats
    val p1Pairs = frozen.queries.flatMap { q =>
      q.terms.sortBy(t => (-ubOf((q.query_id, t.term)), t.term))
        .take(WandPhase1Terms).map(t => (q.query_id, t.term, t.df))
    }
    val p1Terms = p1Pairs.map(_._2).distinct.sorted
    val wTheta = Window.partitionBy(col("query_id"))
      .orderBy(col("ps").desc, col("doc_id"))
    val theta: Map[Long, Long] = matchedPostings(s, root, frozen,
        p1Pairs.toDF("query_id", "token", "df"), p1Terms)
      .groupBy("query_id", "doc_id").agg(sum("q").as("ps"))
      .withColumn("rk", row_number().over(wTheta))
      .filter(col("rk") === k)
      .select(col("query_id"), col("ps"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // essential terms per query, driver-side: ascending-bound prefix
    // sums vs θ−1 over the already-resident frozen stats (θ=0 for a
    // query with < k phase-1 docs — no pruning there, still exact)
    val essPairs = essentialPairs(frozen, ubOf, theta.getOrElse(_, 0L))
    val ratio = essentialRatio(frozen, essPairs)
    // Candidates from ESSENTIAL postings ONLY — this join's fan-out is
    // the essential volume the ratio measures, by construction. (A first
    // cut semi-joined the FULL matched stream against candidates, which
    // still paid the Σ df·Q stopword fan-out before filtering — the
    // measured skew bench showed it costing MORE cpu than exhaustive.
    // Pruning must happen at the join, not after it.)
    val essTerms = essPairs.map(_._2).distinct.sorted
    import s.implicits._
    val cands = matchedPostings(s, root, frozen,
        essPairs.toDF("query_id", "token", "df"), essTerms)
      .select("query_id", "doc_id").distinct()
    // Final scoring drives the postings scan THROUGH the candidates:
    // join on doc_id first (fan-out = candidate docs × their standing-
    // vocabulary postings), then keep each candidate query's own terms
    // via the qdf membership join. For a candidate pair the kept rows
    // are exactly the exhaustive plan's matched rows, so the aggregate
    // is identical. The candidate frame is broadcast when the measured
    // essential volume bounds it small (driver-resident decision).
    val essVol = essPairs.map(_._3).map(BigDecimal(_)).sum
    val candsSide =
      if (essVol <= BigDecimal(WandCandBroadcastRows)) broadcast(cands)
      else cands
    val buckets = frozen.unionTerms.toDF("token")
      .select(tokBucket(col("token")).as("b")).distinct()
      .as[Int].collect().sorted.toSeq
    val out = Tables.parquet(s, new Path(root, "postings.parquet").toString)
      .filter(col("tok_bucket").isin(buckets: _*))
      .filter(col("token").isin(frozen.unionTerms: _*))
      .join(candsSide, "doc_id")
      .join(broadcast(queryTermsDf(s, frozen)), Seq("query_id", "token"))
      .filter(col("doc_id") =!= col("query_id"))
      .transform(withImpact(frozen))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("int").as("n_terms"), sum("q").as("sum_q"))
    (out, ratio)
  }

  /** Candidate-pair broadcast bound for the WAND final join: the
    * essential postings volume (an upper bound on candidate pairs) must
    * sit under this to ride a broadcast; past it the candidates join as
    * a shuffle side — still candidate-sized, never fan-out-sized.
    */
  private[graft] val WandCandBroadcastRows = 2000000L

  /** Doc-vector serving via the percolation index — the wide-query plan
    * for LOW-SKEW vocabularies, where every document genuinely matches
    * every query and no pruning strategy can reduce candidate count. The
    * exhaustive join's cost there is the materialized (posting × query)
    * fan-out: Σ_t df(t)·|queries∋t| join rows through a shuffle. This
    * plan scans the store's PERSISTED forward index (`docvec.parquet`,
    * built once beside the postings — r14; the r13 shape re-aggregated
    * postings by doc_id through a shuffle on EVERY serve call) and
    * scores all standing queries per doc in one
    * [[graft.functions.PercolateHitsDl]] pass — the TERM→QUERIES
    * inverted walk measured 47× over the explode-every-query form.
    * ZERO shuffles: scan → expression → explode. The stored
    * `dl` rides in explicitly, and the expression skips tokens outside
    * the standing vocabulary in O(1) per token (hash-index miss), so the
    * standing-agnostic layout costs Σ dl index probes, not a shuffle.
    * Still no documents scan.
    */
  private[graft] def servedDocVec(s: SparkSession, root: String,
      frozen: FrozenIndexStats): DataFrame = {
    val (terms, termDf, termQueries) = Retrieval.invertedIndex(frozen)
    val fn = graft.functions.GraftFunctions.registerPercolateHitsDl(
      s, frozen.nDocs, frozen.sumDl, terms, termDf, termQueries)
    Tables.parquet(s, new Path(root, "docvec.parquet").toString)
      .withColumn("p", explode(expr(s"$fn(ws, dl)")))
      .filter(col("doc_id") =!= col("p.query_id"))
      .select(col("p.query_id").as("query_id"), col("doc_id"),
        col("p.n").as("n_terms"), col("p.s").as("sum_q"))
  }

  /** The wide-class verdict ("wand" | "docvec") for a standing set,
    * plus — when WAND wins and the probe's plan covered the whole set —
    * the probe DataFrame, reusable as the serve plan so a cold verdict
    * never costs a second plan build. Resolution order, cheapest first:
    * (1) cached verdict per (root, class fingerprint); (2) the job-free
    * [[minEssentialRatio]] bound — a vocabulary that cannot prune below
    * the gate even under an optimistic θ verdicts docvec with zero
    * Spark work; (3) the measured θ probe over a bounded query sample.
    */
  private def wideVerdictPlan(s: SparkSession, root: String,
      frozen: FrozenIndexStats, k: Int): (String, Option[DataFrame]) = {
    val key = (root, queryFingerprint(frozen))
    planCache.get(key) match {
      case Some(v) => (v, None)
      case None =>
        val probeFrozen =
          if (frozen.queries.size <= ProbeSampleQueries) frozen
          else subsetFrozen(frozen,
            frozen.queries.take(ProbeSampleQueries).map(_.query_id).toSet)
        if (minEssentialRatio(probeFrozen) > WandMaxEssRatio) {
          planCache.put(key, "docvec")
          ("docvec", None)
        } else {
          wandProbeCount.incrementAndGet()
          val (wandProbe, ratio) = wandScoredWithRatio(s, root, probeFrozen, k)
          val verdict = if (ratio <= WandMaxEssRatio) "wand" else "docvec"
          planCache.put(key, verdict)
          (verdict,
            if (verdict == "wand" && (probeFrozen eq frozen)) Some(wandProbe)
            else None)
        }
    }
  }

  /** Served candidates ranked per query to depth k — the serving twin of
    * Retrieval's bmRanked (same salted two-stage top-k, same total
    * order), shared with the hybrid fusion. Strategy auto-selects PER
    * QUERY-WIDTH CLASS (r14 — VERDICT r13 #4: one mixed batch of short
    * and wide queries previously got a single whole-batch verdict; now
    * the wide class gets its own verdict in the same serve call). When
    * the wide class routes to WAND, the short class takes exhaustive
    * scoring and the two exact sub-plans union before the shared top-k;
    * when it routes to docvec, the WHOLE batch — short class included —
    * rides the one forward-index pass, which scores every standing
    * query at zero marginal cost per query. Every plan is exact
    * — the Jaccard-family auto-select discipline — so the routing is
    * invisible to the oracle. The wide verdict caches per (root,
    * standing-set fingerprint): a repeat serve of one standing set pays
    * the probe once, while a DIFFERENT standing set against the same
    * root re-probes (ADVICE r13).
    */
  private[graft] def servedRanked(s: SparkSession, root: String,
      frozen: FrozenIndexStats, k: Int): DataFrame = {
    val (wide, short) =
      frozen.queries.partition(_.terms.size > WideQueryMinTerms)
    val (scored, armLabel) =
      if (wide.isEmpty) (servedScored(s, root, frozen), "exhaustive")
      else {
        val wideFrozen =
          if (short.isEmpty) frozen
          else subsetFrozen(frozen, wide.map(_.query_id).toSet)
        wideVerdictPlan(s, root, wideFrozen, k) match {
          // docvec scores every standing query in the SAME single
          // forward-index pass (exact at any width), so a mixed
          // batch's short class rides along at zero marginal cost —
          // a separate exhaustive sub-plan + union would only add a
          // second postings job per batch (measured 2× serve cpu on
          // the whole-document serving row)
          case ("docvec", _) => (servedDocVec(s, root, frozen), "docvec")
          case (_, reused) =>
            val widePlan = reused.getOrElse(wandScored(s, root, wideFrozen, k))
            (if (short.isEmpty) widePlan
             else servedScored(s, root,
                 subsetFrozen(frozen, short.map(_.query_id).toSet))
               .unionByName(widePlan),
              "wand")
        }
      }
    // counter-tripwire seam (graft.PlanVolume, VERDICT r14 #9): under
    // -Dgraft.bm.probe=volume the EXECUTED arm reports its scored-row
    // volume, so a spec can assert the verdict boundary's arms differ
    // observably (a silently inverted verdict survives output-equality
    // and wall-clock checks; it cannot survive a volume counter).
    if (sys.props.get("graft.bm.probe").contains("volume"))
      graft.PlanVolume.record("bm.serve", armLabel, scored.count())
    rankTopK(scored, k)
  }

  /** Scored (query_id, doc_id, n_terms, sum_q) pairs ranked per query to
    * depth k by `sum_q` desc, then `doc_id` — the one ranking every
    * serve plan shares.
    */
  private[graft] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    Similarity.twoStageTopKBy(scored, k,
      col("query_id"), xxhash64(col("doc_id")),
      Seq(col("sum_q").desc, col("doc_id")))

  /** Ranked results in the text_bm25_topk display shape (integer-space
    * HALF_UP score).
    */
  private[graft] def serveDisplay(s: SparkSession, root: String,
      frozen: FrozenIndexStats, k: Int): DataFrame =
    servedRanked(s, root, frozen, k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("n_terms"),
        (expr("(sum_q + 50) div 100") / lit(1e4)).as("score"))

  private def serveTopK(s: SparkSession, root: String, d: String): DataFrame =
    serveDisplay(s, root, frozenStats(s, root, d), Retrieval.BmTopK)

  /** Build the full-corpus store once per dataset dir (crash-safe). */
  private[graft] def ensureFullBuilt(s: SparkSession, d: String): String =
    synchronized {
      val root = storeRoot(s, d, "full")
      if (!fs(s, new Path(root)).exists(new Path(root, "_STORE_READY")))
        buildFrom(s, root, Tables.documents(s, d))
      root
    }

  /** Base store over `doc_id % 10 <> 0` (the SigStore split) + the delta
    * appended as one batch with statistics frozen at the base build —
    * marker-guarded so a replay is a no-op.
    */
  private[graft] def ensureIncrBuilt(s: SparkSession, d: String): String =
    synchronized {
      val root = storeRoot(s, d, "incr")
      val f = fs(s, new Path(root))
      if (!f.exists(new Path(root, "_STORE_READY")))
        buildFrom(s, root,
          Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0))
      val marker = new Path(root, "_DELTA_APPENDED")
      if (!f.exists(marker)) {
        appendBatch(s, root,
          Tables.documents(s, d).filter(col("doc_id") % 10 === 0), 0L)
        f.create(marker).close()
      }
      root
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // text_bm25_topk served from the durable postings store: first call
    // pays the one-time build pass; the serve itself reads postings only.
    // Output — and therefore the oracle — is identical to the in-memory
    // text_bm25_topk.
    "text_bm25_served_topk" -> ((s, d) =>
      serveTopK(s, ensureFullBuilt(s, d), d)),
    // base-built store + appended delta served under FROZEN df/avgdl/N:
    // the ranking a real deployment serves between index rebuilds. The
    // oracle mirrors the staleness contract exactly (full postings,
    // base-only statistics).
    "text_bm25_incremental" -> ((s, d) =>
      serveTopK(s, ensureIncrBuilt(s, d), d)),
    // Hybrid RRF served FROM INDEXES — both fusion legs read persisted
    // structures: BM25 ranks from this postings store, cosine ranks from
    // the IVF×PQ code table (AnnIndexIO.serveVectors, nprobe=2 partition-
    // pruned ADC). This replaces `ann_hybrid_rrf`'s O(Q·n) brute-force
    // cosine scan in the headline baskets (VERDICT r11 "what's wrong" #1);
    // the brute-force fusion stays registered as the exact oracle twin.
    // PQ ranks are approximate-but-deterministic, so the fused output is
    // still hash-checked — the oracle composes the served CTEs (frozen
    // centroids/codebooks arithmetic) exactly as ann_ivfpq_served_topk's
    // does. The only corpus-table access is the O(Q) IN-pushed read of
    // the 20 query embeddings at serve setup.
    "ann_hybrid_served_rrf" -> ((s, d) => {
      import Retrieval.{FuseDepth, RrfK, RrfTopK}
      val bmRoot = ensureFullBuilt(s, d)
      val bmr = servedRanked(s, bmRoot, frozenStats(s, bmRoot, d), FuseDepth)
        .select(col("query_id"), col("doc_id"), col("rank").as("r_bm"))
      val annRoot = AnnIndexIO.ensureFullBuilt(s, d)
      val qs = queryEmbs(s, d)
      val cr = AnnIndexIO.serveVectors(s, annRoot, qs, FuseDepth)
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("rank").as("r_cos"))
      val fused = bmr.join(cr, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(RrfK) + col("r_bm")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("r_cos")), lit(0.0)), 6))
        .withColumn("r_bm", coalesce(col("r_bm"), lit(0)).cast("int"))
        .withColumn("r_cos", coalesce(col("r_cos"), lit(0)).cast("int"))
      Similarity.twoStageTopKBy(fused, RrfTopK, col("query_id"),
          xxhash64(col("doc_id")), Seq(col("rrf").desc, col("doc_id")))
        .select("query_id", "rank", "doc_id", "r_bm", "r_cos", "rrf")
    }),
    // Quality accounting for the index-served fusion: per-query overlap@10
    // between the exact fusion (brute-force cosine leg) and the served
    // fusion (PQ-approximate leg) — the number that tells an operator how
    // much ranking quality the PQ compression trades for the index-served
    // plan, the ann_recall idiom applied to fusion. Both inputs are
    // deterministic and individually hash-matched, so the grader itself
    // stays oracle-checked.
    "ann_hybrid_agreement" -> ((s, d) => {
      val exact = Retrieval.queries("ann_hybrid_rrf")(s, d)
        .select("query_id", "doc_id")
      val served = queries("ann_hybrid_served_rrf")(s, d)
        .select(col("query_id"), col("doc_id")).withColumn("m", lit(1L))
      exact.join(served, Seq("query_id", "doc_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("m"), lit(0L))).as("hits"))
        // hits/10 is exact at one decimal — no rounding seam
        .withColumn("overlap_at_10", round(col("hits") / lit(10.0), 2))
        .select("query_id", "hits", "overlap_at_10")
    }),
    // Served fusion with an EXACT RE-RANK stage (VERDICT r12 #5): the
    // agreement grader reports the PQ-compressed cosine leg costs ~half
    // the fused list (overlap@10 ≈ 0.49). Standard retrieval fix: pull
    // served ANN candidates DEEPER ([[RerankDepth]], wider probe
    // [[RerankNprobe]], same partition-pruned ADC plan), then
    // exact-rescore ONLY those candidates from an IN-pushed embeddings
    // read — O(Q·RerankDepth) rows at any corpus size, never a corpus
    // scan — and fuse BM25 ranks with the exact-cosine re-rank.
    // Deterministic end to end (quantized BM25 longs, 4-decimal cosine,
    // id tie-breaks), so still hash-green. Measured: overlap@10 0.49 →
    // 0.83 at sf0.01; the residual is candidate-generation recall on the
    // fixture's deliberately clusterless embeddings (see RerankNprobe),
    // not PQ ranking noise — within the candidate set the rescore is
    // exact by construction.
    "ann_hybrid_served_rerank" -> ((s, d) => {
      import Retrieval.{FuseDepth, RrfK, RrfTopK}
      import s.implicits._
      val bmRoot = ensureFullBuilt(s, d)
      val bmr = servedRanked(s, bmRoot, frozenStats(s, bmRoot, d), FuseDepth)
        .select(col("query_id"), col("doc_id"), col("rank").as("r_bm"))
      val annRoot = AnnIndexIO.ensureFullBuilt(s, d)
      val qs = queryEmbs(s, d)
      val deep = AnnIndexIO.serveVectors(s, annRoot, qs, RerankDepth,
          nprobe = RerankNprobe)
        .select(col("query_id"), col("vec_id"))
      // O(Q·RerankDepth) candidate ids — bounded by the serve depth, not
      // the corpus — drive the IN-pushed exact-embedding read
      val candIds = deep.select("vec_id").distinct().as[Long].collect().sorted
      val qdf = qs.toDF("query_id", "qe")
      val rescored = Similarity.withEmb(s, d)
        .filter(col("vec_id").isin(candIds: _*))
        .join(broadcast(deep), "vec_id")
        .join(broadcast(qdf), "query_id")
        .withColumn("cosine", round(expr("dot_double(qe, emb)") /
          (sqrt(expr("dot_double(qe, qe)")) * sqrt(expr("dot_double(emb, emb)"))), 4))
      val cr = Similarity.twoStageTopKBy(rescored, FuseDepth,
          col("query_id"), xxhash64(col("vec_id")),
          Seq(col("cosine").desc, col("vec_id")))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("rank").as("r_cos"))
      val fused = bmr.join(cr, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(RrfK) + col("r_bm")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("r_cos")), lit(0.0)), 6))
        .withColumn("r_bm", coalesce(col("r_bm"), lit(0)).cast("int"))
        .withColumn("r_cos", coalesce(col("r_cos"), lit(0)).cast("int"))
      Similarity.twoStageTopKBy(fused, RrfTopK, col("query_id"),
          xxhash64(col("doc_id")), Seq(col("rrf").desc, col("doc_id")))
        .select("query_id", "rank", "doc_id", "r_bm", "r_cos", "rrf")
    }),
    // The agreement grader over the RE-RANKED fusion (same overlap@10
    // shape as ann_hybrid_agreement): how much of the exact fusion the
    // re-rank recovers — the number that justifies the extra
    // O(Q·RerankDepth) exact reads. Residual misses are IVF recall
    // misses at depth 80, not PQ ranking noise.
    "ann_hybrid_rerank_agreement" -> ((s, d) => {
      val exact = Retrieval.queries("ann_hybrid_rrf")(s, d)
        .select("query_id", "doc_id")
      val reranked = queries("ann_hybrid_served_rerank")(s, d)
        .select(col("query_id"), col("doc_id")).withColumn("m", lit(1L))
      exact.join(reranked, Seq("query_id", "doc_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("m"), lit(0L))).as("hits"))
        .withColumn("overlap_at_10", round(col("hits") / lit(10.0), 2))
        .select("query_id", "hits", "overlap_at_10")
    })
  )

  /** The standing query documents' embeddings (vec_id ∈
    * [[Retrieval.QueryDocIds]]), collected once per dataset content
    * version per JVM (r21): both hybrid serve paths previously re-read
    * and re-collected the same O(Q) vectors on EVERY serve — a scan +
    * collect barrier per query. Same frozen-model discipline as the
    * standing-query vocabulary and the trained-centroid caches:
    * content-keyed (an in-place rewrite refreshes), cold-build
    * attributed, O(Q × dims) driver memory.
    */
  private val queryEmbCache = new graft.JvmCache[String, Seq[(Long, Array[Double])]]

  private def queryEmbs(s: SparkSession, d: String): Seq[(Long, Array[Double])] =
    queryEmbCache.getOrBuild(Datasets.key(s, d, "embeddings"), "hybrid_query_embs") {
      Similarity.withEmb(s, d)
        .filter(Retrieval.isQueryDoc(col("vec_id")))
        .select("vec_id", "emb").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    }

  /** ANN candidate depth feeding the exact re-rank: 8× the fusion depth.
    * The retrieve-deep/re-rank-shallow ratio is deliberately generous
    * because on weakly-separated embeddings PQ noise scatters true
    * top-20 docs far down the APPROX ordering — measured on the fixture,
    * depth 80 → 160 lifted fused agreement 0.72 → 0.80 at fixed probe
    * width. At 100 TB this stays O(Q·depth) driver/exact-read volume.
    */
  private[graft] val RerankDepth: Int = 8 * Retrieval.FuseDepth

  /** Probe width for the re-rank retrieve (vs the serving default 2 of
    * 8 cells): candidate-generation recall bounds the re-rank ceiling,
    * and on CLUSTERLESS embeddings IVF recall is ≈ nprobe/cells — the
    * fixture's embeddings are deliberately unclustered (the honest-recall
    * accounting behind ann_recall), so this knob, not PQ fidelity, sets
    * the agreement ceiling: measured 0.72 (nprobe 4) → 0.84 (nprobe 6)
    * at sf0.001. On genuinely clustered production embeddings a SMALL
    * nprobe/cells fraction reaches high recall and this constant would
    * stay at the serving default; probing 6 of 8 cells still prunes a
    * quarter of the code table and keeps the plan partition-pruned.
    */
  private[graft] val RerankNprobe: Int = 6

  // BM25 leg = the full-stats bm CTEs ranked to FuseDepth; cosine leg =
  // the IVF×PQ served CTEs over the Retrieval query basket (nested WITH
  // scoping, the ann_recall composition idiom); fusion identical to
  // ann_hybrid_rrf's. A lazy val so the agreement oracle can compose it
  // without re-entering the oracleSql map builder.
  private lazy val hybridServedSql: String =
      s"""WITH ${Retrieval.bmCtesFor(statsBaseOnly = false)}
         |${Retrieval.bmScoreCtes},
         |bmr AS (SELECT query_id, doc_id, rank r_bm FROM (
         |          SELECT *, CAST(row_number() OVER (
         |            PARTITION BY query_id ORDER BY sum_q DESC, doc_id) AS INT) rank
         |          FROM bm) WHERE rank <= ${Retrieval.FuseDepth}),
         |cr AS (SELECT query_id, vec_id doc_id, rank r_cos FROM (
         |${Similarity.ivfpqOracleFor(Retrieval.queryIdsSql, Retrieval.FuseDepth)}
         |)),
         |f AS (SELECT coalesce(b.query_id, c.query_id) query_id,
         |        coalesce(b.doc_id, c.doc_id) doc_id,
         |        CAST(coalesce(b.r_bm, 0) AS INT) r_bm,
         |        CAST(coalesce(c.r_cos, 0) AS INT) r_cos,
         |        round(coalesce(1.0::DOUBLE / (${Retrieval.RrfK} + b.r_bm), 0.0::DOUBLE) +
         |              coalesce(1.0::DOUBLE / (${Retrieval.RrfK} + c.r_cos), 0.0::DOUBLE), 6) rrf
         |      FROM bmr b FULL OUTER JOIN cr c
         |        ON b.query_id = c.query_id AND b.doc_id = c.doc_id)
         |SELECT query_id, rank, doc_id, r_bm, r_cos, rrf FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) rank
         |  FROM f) WHERE rank <= ${Retrieval.RrfTopK}""".stripMargin

  /** Re-ranked served fusion oracle: the BM25 leg is the full-stats bm
    * CTEs ranked to FuseDepth (the BM25 leg is exact either way); the
    * cosine leg pulls the IVF×PQ served candidates to [[RerankDepth]]
    * (nested served CTEs, frozen centroids/codebooks arithmetic) and
    * EXACT-rescores only those rows against the embeddings table —
    * mirroring the Spark plan's IN-pushed candidate read. Fusion tail
    * identical to ann_hybrid_rrf's.
    */
  private lazy val hybridRerankSql: String =
      s"""WITH ${Retrieval.bmCtesFor(statsBaseOnly = false)}
         |${Retrieval.bmScoreCtes},
         |bmr AS (SELECT query_id, doc_id, rank r_bm FROM (
         |          SELECT *, CAST(row_number() OVER (
         |            PARTITION BY query_id ORDER BY sum_q DESC, doc_id) AS INT) rank
         |          FROM bm) WHERE rank <= ${Retrieval.FuseDepth}),
         |cd AS (SELECT query_id, vec_id FROM (
         |${Similarity.ivfpqOracleFor(Retrieval.queryIdsSql, RerankDepth, nprobe = RerankNprobe)}
         |)),
         |${Similarity.embCte},
         |rs AS (SELECT cd.query_id, cd.vec_id doc_id,
         |         round(list_dot_product(q.emb, c.emb) /
         |           (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 4) cosine
         |       FROM cd JOIN e q ON q.vec_id = cd.query_id
         |               JOIN e c ON c.vec_id = cd.vec_id),
         |cr AS (SELECT query_id, doc_id, rank r_cos FROM (
         |         SELECT *, CAST(row_number() OVER (
         |           PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS INT) rank
         |         FROM rs) WHERE rank <= ${Retrieval.FuseDepth}),
         |f AS (SELECT coalesce(b.query_id, c.query_id) query_id,
         |        coalesce(b.doc_id, c.doc_id) doc_id,
         |        CAST(coalesce(b.r_bm, 0) AS INT) r_bm,
         |        CAST(coalesce(c.r_cos, 0) AS INT) r_cos,
         |        round(coalesce(1.0::DOUBLE / (${Retrieval.RrfK} + b.r_bm), 0.0::DOUBLE) +
         |              coalesce(1.0::DOUBLE / (${Retrieval.RrfK} + c.r_cos), 0.0::DOUBLE), 6) rrf
         |      FROM bmr b FULL OUTER JOIN cr c
         |        ON b.query_id = c.query_id AND b.doc_id = c.doc_id)
         |SELECT query_id, rank, doc_id, r_bm, r_cos, rrf FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) rank
         |  FROM f) WHERE rank <= ${Retrieval.RrfTopK}""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "text_bm25_served_topk" -> Retrieval.oracleSql("text_bm25_topk"),
    "text_bm25_incremental" ->
      s"""WITH ${Retrieval.bmCtesFor(statsBaseOnly = true)}
         |${Retrieval.bmScoreCtes}
         |${Retrieval.bmTopKSelect}""".stripMargin,
    "ann_hybrid_served_rrf" -> hybridServedSql,
    // composes the two (individually hash-matched) fusion oracles as
    // nested CTE subqueries — the annRecallSql idiom
    "ann_hybrid_agreement" ->
      s"""WITH ex AS (${Retrieval.oracleSql("ann_hybrid_rrf")}),
         |sv AS (SELECT query_id, doc_id FROM (
         |$hybridServedSql
         |))
         |SELECT ex.query_id, sum(CASE WHEN sv.doc_id IS NULL THEN 0 ELSE 1 END)::BIGINT hits,
         |  round(sum(CASE WHEN sv.doc_id IS NULL THEN 0 ELSE 1 END) / 10.0, 2) overlap_at_10
         |FROM ex LEFT JOIN sv ON sv.query_id = ex.query_id AND sv.doc_id = ex.doc_id
         |GROUP BY ex.query_id""".stripMargin,
    "ann_hybrid_served_rerank" -> hybridRerankSql,
    "ann_hybrid_rerank_agreement" ->
      s"""WITH ex AS (${Retrieval.oracleSql("ann_hybrid_rrf")}),
         |sv AS (SELECT query_id, doc_id FROM (
         |$hybridRerankSql
         |))
         |SELECT ex.query_id, sum(CASE WHEN sv.doc_id IS NULL THEN 0 ELSE 1 END)::BIGINT hits,
         |  round(sum(CASE WHEN sv.doc_id IS NULL THEN 0 ELSE 1 END) / 10.0, 2) overlap_at_10
         |FROM ex LEFT JOIN sv ON sv.query_id = ex.query_id AND sv.doc_id = ex.doc_id
         |GROUP BY ex.query_id""".stripMargin
  )
}
