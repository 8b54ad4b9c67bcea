package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Datasets, Tables}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors, FIXTURES.md §B).
  *
  * Two paths, same output shape (query_id, rank, vec_id, cosine):
  *
  *  - `ann_bruteforce_topk` — exact top-k: the (small, fixed) query set is
  *    broadcast against the corpus scan; cosine in double precision via
  *    zip_with/aggregate; per-query row_number. At 100 TB the corpus side
  *    stays a single pass with no shuffle until the per-query top-k
  *    aggregation (k rows per query).
  *
  *  - `ann_lsh_topk` — the scale path: 16 random-hyperplane sign bits →
  *    4 bands × 4 bits; query and corpus vectors join on (band, 4-bit
  *    value) so the candidate set is bucket-sized, then exact cosine
  *    re-ranks. Hyperplane components derive from int(md5(p:i)[:8]) mapped
  *    to [-1,1) — deterministic and identical in DuckDB, so even the
  *    approximate result is oracle-checked. (A trained IVF/k-means coarse
  *    quantizer is the other classic scale path; LSH is chosen here
  *    because it is training-free and deterministic.)
  *
  * Queries = a FIXED 50-id list (0, 50, …, 2450). A corpus-derived
  * predicate like `vec_id % 50 == 0` selects 2 % *of the corpus* — a
  * broadcast side that grows linearly with data and OOMs at 100×; a
  * constant id list keeps the query side O(K) at any scale and pushes
  * into the parquet scan as an IN filter. (At sf0.01/sf0.1 the list
  * selects exactly the same vectors as the old modulo predicate, so the
  * oracle output is unchanged.)
  */
object Similarity {

  /** Fixed ANN query set: 50 literal ids, the 100 TB-safe replacement for
    * a corpus-proportional `vec_id % 50 == 0` predicate.
    */
  private[operators] val QueryIds: IndexedSeq[Int] = (0 until 50).map(_ * 50)

  /** k-means hyperparameters. K is DERIVED from the corpus:
    * k = clamp(n / [[SemanticTargetClusterSize]], [[KmeansKMin]],
    * [[KmeansKMax]]) — the SemDeDup recipe (arXiv:2303.09540) scales k
    * with n so per-cluster pair volume Σ|cluster|² stays ~n·target
    * instead of n²/k with a fixed k (VERDICT r10 #1: the compile-time
    * K=4 made dedup_semantic the slowest sf1 query at 39.1 s — the
    * quadratic the broadcast gate bounded in memory but not in work).
    * The oracle derives k identically in SQL (count // target, clamped),
    * so every scale stays hash-checkable. [[KmeansKMax]] bounds the
    * driver-resident model (K × dims doubles) and the per-row assignment
    * cost; a 100 TB deployment raises the target-cluster-size knob
    * rather than the cap — SemDeDup's own k is ~0.1% of n.
    * [[KmeansIters]] is the fixed Lloyd iteration count; [[KmeansQuant]]
    * the 2^20 quantization scale that makes centroid means
    * integer-summed (order-independent) in both engines.
    */
  val KmeansKMin = 4
  val KmeansKMax = 1024
  val SemanticTargetClusterSize = 500L
  val KmeansIters = 3
  val KmeansQuant = 1048576.0

  def kmeansKFor(n: Long): Int =
    math.min(KmeansKMax.toLong,
      math.max(KmeansKMin.toLong, n / SemanticTargetClusterSize)).toInt

  /** Lloyd TRAINING-SET cap: iterations run over the hash-ordered prefix
    * of at most `max(20·K, 4000)` vectors, with the final assignment
    * pass still covering the full corpus. Without the cap the trainer
    * was O(n·K·iters) with K itself ~n/500 — QUADRATIC in corpus size,
    * measured as the #1 sf10 wall time (574 s at 200 k vecs, SCALE10
    * r12); no production k-means trains on the full corpus (sampled /
    * mini-batch Lloyd is the standard recipe). 20 samples per centroid
    * keeps means stable; the cap makes training O(K²·iters) ≤ a
    * constant at the K cap, and the family linear in n overall.
    * Whenever cap ≥ n (every oracle scale) the training set IS the full
    * corpus — same rows, same integer-quantized sums — so trained
    * centroids, and every downstream cluster query, are bit-identical
    * to the uncapped trainer there; the oracle derives the same prefix
    * via `ORDER BY h, vec_id LIMIT cap`.
    */
  val KmeansTrainFactor = 20
  val KmeansTrainMin = 4000

  def kmeansTrainCap(k: Int): Int =
    math.max(k * KmeansTrainFactor, KmeansTrainMin)

  /** dedup_semantic output size (per-cluster top pairs) and the SemDeDup
    * keep/drop cosine threshold. The fixture embeddings are random (max
    * pairwise cosine ≈ 0.5), so the rank-based output keeps the oracle
    * non-vacuous while `is_dup` carries the actual dedup verdict; a
    * production corpus tunes the ε to its embedding model.
    */
  val SemanticTopK = 5
  val SemanticDupThreshold = 0.9

  /** Broadcast gate for dedup_semantic's pair join, in ESTIMATED BYTES:
    * rows × (dims × 8 + ~80 B of row/array overhead) — at the fixture's
    * 64 dims this lands where the measured row gate did (~200 k vectors ≈
    * 115 MB), but unlike a row count it holds for higher-dim embeddings
    * too (ADVICE r11: a 768-dim corpus passes a 200 k-ROW gate at ~1.2 GB
    * per executor). Past the gate the shuffled join + AQE skew splitting
    * takes over.
    */
  val SemanticBroadcastMaxBytes = 128L << 20

  /** Estimated broadcast payload of an n-row assignment table at `dims`
    * dimensions: the embedding doubles plus per-row overhead (ids, norm,
    * array headers).
    */
  private[operators] def semanticBroadcastBytes(n: Long, dims: Int): Long =
    n * (dims.toLong * 8L + 80L)

  /** Embedding row counts and dimensionality per dataset content version
    * ([[graft.sources.Datasets.key]]; one tiny job each per version per
    * JVM): the count derives the k-means K and gates the dedup_semantic
    * broadcast; the dims turn the row count into broadcast bytes.
    */
  private val embCounts = new graft.JvmCache[String, Long]
  private val embDims = new graft.JvmCache[String, Int]

  /** Every model cache below keys on the embeddings table's content
    * version, so a dir rewritten in place retrains on its next use.
    */
  private def cacheKey(s: SparkSession, d: String): String =
    Datasets.key(s, d, "embeddings")

  private[graft] def embCount(s: SparkSession, d: String): Long =
    embCounts.getOrBuild(cacheKey(s, d), "emb_count") {
      Tables.embeddings(s, d).select("vec_id").count()
    }

  private[graft] def embDim(s: SparkSession, d: String): Int =
    embDims.getOrBuild(cacheKey(s, d), "emb_dim") {
      Tables.embeddings(s, d).select(size(col("embedding"))).head.getInt(0)
    }

  /** Metadata predicate for ann_ivfpq_filtered_topk: labels 0-9 are
    * ~uniform, so `label < 3` keeps ~30% of the corpus — selective enough
    * that pre- vs post-filtering provably differ, dense enough that most
    * queries still fill k=5.
    */
  private[operators] val FilteredLabelLt = 3
  private[operators] val queryIdsSql: String = QueryIds.mkString(", ")
  private[operators] def isQueryId(c: org.apache.spark.sql.Column) = c.isin(QueryIds: _*)

  /** 16 × 64 hyperplane components in [-1, 1), derived from
    * int(md5("p:i")[:8]) but precomputed ONCE at plan-build time and
    * inlined as literals in both engines — the per-row md5 evaluation
    * (1024 per vector) dominated the sf0.1 bench.
    */
  private[operators] val planes: IndexedSeq[IndexedSeq[Double]] =
    (0 until 16).map(p => (0 until 64).map(i =>
      graft.functions.PortableHash.planeComponent(p, i)))

  /** 48-plane extension of the same deterministic family (first 16 rows
    * ARE [[planes]]) — the signature width the derived fine banding
    * slices up to 2 × 24 bits from. Only `dedup_embedding_lsh_fine`
    * evaluates the 48-dot signature; every other signature consumer
    * stays on the 16-plane expression.
    */
  private[operators] val planes48: IndexedSeq[IndexedSeq[Double]] =
    (0 until 48).map(p => (0 until 64).map(i =>
      graft.functions.PortableHash.planeComponent(p, i)))

  /** Derived fine-band width: the smallest b ∈ [8, 24] with 2^b ·
    * [[FineTargetBucket]] ≥ n, so expected bucket occupancy stays
    * ~constant as the corpus grows. The fixed 2×8-bit banding was the
    * #2 sf10 cliff (444 s at 200 k vecs): 256 bucket values per band
    * means occupancy — and Σ bucket² candidate volume — grows linearly
    * with n, i.e. the join is quadratic. With derived bits the
    * structural candidate volume is ~n · FineTargetBucket (linear);
    * what remains is the TRUE near-dup clique volume, which any
    * verifying LSH must pay. Recall at the widest band: a near-identical
    * pair (per-bit agreement p → 1) misses only if BOTH b-bit bands
    * differ, probability (1 − p^b)² — still negligible where the
    * operator's recall matters. Integer-only derivation (no log2 float
    * seam); at every oracle scale n ≤ 25 600 ⇒ bits = 8, identical to
    * the fixed banding, so outputs there are unchanged.
    */
  val FineTargetBucket = 100L

  def fineBandBits(n: Long): Int =
    (8 to 24).find(b => (1L << b) * FineTargetBucket >= n).getOrElse(24)

  /** Register the plan-time-bound signature + dot expressions: compact JVM
    * loops replacing interpreted higher-order lambdas (the previous
    * formulation dominated the sf0.1 bench).
    */
  private def registerFns(s: SparkSession): Unit = {
    graft.functions.GraftFunctions.register(s)
    val reg = s.sessionState.functionRegistry
    if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("hyperplane_sig16"))) {
      val planesArr = planes.map(_.toArray).toArray
      reg.createOrReplaceTempFunction(
        "hyperplane_sig16",
        exprs => graft.functions.HyperplaneSig(exprs.head, planesArr),
        "scala_udf")
      val planes48Arr = planes48.map(_.toArray).toArray
      reg.createOrReplaceTempFunction(
        "hyperplane_sig48",
        exprs => graft.functions.HyperplaneSig(exprs.head, planes48Arr),
        "scala_udf")
    }
  }

  private[operators] def withEmb(s: SparkSession, d: String): DataFrame = {
    registerFns(s)
    // float→double widening is exact and array Cast is codegen'd (a
    // transform() lambda would be interpreted per row).
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("emb"))
  }

  /** 4 × 4-bit LSH band keys from the 16-bit hyperplane signature, as a
    * static posexplode (codegen-friendly; no interpreted lambda).
    */
  private def banded4(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("emb"),
      posexplode(array((0 until 4).map(b =>
        expr(s"shiftright(sig, ${b * 4}) & 15")): _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_val")

  /** 2 × `bits`-bit band keys sliced from a (≥ 2·bits)-plane signature —
    * the derived-width banding behind [[fineBandBits]].
    */
  private def bandedFine(e: DataFrame, bits: Int): DataFrame =
    e.select(col("vec_id"), col("emb"),
      posexplode(array((0 until 2).map(b =>
        expr(s"shiftright(sig, ${b * bits}) & ${(1L << bits) - 1}")): _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_val")

  /** Deterministic hash-ordered sample of n embedding vectors — the
    * bounded "train step" shared by the IVF centroids (n=8), the PQ
    * codewords (n=4), and the k-means init (n=K). Collect is O(n) model
    * size, never data.
    */
  private[operators] def hashSample(e: DataFrame, n: Int): Array[Array[Double]] =
    e.withColumn("h", expr(
        "cast(conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10) as bigint)"))
      .orderBy(col("h"), col("vec_id")).limit(n)
      .select("emb").collect()
      .map(_.getSeq[Double](0).toArray)

  /** Trained Lloyd's k-means centroids (K = [[kmeansKFor]] of the corpus
    * count, [[KmeansIters]] fixed iterations, cosine assignment), shared
    * by embedding_kmeans and dedup_semantic and cached per dataset-dir
    * content key (deterministic given the data, so the 3 bounded collect
    * iterations run once per content version per JVM). Still bit-exact
    * across engines: element-wise centroid means are computed over
    * 2^-20-quantized values, so the per-dimension sums are integers
    * (order-independent), where raw double summation order would diverge
    * between Spark's partial aggregation and DuckDB. Each iteration is
    * one assignment pass (IvfTopCells loop, no shuffle) + a
    * (K × dims)-row aggregate — the collect is the bounded model-update
    * step, K×64 rows ≤ 64 k at the cap, never data. An emptied cluster
    * keeps its previous centroid (defined in both engines via LEFT JOIN +
    * coalesce).
    */
  private val kmeansCents = new graft.JvmCache[String, Array[Array[Double]]]

  private def trainedCentroids(s: SparkSession, d: String): Array[Array[Double]] =
    kmeansCents.getOrBuild(cacheKey(s, d), "kmeans_trainer") {
      val e = withEmb(s, d)
      val k = kmeansKFor(embCount(s, d))
      // k-means init = k-prefix of the deterministic hash order (for
      // k ≤ 8 that prefix IS the shared ANN 8-sample — the hash order is
      // total — so the cached train step is reused; a derived k > 8 takes
      // its own hashSample pass, still an O(model) collect). The Lloyd
      // loop never mutates these arrays (next is built from clones).
      var cents: Array[Array[Double]] =
        if (k <= 8) annIndex(e, d).centroids.take(k)
        else hashSample(e, k)
      // bounded training set (see kmeansTrainCap): the hash-ordered
      // cap-prefix — a SUPERSET of the k-prefix init above (same total
      // order), and the whole corpus wherever cap >= n. Materialized
      // once; the repartition spreads the sort-limit's single output
      // partition back across cores for the iteration scans.
      val cap = kmeansTrainCap(k)
      val train = e
        .withColumn("h", expr(
          "cast(conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10) as bigint)"))
        .orderBy(col("h"), col("vec_id")).limit(cap)
        .select("vec_id", "emb")
        .repartition(s.sparkContext.defaultParallelism)
        .transform(Materialize.once)
      for (_ <- 1 to KmeansIters) {
        val fn = graft.functions.GraftFunctions.registerIvf(s, cents, 1)
        val sums = train
          .select(expr(s"element_at($fn(emb), 1)").as("cell"),
            posexplode(col("emb")).as(Seq("pos", "x")))
          .withColumn("q", round(col("x") * KmeansQuant).cast("long"))
          .groupBy("cell", "pos")
          .agg(sum("q").as("sq"), count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone()) // empty cluster -> previous centroid
        sums.foreach { r =>
          next(r.getAs[Int]("cell"))(r.getAs[Int]("pos")) =
            (r.getAs[Long]("sq").toDouble / r.getAs[Long]("n")) / KmeansQuant
        }
        cents = next
      }
      Materialize.drop(train)
      cents
    }

  /** Content-keyed root + FileSystem of the persisted assignment store
    * (assign.parquet + centroids.parquet under one `_READY`).
    */
  // private[graft]: SemAssignStoreSpec tears markers/files to exercise
  // rebuild/self-upgrade paths and must scope that to ITS OWN fixture's
  // root — tearing every root under the shared tmp dir (the pre-r18
  // idiom) invalidated the sf10 store on every suite run, turning later
  // warm-restart captures into silent full rebuilds (58 s / 419 cpu-s).
  private[graft] def semStoreRoot(s: SparkSession, d: String)
      : (org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileSystem) = {
    val root = new org.apache.hadoop.fs.Path(Datasets.storeRoot(s, "graft_semassign",
      "", d, SemStoreFormatVersion, Seq("embeddings")))
    (root, root.getFileSystem(s.sparkContext.hadoopConfiguration))
  }

  /** Bump when the assignment store's layout changes. */
  private val SemStoreFormatVersion = 1

  /** The semassign family's dir name for a dataset — exposed for
    * [[graft.StoreGc]]'s liveness derivation (r20, VERDICT r19 #5).
    */
  private[graft] def semStoreKey(s: SparkSession, d: String): String =
    semStoreRoot(s, d)._1.getName

  private def centroidsPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "centroids.parquet")

  /** Pair-head file name carries the parameters the persisted rows bake
    * in — [[SemanticTopK]] and a ranking-format version (ADVICE r18,
    * medium): the serve path gates on file existence, so a head written
    * under a DIFFERENT K or ranking would otherwise keep serving stale
    * rows from an already-published store. Folding the parameters into
    * the name makes a mismatch a cache MISS (the normal self-upgrade
    * path republishes under the new name) instead of a silent staleness.
    * `SemanticDupThreshold` stays out of the key on purpose: `is_dup` is
    * derived at read, so the persisted rows don't depend on it. Bump
    * [[PairHeadVersion]] whenever [[topPairsHead]]'s ranking changes.
    */
  private[graft] val PairHeadVersion = 1

  private[graft] def topPairsFileName: String =
    s"toppairs_k${SemanticTopK}_v$PairHeadVersion.parquet"

  private def topPairsPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, topPairsFileName)

  /** Trained centroid VALUES, store-first (r17, VERDICT r16 #4): a warm
    * restart against a published assignment store reads K×dims doubles
    * from centroids.parquet (a kilobyte-scale model collect) instead of
    * re-running the Lloyd trainer — the one restart cost that wasn't
    * O(store-read) (sf10: 169 cpu-s trainer for 4 centroid values).
    * Bit-identical to training: the store was written from the trainer's
    * exact doubles (parquet round-trips IEEE754 exactly), and the JVM
    * cache is shared, so a session mixing store-loads and trainer calls
    * can never hold two versions. Stores published before centroids
    * existed fall back to the trainer.
    */
  private def storedCentroids(s: SparkSession, d: String): Array[Array[Double]] =
    kmeansCents.get(cacheKey(s, d)).getOrElse {
      val (root, f) = semStoreRoot(s, d)
      val cdst = centroidsPath(root)
      val published = f.exists(new org.apache.hadoop.fs.Path(root, "_READY"))
      if (published && f.exists(cdst))
        kmeansCents.getOrBuild(cacheKey(s, d), "kmeans_centroids_load") {
          val rows = Tables.parquet(s, cdst.toString)
            .orderBy("cluster_id").collect()
          require(rows.nonEmpty, s"published centroid store is empty: $cdst")
          rows.map(_.getSeq[Double](1).toArray)
        }
      else {
        val cents = trainedCentroids(s, d)
        // a store published BEFORE centroids existed self-upgrades: write
        // the trained values beside it (atomic tmp→rename; assign.parquet
        // readers are untouched, centroid readers key on file existence)
        // so the trainer fallback is paid at most once per legacy store.
        // SERIALIZED like assignedFrame's publish (self-review r17: this
        // is a write on a read path — two unsynchronized upgraders shared
        // the fixed tmp name and the loser's rename crashed a read-only
        // serve); a rename lost to ANOTHER JVM is tolerated as long as
        // the winner's file exists — the values are deterministic, so
        // whichever writer wins published the same doubles.
        if (published) synchronized {
          if (!f.exists(cdst)) {
            import s.implicits._
            val ctmp = new org.apache.hadoop.fs.Path(root, "centroids.tmp")
            cents.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toSeq
              .toDF("cluster_id", "cv")
              .coalesce(1).write.mode("overwrite").parquet(ctmp.toString)
            if (!f.rename(ctmp, cdst)) {
              require(f.exists(cdst), s"centroid upgrade failed: $cdst")
              f.delete(ctmp, true)
            }
          }
        }
        cents
      }
    }

  /** Trained-index artifacts shared by the ANN family: the 8-vector
    * hash-ordered sample (IVF centroids; its 4-prefix is the PQ codeword
    * sample AND the k-means init — the hash order is total, so a prefix
    * of the 8-sample IS the 4-sample) and the 50 collected query vectors
    * (for driver-side ADC LUTs). Everything downstream — registerIvf /
    * registerPq digests, LUT doubles — derives from these values, so
    * reuse is byte-identical to per-query retraining.
    */
  private[operators] final case class AnnIndex(
      sample8: Array[Array[Double]],
      queryVecs: Seq[(Long, Array[Double])]) {
    def centroids: Array[Array[Double]] = sample8
    lazy val codebooks: Array[Array[Array[Double]]] = pqCodebooks(sample8.take(4))
  }

  /** Index cache keyed by dataset content version: a real 100 TB
    * deployment trains an ANN index once and serves many queries from it;
    * before this seam each of ann_ivf/ann_pq/ann_ivfpq re-ran the sample
    * pass (4 corpus passes per session, VERDICT r5 §3). One JVM-wide
    * build per content version; the cache holds O(model) doubles
    * (8×64 + 50×64), never data.
    */
  private val annIndexCache = new graft.JvmCache[String, AnnIndex]

  private[operators] def annIndex(e: DataFrame, d: String): AnnIndex =
    annIndexCache.getOrBuild(cacheKey(e.sparkSession, d), "ann_index_train") {
      val sample8 = hashSample(e, 8)
      // query-vector fetch: IN-pushed parquet scan, O(K) rows collected
      val qrows = e.filter(isQueryId(col("vec_id"))).select("vec_id", "emb")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
      AnnIndex(sample8, qrows)
    }

  /** PQ geometry: M=8 subspaces × 8 dims, 4 codewords per subspace (from
    * the 4-vector hash sample).
    */
  private val PqM = 8
  private val PqSub = 8

  private[operators] def pqCodebooks(sample: Array[Array[Double]]): Array[Array[Array[Double]]] =
    Array.tabulate(PqM)(m => sample.map(v => v.slice(m * PqSub, (m + 1) * PqSub)))

  /** Driver-computed ADC lookup tables for the 50 query vectors: per
    * (subspace m, codeword k) the squared L2 distance between the query's
    * m-th slice and the codeword. O(K) model-sized collect; the sequential
    * `acc += diff*diff` fold matches the oracle's list_sum order exactly.
    */
  private[operators] def pqLuts(qrows: Seq[(Long, Array[Double])],
      codebooks: Array[Array[Array[Double]]]): Seq[(Long, Seq[Double])] = {
    qrows.map { case (id, q) =>
      val lut = new Array[Double](PqM * 4)
      for (m <- 0 until PqM; k <- 0 until 4) {
        var acc = 0.0
        var i = 0
        while (i < PqSub) {
          val diff = q(m * PqSub + i) - codebooks(m)(k)(i)
          acc += diff * diff
          i += 1
        }
        lut(m * 4 + k) = acc
      }
      (id, lut.toSeq)
    }
  }

  /** ADC score: 8 static LUT lookups + left-to-right adds (same order as
    * the oracle's sequential list_sum) — plain codegen'd built-ins.
    */
  private[operators] val adcExpr: String = (0 until PqM)
    .map(m => s"element_at(lut, ${m * 4} + element_at(codes, ${m + 1}) + 1)")
    .mkString(" + ")

  // ---- production-config ANN (VERDICT r14 #5) -------------------------
  // The oracle-scale indexes above train 8 centroids / 4 codewords so
  // every double is DuckDB-replayable; ann_recall honestly reports LOW
  // absolute recall at that size. These are the REALISTIC sizes an ANN
  // deployment runs, used by the self-graded ann_recall_production row
  // (no oracle constraint — the row asserts its own recall bound
  // in-plan, the q_approx_distinct idiom).
  private[graft] val ProdIvfK = 64
  private[graft] val ProdNprobe = 8
  private[graft] val ProdPqCodewords = 64
  private[graft] val ProdTrainCap = 4096
  private[graft] val ProdLloydIters = 8

  /** Planted-neighbor hit@1 floor asserted in-plan by
    * ann_recall_production — the production question (given a query with
    * a true high-cosine neighbor in the corpus, does the index return it
    * first?). The fixture's embeddings are ISOTROPIC random unit vectors
    * (measured: same-label mean cosine ≈ 0.000; natural top-5 neighbors
    * at cosine ≈ 0.32), so brute-force recall@5 on natural queries is
    * data-bound for ANY pruning index — the row reports it, with its own
    * honest floor [[ProdRecall5Bound]], but grades chiefly on the planted
    * retrieval regime every production ANN serves. Hit = rank-1's exact
    * cosine ≥ mix − ε (robust to replicated-embedding fixtures where a
    * seed's replica is an equally correct answer). Measured: 1.0 at
    * every scale incl. sf10; the floor leaves room for unlucky cell
    * boundaries at other scales, not for a broken index.
    */
  private[graft] val ProdHitBound = 0.85

  /** Floor for the reported brute-force recall@5 on the planted-query
    * workload (ADC shortlist → exact re-rank serve; ground truth and
    * serve share the seed-inclusion convention — the query is synthetic,
    * so the seed is a legitimate neighbor on BOTH arms): position 1 is
    * the planted seed (found at rate 1.0 across scales); positions 2-5
    * are isotropic-noise neighbors whose cells are uncorrelated with the
    * query, so their find rate is what nprobe/K pruning plus the
    * re-ranked shortlist recovers (measured: 0.74 sf0.001, 0.64 sf0.01,
    * 0.63 sf0.1, 0.964 sf10 — the last honestly higher because the scale
    * fixture's replicated embeddings give every query REAL near-dup
    * neighbors, the regime where an IVF index shines). Floor sits ~20%
    * under the lowest measured scale.
    */
  private[graft] val ProdRecall5Bound = 0.5

  /** Floor on `recall_at_5_cos` for EVERY re-ranked arm of the tuning
    * curve (VERDICT r16 #6). The cos-graded column counts a returned
    * neighbor that MEETS the exact ground truth's 5th-best cosine, so it
    * is immune to the replica-tie collapse that makes the id-graded
    * column untrustworthy on dense fixtures (sf10: ADC id-recall 0.04
    * from PQ-code ties alone while re-ranked arms are cosine-perfect) —
    * which is exactly why the re-rank arms can carry a standing floor
    * here: a drop in this column is REAL recall loss, never tie noise.
    * ADC-only arms are excluded — their compressed-domain order
    * genuinely cannot rank inside replica clouds (a documented finding,
    * not a defect), so a floor there would encode fixture shape, not
    * quality. Measured re-ranked minima: 0.52 (nprobe=4, sf0.01) …
    * 1.0 (sf10, all arms); floor sits ~20% under the lowest, same
    * discipline as [[ProdRecall5Bound]].
    */
  private[graft] val RerankCosRecall5Floor = 0.4

  /** The six (nprobe, reranked) arms ann_recall_production reports:
    * nprobe ∈ {ProdNprobe/2, ProdNprobe, 2·ProdNprobe}, each ADC-only and
    * re-ranked.
    */
  private val ProdSweepArms: Seq[(Int, Boolean)] = for {
    np <- Seq(ProdNprobe / 2, ProdNprobe, ProdNprobe * 2)
    rerank <- Seq(false, true)
  } yield (np, rerank)

  /** ann_recall_production's rows from its per-arm hit counts `hits`
    * (np, reranked, hits1, hits5, hits5c over `nQueries` planted queries),
    * gated in-plan (assert_true, the q_approx_distinct idiom). The counts
    * are left-joined onto [[ProdSweepArms]], so an arm that graded nothing
    * reports 0 — and is held to its gate — instead of vanishing from the
    * output. The id-graded gates bind ONLY the production row (nprobe =
    * ProdNprobe, re-ranked): [[ProdHitBound]] on planted_hit_at_1 and
    * [[ProdRecall5Bound]] on both recall columns. The tie-robust
    * recall_at_5_cos floor [[RerankCosRecall5Floor]] (r17, VERDICT r16
    * #6) binds EVERY re-ranked row, so a replica-dense corpus that
    * collapses the id-graded number cannot both false-alarm (cos is
    * tie-immune) and mask a real recall loss. ADC-only rows are
    * measurements, not contracts.
    */
  private[graft] def gradeProdSweep(hits: DataFrame, nQueries: Int,
      nCells: Int, nCodewords: Int): DataFrame = {
    val s = hits.sparkSession
    import s.implicits._
    def rate(c: String, per: Double) =
      round(coalesce(col(c), lit(0L)) / lit(nQueries * per), 4)
    ProdSweepArms.toDF("np", "reranked")
      .join(hits, Seq("np", "reranked"), "left")
      .select(
        // label reports the TRAINED codeword count (self-review r16:
        // the ADC stride already uses it — a config string claiming
        // pq8x64 for an index trained smaller would let cross-round
        // artifact reads conflate different geometries)
        concat(lit(s"ivf$nCells.nprobe"), col("np").cast("string"),
          lit(s".pq${PqM}x$nCodewords."),
          when(col("reranked"), "rerank").otherwise("adc")).as("config"),
        col("np").as("nprobe"),
        col("reranked"),
        lit(nQueries).as("n_queries"),
        rate("hits1", 1.0).as("planted_hit_at_1"),
        rate("hits5", 5.0).as("recall_at_5"),
        rate("hits5c", 5.0).as("recall_at_5_cos"))
      .orderBy(col("nprobe"), col("reranked"))
      .filter(assert_true(
        col("nprobe") =!= ProdNprobe || !col("reranked") ||
        (col("planted_hit_at_1") >= ProdHitBound &&
         col("recall_at_5") >= ProdRecall5Bound &&
         col("recall_at_5_cos") >= ProdRecall5Bound)).isNull)
      .filter(assert_true(
        !col("reranked") ||
        col("recall_at_5_cos") >= RerankCosRecall5Floor).isNull)
  }

  /** Mix weight for the planted queries: q ∝ w·seed + √(1−w²)·noise, so
    * cos(q, seed) ≈ w in high dimension (noise ⊥ seed w.h.p.).
    */
  private[graft] val ProdQueryMix = 0.95

  /** ADC shortlist depth fed to the exact re-rank — the two-stage serve
    * every production PQ deployment runs (compressed-domain candidate
    * generation, exact scoring of the tiny shortlist).
    */
  private[graft] val ProdRerankDepth = 100

  /** Plain driver-side Lloyd over a bounded sample (L2 assignment, mean
    * update, empty cluster keeps its previous centroid). The sample is
    * hash-ordered (pseudorandom), so the first-k prefix is a valid init.
    * O(sample × k × dim) on the driver — model-sized work; the corpus-
    * sized passes stay distributed (assignment via [[graft.functions.IvfTopCells]] /
    * [[graft.functions.PqEncode]]).
    */
  private[operators] def lloyd(vecs: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val dim = vecs.head.length
    var cents = vecs.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      vecs.foreach { v =>
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < cents.length) {
          var acc = 0.0
          var i = 0
          while (i < dim) { val dd = v(i) - cents(c)(i); acc += dd * dd; i += 1 }
          if (acc < bestD) { bestD = acc; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(cents.length)(c =>
        if (counts(c) == 0L) cents(c)
        else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** Production IVF centroids + PQ codebooks per dataset dir: one bounded
    * hash-ordered sample pass feeds a driver Lloyd for the coarse
    * quantizer (K=[[ProdIvfK]]) and one per PQ subspace
    * ([[ProdPqCodewords]] codewords over the sample's slices). Cached per
    * content version like [[annIndexCache]]; cold-build attributed.
    */
  private val prodIndexCache =
    new graft.JvmCache[String, (Array[Array[Double]], Array[Array[Array[Double]]])]

  private def prodIndex(s: SparkSession, d: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    prodIndexCache.getOrBuild(cacheKey(s, d), "ann_prod_train") {
      // train on NORMALIZED vectors: the production index ranks by ADC-L2
      // but the ground truth (and the user's intent) is cosine; on unit
      // vectors ||a−b||² = 2−2cos, so L2 order IS cosine order — without
      // this the row measures metric mismatch, not index quality
      // (observed: recall 0.07 raw vs 0.94+ normalized)
      val sample = hashSample(withEmb(s, d), ProdTrainCap).map(normalize)
      val k = math.min(ProdIvfK, sample.length)
      val cents = lloyd(sample, k, ProdLloydIters)
      val books = Array.tabulate(PqM) { m =>
        val slices = sample.map(_.slice(m * PqSub, (m + 1) * PqSub))
        lloyd(slices, math.min(ProdPqCodewords, slices.length), ProdLloydIters)
      }
      (cents, books)
    }

  private[operators] def normalize(v: Array[Double]): Array[Double] = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    val n = math.sqrt(acc)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** [[pqLuts]] generalized to an arbitrary per-subspace codeword count
    * (the oracle-scale tables hardcode 4).
    */
  private def pqLutsN(qrows: Seq[(Long, Array[Double])],
      codebooks: Array[Array[Array[Double]]]): Seq[(Long, Seq[Double])] = {
    val ncw = codebooks.head.length
    qrows.map { case (id, q) =>
      val lut = new Array[Double](PqM * ncw)
      for (m <- 0 until PqM; k <- 0 until codebooks(m).length) {
        var acc = 0.0
        var i = 0
        while (i < PqSub) {
          val diff = q(m * PqSub + i) - codebooks(m)(k)(i)
          acc += diff * diff
          i += 1
        }
        lut(m * ncw + k) = acc
      }
      (id, lut.toSeq)
    }
  }

  private def adcExprN(ncw: Int): String = (0 until PqM)
    .map(m => s"element_at(lut, ${m * ncw} + element_at(codes, ${m + 1}) + 1)")
    .mkString(" + ")

  private def cosineCols(df: DataFrame): DataFrame =
    df.withColumn("cosine", round(expr("dot_double(qe, ce)") /
      (sqrt(expr("dot_double(qe, qe)")) * sqrt(expr("dot_double(ce, ce)"))), 4))

  /** Salted two-stage per-query top-k. A single
    * `row_number() OVER (PARTITION BY query_id)` funnels EVERY candidate
    * row into ≤ |queries| = 50 reducer partitions — invisible at sf0.1,
    * but a hard 50-task cap on the final stage of a 1000-executor cluster
    * (and for brute-force/PQ the candidate set is corpus × 50). Stage 1
    * ranks within (query_id, pmod(xxhash64(vec_id), 64)) salt groups —
    * 64× the reducer parallelism, each group keeping only its local
    * top-k — so stage 2 re-ranks ≤ 64·k ≈ 320 rows per query. Output is
    * provably identical: the ordering (orderCols, then vec_id — unique) is
    * total, and any row in the global top-k is also in its salt group's
    * top-k, so stage 1 never drops a winner.
    */
  private[operators] def twoStageTopK(df: DataFrame, k: Int,
      orderCols: org.apache.spark.sql.Column*): DataFrame =
    twoStageTopKBy(df, k, col("query_id"), xxhash64(col("vec_id")),
      orderCols :+ col("vec_id"))

  /** The general form: top-k per `part` group under the total order
    * `orderCols` (which MUST be total — include unique tie-break columns),
    * salted by `saltSrc` for stage-1 parallelism. Shared by the per-query
    * ANN rankings (via [[twoStageTopK]]) and dedup_semantic's per-cluster
    * ranking — one copy of the never-drops-a-winner argument above.
    */
  private[operators] def twoStageTopKBy(df: DataFrame, k: Int,
      part: org.apache.spark.sql.Column, saltSrc: org.apache.spark.sql.Column,
      orderCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w1 = Window.partitionBy(part, col("salt")).orderBy(orderCols: _*)
    val w2 = Window.partitionBy(part).orderBy(orderCols: _*)
    df.withColumn("salt", pmod(saltSrc, lit(64)))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= k)
      .withColumn("rank", row_number().over(w2).cast("int"))
      .filter(col("rank") <= k)
      .drop("salt", "r1")
  }

  private def topk(pairs: DataFrame, k: Int): DataFrame =
    twoStageTopK(cosineCols(pairs), k, col("cosine").desc)
      .select("query_id", "rank", "vec_id", "cosine")

  // ---- serving plans over a parameterized encode frame (r21) ----------
  // Each ANN serving plan is ONE function of its (possibly shared) source
  // frame: the standalone queries pass their own bare-scan encode (so the
  // query-side isQueryId filter keeps its parquet pushdown), and
  // ann_recall passes a single Materialize.once'd frame carrying every
  // arm's encode columns — one corpus pass instead of five (VERDICT r20
  // #1). One copy of each plan means the composite and standalone forms
  // cannot drift; the oracle gate pins both.
  // Column contract: `src` carries vec_id plus the columns the plan
  // reads — emb (bruteforce/ivf re-rank), sig (lsh banding), cells
  // (rank-ordered IVF probe cells), codes (PQ codes); the query side is
  // the isQueryId rows of the same frame.

  private def bruteforceTopkOn(src: DataFrame): DataFrame = {
    val q = src.filter(isQueryId(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("emb").as("qe"))
    val c = src.select(col("vec_id"), col("emb").as("ce"))
    topk(c.join(broadcast(q), col("query_id") =!= col("vec_id")), 5)
  }

  private def lshTopkOn(src: DataFrame): DataFrame = {
    val banded = banded4(src)
    val q = banded.filter(isQueryId(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("emb").as("qe"),
        col("band_id"), col("band_val"))
    val c = banded.select(col("vec_id"), col("emb").as("ce"),
      col("band_id"), col("band_val"))
    topk(c.join(broadcast(q), Seq("band_id", "band_val"))
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "qe", "vec_id", "ce")
      .distinct(), 5)
  }

  private def ivfTopkOn(src: DataFrame): DataFrame = {
    val corpus = src.select(col("vec_id"), col("emb").as("ce"),
      element_at(col("cells"), 1).as("cell_id"))
    val q = src.filter(isQueryId(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("emb").as("qe"),
        explode(col("cells")).as("cell_id"))
    topk(corpus.join(broadcast(q), Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select("query_id", "qe", "vec_id", "ce"), 5)
  }

  private def pqTopkOn(src: DataFrame, qdf: DataFrame): DataFrame = {
    val scored = src.select(col("vec_id"), col("codes"))
      .join(broadcast(qdf), col("query_id") =!= col("vec_id"))
      .withColumn("approx_dist", expr(adcExpr))
    twoStageTopK(scored, 5, col("approx_dist"))
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("approx_dist"), 4).as("approx_dist"))
  }

  /** `corpusSrc` and `querySrc` are separate because
    * ann_ivfpq_filtered_topk pre-filters the CORPUS only — queries are
    * never label-filtered.
    */
  private def ivfpqTopkOn(corpusSrc: DataFrame, querySrc: DataFrame,
      qdf: DataFrame): DataFrame = {
    val corpus = corpusSrc.select(col("vec_id"),
      element_at(col("cells"), 1).as("cell_id"), col("codes"))
    val qcells = querySrc.filter(isQueryId(col("vec_id")))
      .select(col("vec_id").as("query_id"), explode(col("cells")).as("cell_id"))
    val scored = corpus
      .join(broadcast(qcells.join(qdf, Seq("query_id"))), Seq("cell_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("approx_dist", expr(adcExpr))
    twoStageTopK(scored, 5, col("approx_dist"))
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("approx_dist"), 4).as("approx_dist"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_bruteforce_topk" -> ((s, d) =>
      // exact baseline: one corpus pass × K=50 broadcast queries. The IN
      // filter pushes to the parquet scan, so the query side is O(K) at
      // any corpus size.
      bruteforceTopkOn(withEmb(s, d))),
    "ann_lsh_topk" -> ((s, d) =>
      lshTopkOn(withEmb(s, d).withColumn("sig", expr("hyperplane_sig16(emb)")))),
    "dedup_embedding_lsh" -> ((s, d) => {
      // near-dup scale path: hyperplane-LSH buckets → exact cosine re-rank,
      // top-20 pairs. Candidate volume tracks bucket collisions, not n².
      // The banded self-join and the distinct carry ONLY (id1, id2) — the
      // 64-double embedding payload joins back after the candidate set is
      // known (same trick as dedup_minhash_pairs; dragging both arrays
      // through the candidate shuffle was a measured 8× slowdown).
      val e = withEmb(s, d)
      val banded = banded4(e.withColumn("sig", expr("hyperplane_sig16(emb)")))
        .select("vec_id", "band_id", "band_val")
      val cand = banded.select(col("vec_id").as("id1"), col("band_id"), col("band_val"))
        .join(banded.select(col("vec_id").as("id2"), col("band_id"), col("band_val")),
          Seq("band_id", "band_val"))
        .filter(col("id1") < col("id2"))
        .select("id1", "id2")
        .distinct()
      cand
        .join(e.select(col("vec_id").as("id1"), col("emb").as("qe")), Seq("id1"))
        .join(e.select(col("vec_id").as("id2"), col("emb").as("ce")), Seq("id2"))
        .withColumn("cosine", round(expr("dot_double(qe, ce)") /
          (sqrt(expr("dot_double(qe, qe)")) * sqrt(expr("dot_double(ce, ce)"))), 4))
        .orderBy(col("cosine").desc, col("id1"), col("id2"))
        .select("id1", "id2", "cosine")
        .limit(20)
    }),
    "dedup_embedding_lsh_fine" -> ((s, d) => {
      // Clique-density variant of dedup_embedding_lsh: the sf1 smoke
      // showed candidate volume tracking Σ bucket² once duplication goes
      // clique-dense (10-replica families all colliding) — with 4-bit
      // bands there are only 16 bucket values per band, so buckets are
      // structurally huge at scale. Band width now DERIVES from the
      // corpus count ([[fineBandBits]]: 2 × clamp bits so occupancy
      // stays ~FineTargetBucket — the kmeansKFor idiom applied to
      // banding; SCALE10 r12 measured the fixed 2×8 form quadratic),
      // sliced from the 48-plane signature. At every oracle scale the
      // derivation lands on 8 bits, reproducing the original banding
      // exactly. Downstream shape identical: id-only candidate shuffle,
      // exact cosine re-rank, deterministic top-20.
      val e = withEmb(s, d)
      val bits = fineBandBits(embCount(s, d))
      val banded = bandedFine(e.withColumn("sig", expr("hyperplane_sig48(emb)")), bits)
        .select("vec_id", "band_id", "band_val")
      val cand = banded.select(col("vec_id").as("id1"), col("band_id"), col("band_val"))
        .join(banded.select(col("vec_id").as("id2"), col("band_id"), col("band_val")),
          Seq("band_id", "band_val"))
        .filter(col("id1") < col("id2"))
        .select("id1", "id2")
        .distinct()
      cand
        .join(e.select(col("vec_id").as("id1"), col("emb").as("qe")), Seq("id1"))
        .join(e.select(col("vec_id").as("id2"), col("emb").as("ce")), Seq("id2"))
        .withColumn("cosine", round(expr("dot_double(qe, ce)") /
          (sqrt(expr("dot_double(qe, qe)")) * sqrt(expr("dot_double(ce, ce)"))), 4))
        .orderBy(col("cosine").desc, col("id1"), col("id2"))
        .select("id1", "id2", "cosine")
        .limit(20)
    }),
    "ann_ivf_topk" -> ((s, d) => {
      // IVF coarse quantizer, the trained-index scale path (complement of
      // hash-based LSH): K=8 centroids from a deterministic hash-ordered
      // sample (stands in for k-means init; at 100 TB the train step is the
      // same tiny sampled side job), one assignment pass over the corpus
      // (8 dots/row, no shuffle), queries probe nprobe=2 cells, exact
      // cosine re-rank inside the probed cells only.
      val e = withEmb(s, d)
      val cents = annIndex(e, d).centroids
      // Assignment via the compact IvfTopCells evaluator: one loop per row
      // (centroids live in the expression instance, not as 8×64 literals —
      // the inlined-literal tree's analysis/codegen cost dominated this
      // query's wall time at small SF). The corpus takes its best cell; the
      // query side (tiny, IN-filter pushed to parquet) probes nprobe=2
      // cells — the full scan + assignment still runs exactly once.
      val fn = graft.functions.GraftFunctions.registerIvf(s, cents, 2)
      ivfTopkOn(e.withColumn("cells", expr(s"$fn(emb)")))
    }),
    "ann_pq_topk" -> ((s, d) => {
      // Product quantization + asymmetric distance (ADC) — the
      // memory-bound ANN index family complementing LSH (hash) and IVF
      // (partition): the corpus compresses to M=8 codebook indexes per
      // vector (8 bytes instead of 64 doubles), queries precompute a
      // 32-entry LUT of subspace distances, and scoring a candidate is 8
      // array lookups + adds — no original vectors touched at query time.
      // Codewords come from the same deterministic hash-ordered 4-vector
      // sample as the IVF/k-means init (the bounded train step;
      // embedding_kmeans demonstrates real Lloyd training). Encode is one
      // corpus pass via the PqEncode evaluator; LUTs are driver-computed
      // from the 50 collected query vectors (model-sized, O(K)) and
      // broadcast; every double on both paths is the same sequential
      // fold, so the approximate output is still hash-checked bit-for-bit.
      val e = withEmb(s, d)
      val idx = annIndex(e, d)
      val fn = graft.functions.GraftFunctions.registerPq(s, idx.codebooks)
      import s.implicits._
      val qdf = pqLuts(idx.queryVecs, idx.codebooks).toDF("query_id", "lut")
      pqTopkOn(e.withColumn("codes", expr(s"$fn(emb)")), qdf)
    }),
    "ann_ivfpq_topk" -> ((s, d) => {
      // IVF × PQ composition — the actual 100 TB ANN serving shape: the
      // corpus is touched by exactly ONE pass that emits (resident cell,
      // 8-byte PQ codes); original vectors never flow downstream. Queries
      // probe nprobe=2 cells (via the SAME IvfTopCells expression, so
      // probe arithmetic is bit-identical to ann_ivf_topk) and ADC-score
      // only the codes resident in probed cells — candidate volume is
      // 2/8 of the corpus per query instead of all of it (ann_pq_topk),
      // and scoring never touches vectors (ann_ivf_topk re-ranks with
      // exact cosines). Each corpus vector lives in exactly one cell and
      // the 2 probed cells are distinct, so no (query, vec) pair
      // duplicates — no distinct needed.
      val e = withEmb(s, d)
      val idx = annIndex(e, d)
      val ivfFn = graft.functions.GraftFunctions.registerIvf(s, idx.centroids, 2)
      val pqFn = graft.functions.GraftFunctions.registerPq(s, idx.codebooks)
      // query side: probed cells from a tiny IN-pushed scan × driver LUTs —
      // both O(K), joined before broadcasting against the corpus
      import s.implicits._
      val qdf = pqLuts(idx.queryVecs, idx.codebooks).toDF("query_id", "lut")
      val enc = e.withColumn("cells", expr(s"$ivfFn(emb)"))
        .withColumn("codes", expr(s"$pqFn(emb)"))
      ivfpqTopkOn(enc, enc, qdf)
    }),
    "ann_ivfpq_filtered_topk" -> ((s, d) => {
      // FILTERED vector search — the production feature every metadata-
      // carrying corpus needs ("nearest docs WHERE label < 3"). The
      // predicate is a PRE-filter: it lands on the code table BEFORE ADC
      // scoring (pushed to the parquet scan — SimilarityFilterSpec asserts
      // PushedFilters), so candidate volume shrinks by the filter's
      // selectivity instead of ranking the full corpus and discarding
      // survivors after top-k (post-filtering returns < k or biased
      // results). The INDEX stays frozen and full-corpus (same cached
      // model as ann_ivfpq_topk) — only serving filters, so one index
      // serves every predicate.
      val e = withEmb(s, d)
      val idx = annIndex(e, d)
      val ivfFn = graft.functions.GraftFunctions.registerIvf(s, idx.centroids, 2)
      val pqFn = graft.functions.GraftFunctions.registerPq(s, idx.codebooks)
      import s.implicits._
      val qdf = pqLuts(idx.queryVecs, idx.codebooks).toDF("query_id", "lut")
      val enc = e.withColumn("cells", expr(s"$ivfFn(emb)"))
        .withColumn("codes", expr(s"$pqFn(emb)"))
      // corpus-only pre-filter (BEFORE the encode projections, so it
      // still pushes to the parquet scan — SimilarityFilterSpec asserts
      // PushedFilters); the query side is never label-filtered
      ivfpqTopkOn(enc.filter(col("label") < FilteredLabelLt), enc, qdf)
    }),
    "embedding_kmeans" -> ((s, d) => {
      // assignments come from the persisted store (r15): a fresh-JVM
      // serve is one narrow scan — no Lloyd trainer, no corpus × K
      // assignment pass. Values identical by construction (the store is
      // written from [[computeAssignment]], the trained-centroid
      // expression).
      val w = Window.partitionBy(col("cluster_id"))
      assignedFrame(s, d)
        .select("vec_id", "cluster_id")
        .withColumn("cluster_size", count(lit(1)).over(w))
        .select("vec_id", "cluster_id", "cluster_size")
    }),
    "dedup_semantic" -> ((s, d) => semanticTopPairs(s, d)),
    "embedding_prototypicality" -> ((s, d) => {
      // Prototypicality-based coreset pruning (Sorscher et al. 2022,
      // "Beyond neural scaling laws", arXiv:2206.14486): rank every
      // vector by cosine to its OWN cluster centroid; the most
      // prototypical decile is the redundant "easy" mass the paper
      // prunes first at scale. keep = 10·rank > cluster_size, evaluated
      // in integer space. The ranking window partitions by cluster_id,
      // whose per-partition size is bounded BY CONSTRUCTION: K scales
      // with the corpus (kmeansKFor), so clusters stay ~target-sized at
      // any scale — a full rank here never funnels the corpus into one
      // task. Centroids ride in as a broadcast (K × dims ≤ 64k rows).
      import s.implicits._
      // centroid VALUES from the store when one is published (r17,
      // VERDICT r16 #4): warm-restart serve is now two narrow scans
      // (assignments + a kilobyte of centroids), no Lloyd trainer
      val cents = storedCentroids(s, d)
      // the stored assignedFrame path never touches withEmb, so the
      // session functions (dot_double below) must register here
      // explicitly — same latent crash pairsFromAssigned already guards:
      // a warm trainer cache + a fresh SparkSession would otherwise
      // skip every registration site
      registerFns(s)
      val cdf = cents.zipWithIndex
        .map { case (cv, i) => (i, cv.toSeq) }.toSeq
        .toDF("cluster_id", "cv")
      val byCluster = Window.partitionBy(col("cluster_id"))
      // assignment + norm from the persisted store (r15): `nrm` was
      // written by the identical sqrt(dot_double(emb, emb)) expression,
      // so cos_q below is bit-identical to the inline formulation. The
      // trainer is still consulted for the centroid VALUES (cv) — a
      // model-sized cost, cached per JVM.
      assignedFrame(s, d)
        .join(broadcast(cdf), "cluster_id")
        // rank and keep derive from a 1e-6-QUANTIZED LONG, never a
        // round(double, 4): the 4-decimal double round is the
        // Spark-HALF_UP vs DuckDB-binary seam the BM25 score already
        // eliminated (ADVICE r11) — a half-exact 4th decimal flips
        // rank_in_cluster and keep between engines. cos_q is the module's
        // standard 1e-6 integer quantization; the displayed cosine is
        // cos_q/1e6, an identical long-by-literal double division in
        // both engines (bit-stable, exact to print).
        .withColumn("cos_q", round(expr("dot_double(emb, cv)") /
          (col("nrm") * sqrt(expr("dot_double(cv, cv)"))) * lit(1e6))
          .cast("long"))
        .withColumn("cos_centroid", col("cos_q") / lit(1e6))
        .withColumn("rank_in_cluster", row_number().over(
          byCluster.orderBy(col("cos_q").desc, col("vec_id"))))
        .withColumn("cluster_size", count(lit(1)).over(byCluster))
        .select(col("vec_id"), col("cluster_id"), col("cos_centroid"),
          col("rank_in_cluster"), col("cluster_size"),
          (lit(10) * col("rank_in_cluster") > col("cluster_size")).as("keep"))
    }),
    "ann_recall" -> ((s, d) => {
      // Recall@5 of each approximate index vs the bruteforce ground truth —
      // the first number a real ANN user asks of an index. All five result
      // sets are deterministic (and individually oracle-matched), so even
      // this quality metric is hash-checked. Sharing (r21, VERDICT r20
      // #1): ONE corpus pass computes every arm's encode — emb
      // ride-through, LSH signature, rank-ordered IVF probe cells, PQ
      // codes — materialized once; the five serving plans are the
      // standalone queries' own functions over that shared frame, so the
      // result sets are identical by construction (previously each arm
      // re-scanned and re-encoded the corpus: 5 passes). The ground
      // truth is 250 rows — the join is a broadcast, the aggregate is 4
      // rows. Denominator = the full 50×5 ground-truth set, so a method
      // returning < 5 hits for some query is penalized, not normalized
      // away.
      val e = withEmb(s, d)
      val idx = annIndex(e, d)
      val ivfFn = graft.functions.GraftFunctions.registerIvf(s, idx.centroids, 2)
      val pqFn = graft.functions.GraftFunctions.registerPq(s, idx.codebooks)
      import s.implicits._
      val qdf = pqLuts(idx.queryVecs, idx.codebooks).toDF("query_id", "lut")
      val enc = e.select(col("vec_id"), col("emb"),
          expr("hyperplane_sig16(emb)").as("sig"),
          expr(s"$ivfFn(emb)").as("cells"),
          expr(s"$pqFn(emb)").as("codes"))
        .transform(Materialize.once)
      val bf = bruteforceTopkOn(enc).select("query_id", "vec_id")
      Seq("lsh" -> lshTopkOn(enc), "ivf" -> ivfTopkOn(enc),
        "pq" -> pqTopkOn(enc, qdf), "ivfpq" -> ivfpqTopkOn(enc, enc, qdf))
        .map { case (m, q) =>
          q.select(lit(m).as("method"), col("query_id"), col("vec_id"))
        }
        .reduce(_ union _)
        .join(broadcast(bf), Seq("query_id", "vec_id"))
        .groupBy("method")
        .agg(count(lit(1)).as("hits"))
        .withColumn("recall_at_5",
          round(col("hits") / lit(QueryIds.length * 5.0), 4))
        .select("method", "hits", "recall_at_5")
    }),
    "ann_recall_production" -> ((s, d) => {
      // The index at PRODUCTION configuration (VERDICT r14 #5): IVF-64
      // coarse cells, nprobe=8, PQ 8×64-codeword codebooks — all
      // Lloyd-trained on a bounded hash-ordered sample — SELF-GRADED
      // in-plan (assert_true, the q_approx_distinct idiom). No DuckDB
      // oracle by design: 64-codeword float training isn't replayable
      // cross-engine; the row's point is the quality number the
      // oracle-sized 8/4 geometry (ann_recall) cannot show.
      //
      // WORKLOAD: 50 deterministic planted queries, q ∝ 0.95·seed +
      // noise, one per hash-chosen corpus seed. The fixture embeddings
      // are isotropic random unit vectors (no label geometry), so
      // natural queries have no findable structure for ANY pruning
      // index; planted queries measure the retrieval regime ANN serves
      // in production — a query whose true near neighbor exists. Two
      // numbers, both gated: planted-neighbor hit@1 (the production
      // question; floor ProdHitBound) and brute-force recall@5 (the
      // honest full number; floor ProdRecall5Bound ≈ what nprobe/K
      // geometry allows on the isotropic tail — see the scaladocs). The
      // serving plan is ann_ivfpq_topk's: one corpus pass to (cell,
      // codes), broadcast query cells × LUTs, ADC inside probed cells,
      // two-stage top-k.
      val e = withEmb(s, d)
      val (cents, books) = prodIndex(s, d)
      // planted queries: driver-built from the 50 cached seed vectors
      // (model-sized), deterministic noise per query id
      val seeds = annIndex(e, d).queryVecs
        .map { case (id, v) => (id, normalize(v)) }
      val mix = ProdQueryMix
      val noiseW = math.sqrt(1.0 - mix * mix)
      val planted = seeds.map { case (id, v) =>
        val rnd = new scala.util.Random(id)
        val noise = normalize(Array.fill(v.length)(rnd.nextGaussian()))
        (id, normalize(v.indices.map(i => mix * v(i) + noiseW * noise(i)).toArray))
      }
      val cellFn = graft.functions.GraftFunctions.registerIvf(s, cents, 1)
      val pqFn = graft.functions.GraftFunctions.registerPq(s, books)
      // encode the corpus in the SAME space the index was trained in:
      // unit-normalized (prodIndex trains on normalized samples; queries
      // are normalized) — on unit vectors ADC-L2 order is cosine order.
      // The fixture is already unit-norm so this is a no-op there, but a
      // corpus with norm variance would otherwise quantize raw vectors
      // against codebooks trained in a different space.
      //
      // Materialized ONCE: the (cell, codes) encode is the row family's
      // one corpus-sized pass, and every (nprobe × rerank) arm below
      // probes the same encoded table — exactly how a deployment serves
      // a tuning sweep (one index, many serve configs).
      val corpus = e
        .withColumn("n2", sqrt(expr("dot_double(emb, emb)")))
        .withColumn("ne", expr(
          "CASE WHEN n2 = 0 THEN emb ELSE transform(emb, x -> x / n2) END"))
        .select(col("vec_id"),
          expr(s"element_at($cellFn(ne), 1)").as("cell_id"),
          expr(s"$pqFn(ne)").as("codes"))
        .transform(Materialize.once)
      import s.implicits._
      val qvec = planted.map { case (id, v) => (id, v.toSeq) }
        .toDF("query_id", "qe")
      val qlut = pqLutsN(planted, books).toDF("query_id", "lut")
      // exact ground truth for the planted queries: brute-force cosine
      // top-5 (ONE corpus pass × 50 broadcast queries, shared by every
      // arm). The seed is INCLUDED on both arms — the query is synthetic
      // (a perturbation), not a corpus-member lookup, so the seed is a
      // legitimate neighbor, and excluding it from only one arm would
      // structurally cap recall@5 at 0.8 (the approx arm must return it
      // for the planted-hit gate).
      val bf = twoStageTopK(
        cosineCols(e.select(col("vec_id"), col("emb").as("ce"))
          .crossJoin(broadcast(qvec))),
        5, col("cosine").desc).select("query_id", "rank", "vec_id", "cosine")
        .transform(Materialize.once)
      // per-query 5th-best exact cosine — the COMPETITIVE-recall floor
      // (r16): on a replica-dense corpus the true top-5 is a tie class
      // of byte-identical embeddings, and id-graded recall@5 scores a
      // returned replica 0 even though it is exactly as close as the
      // ground truth's pick (measured sf10: ADC-only id-recall 0.04
      // from PQ-code ties alone). recall_at_5_cos counts a returned
      // neighbor that MEETS the ground truth's 5th-best cosine — the
      // tie-robust twin; id-graded recall stays the gated column.
      val bfFloor = bf.groupBy("query_id")
        .agg(min(col("cosine")).as("cos5"))
      // planted-neighbor hit: rank-1 returns something AT LEAST AS CLOSE
      // as the planted seed (exact cosine ≥ mix − ε). Graded by cosine,
      // not id equality: the scale fixtures replicate embeddings, so the
      // exact re-rank legitimately returns a replica of the seed — a
      // correct retrieval an id check would score 0 (observed at sf10:
      // id-hit 0.0 with recall@5 0.964).
      val hitFloor = math.round((ProdQueryMix - 0.02) * 1e6)
      val exactCos = round(expr("dot_double(ce, qe)") /
        sqrt(expr("dot_double(ce, ce)")) * lit(1e6)).cast("long")
      // TUNING CURVE (VERDICT r15 #5): the first knobs a production user
      // turns are nprobe and whether to pay the exact re-rank — emit the
      // whole recall surface from the ONE shared index build, one row
      // per (nprobe ∈ {4, 8, 16}) × (ADC-only | re-ranked), graded and
      // gated by [[gradeProdSweep]].
      // ONE probe + corpus join for the WHOLE sweep (r21; was one corpus
      // join per (nprobe, rerank) arm, each then re-evaluated by three
      // separate grading aggregates — JobProf: 65 jobs, 8.75 task-s).
      // IvfTopCells' cell order is TOTAL (cosine desc, id desc on ties),
      // so the np-probe cell set is exactly the first np entries of the
      // widest probe — each arm filters the probe rank instead
      // of re-joining the corpus (guide §2.4: operations keyed the same
      // way share one pass).
      val nps = ProdSweepArms.map(_._1).distinct
      val maxNp = nps.max
      val probeFn = graft.functions.GraftFunctions.registerIvf(s, cents, maxNp)
      val qcells = qvec.select(col("query_id"),
          posexplode(expr(s"$probeFn(qe)")))
        .withColumnRenamed("pos", "probe_rank")
        .withColumnRenamed("col", "cell_id")
      // LUT stride = the TRAINED codeword count (ADVICE r15): prodIndex
      // trains min(ProdPqCodewords, sample.length) codewords and
      // pqLutsN lays the LUT out with that stride — hardcoding
      // ProdPqCodewords would read wrong offsets (or past the array)
      // on a corpus with fewer than 64 embeddings.
      val scoredAll = corpus
        .join(broadcast(qcells.join(qlut, Seq("query_id"))), Seq("cell_id"))
        .withColumn("approx_dist", expr(adcExprN(books.head.length)))
        .select("query_id", "probe_rank", "vec_id", "approx_dist")
        .transform(Materialize.once)
      // production serving shape (rerank arm): ADC SHORTLIST
      // (top-ProdRerankDepth per query) → EXACT re-rank of the
      // shortlist's original vectors (O(Q·depth) — the
      // ann_hybrid_served_rerank idiom). The ADC-only arm serves the
      // raw compressed-domain top-5; its exact cosines are computed
      // for GRADING only (the order stays ADC order) — that arm shows
      // what the re-rank buys (measured sf10: hit@1 0.66 ADC-only vs
      // 1.0 re-ranked — PQ crowding erodes rank-1 as the corpus grows).
      //
      // Shared shortlist (r21): the ADC-only arm's top-5 is the first 5
      // rows of the SAME total order (approx_dist, vec_id) that ranks the
      // re-rank arm's top-ProdRerankDepth shortlist, so ONE shortlist per
      // nprobe serves both arms, and the exact-cosine join back to the
      // original vectors (the one remaining corpus-sized probe) runs once
      // for the whole sweep over the np-tagged union.
      val shortAll = nps.map { np =>
        twoStageTopK(scoredAll.filter(col("probe_rank") < np),
            ProdRerankDepth, col("approx_dist"))
          .select(lit(np).as("np"), col("query_id"),
            col("rank").as("adc_rank"), col("vec_id"))
      }.reduce(_ unionByName _)
      val scoredShort = shortAll
        .join(e.select(col("vec_id"), col("emb").as("ce")), Seq("vec_id"))
        .join(broadcast(qvec), Seq("query_id"))
        .withColumn("cos_q", exactCos)
        .select("np", "query_id", "adc_rank", "vec_id", "cos_q")
        .transform(Materialize.once)
      // Every arm's top-5 and ALL grading in ONE pass each (r21): the
      // re-rank top-5 of every np is a single window partitioned by
      // (np, query_id) — the same total order (cos_q desc, vec_id) the
      // old per-arm topk used, applied per group — the ADC-only top-5 is
      // a rank filter, and the (np, reranked)-tagged union reduces under
      // one groupBy: six aggregate subtrees + two crossJoins each
      // collapse to one aggregate. bf membership is a broadcast
      // LEFT-join marker and the per-query exact 5th-best floor rides
      // the same row (left join — an absent floor contributes 0 exactly
      // as the old inner join dropped the row); count(when(marker, 1))
      // ≡ the old inner-join count(*). Competitive-recall slack
      // unchanged: 1.1e-4 covers the 4-dp rounding of cos5 vs the 1e-6
      // quantization of cos_q — it can only loosen, and only at
      // diagnostics precision.
      val rerankRows = twoStageTopKBy(scoredShort.drop("adc_rank"),
          5, struct(col("np"), col("query_id")), xxhash64(col("vec_id")),
          Seq(col("cos_q").desc, col("vec_id")))
        .select(col("np"), lit(true).as("reranked"), col("query_id"),
          col("rank"), col("vec_id"), col("cos_q"))
      val adcRows = scoredShort.filter(col("adc_rank") <= 5)
        .select(col("np"), lit(false).as("reranked"), col("query_id"),
          col("adc_rank").as("rank"), col("vec_id"), col("cos_q"))
      val hits = rerankRows.unionByName(adcRows)
        .join(broadcast(bf.select(col("query_id"), col("vec_id"),
          lit(true).as("in_bf"))), Seq("query_id", "vec_id"), "left")
        .join(broadcast(bfFloor), Seq("query_id"), "left")
        .groupBy(col("np"), col("reranked"))
        .agg(
          sum(when(col("rank") === 1 && col("cos_q") >= hitFloor, 1L)
            .otherwise(0L)).as("hits1"),
          count(when(col("in_bf"), lit(1))).as("hits5"),
          sum(when(col("cos_q").cast("double") / lit(1e6) >=
            col("cos5") - lit(1.1e-4), 1L).otherwise(0L)).as("hits5c"))
      gradeProdSweep(hits, seeds.length, cents.length, books.head.length)
    }),
    "q_approx_distinct" -> ((s, d) => {
      // HLL sketch vs exact — no oracle (sketch internals differ across
      // engines), but SELF-GRADING (r14, VERDICT r13 #9): the estimate
      // must sit within the published HLL++ error envelope of the exact
      // count computed in the same query (default rsd 0.05; 3σ ≈ 0.15
      // relative error), enforced in-plan via assert_true — a sketch
      // regression now FAILS the run instead of hiding behind the
      // rows-only check. rel_err columns land in the output so the
      // artifact shows the actual accuracy, not just the pass.
      val HllRelErrBound = 0.15
      Tables.lineitem(s, d).agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_suppkey")).as("approx_supps"),
          countDistinct(col("l_suppkey")).as("exact_supps"))
        .withColumn("rel_err_parts", round(
          abs(col("approx_parts") - col("exact_parts")) /
            greatest(col("exact_parts"), lit(1L)), 4))
        .withColumn("rel_err_supps", round(
          abs(col("approx_supps") - col("exact_supps")) /
            greatest(col("exact_supps"), lit(1L)), 4))
        .filter(assert_true(
          col("rel_err_parts") <= HllRelErrBound &&
            col("rel_err_supps") <= HllRelErrBound).isNull)
    }),
    "q_approx_distinct_kmv" -> ((s, d) => {
      // The hash-green sibling of q_approx_distinct: a KMV (k-minimum-
      // values) sketch via the custom [[graft.functions.KmvDistinct]]
      // TypedImperativeAggregate. Unlike HLL registers, the k smallest
      // portable md5 hashes have an exact DuckDB twin (ORDER BY hash
      // LIMIT k), so the approximate answer itself is oracle-checked —
      // the sketch family graduates from rows-only to hash-matched.
      registerFns(s)
      Tables.lineitem(s, d).agg(
        expr("kmv_distinct(cast(l_partkey as string))").as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        expr("kmv_distinct(cast(l_suppkey as string))").as("approx_supps"),
        countDistinct(col("l_suppkey")).as("exact_supps"))
    }),
    "embedding_stats" -> ((s, d) => {
      withEmb(s, d)
        .withColumn("norm", sqrt(expr("dot_double(emb, emb)")))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), round(avg("norm"), 4).as("avg_norm"),
          round(min("norm"), 4).as("min_norm"), round(max("norm"), 4).as("max_norm"))
    })
  )

  /** Within-cluster candidate pairs with exact cosine — the core of
    * dedup_semantic (top-K head). Returns (cluster_id, id1, id2, cosine),
    * id1 < id2, cosine rounded to 4.
    *
    * Deliberately UNSALTED pair join, measured decision: the K-distinct
    * join key looks like a K-task funnel, but when the build side
    * BROADCASTS, a broadcast hash join's parallelism is the PROBE side's
    * partitioning — every a-partition enumerates its rows' pairs locally,
    * no shuffle, no funnel. A/B at sf1 (20k vectors, 50M pairs with the
    * r10 fixed K): unsalted 67 s vs hand-salted 186 s — the ×16 id2-side
    * replication pushed the build side out of broadcast range into a
    * sort-merge join, strictly worse. The broadcast is BYTE-GATED
    * (rows × dims-scaled payload; count and dims are footer-cheap jobs,
    * cached per content key), not an unconditional hint: a hint would
    * force-broadcast an arbitrarily large assignment table and OOM
    * exactly at scale. Past the gate the funnel is real, and the
    * adaptive answer is AQE skew-join, which applies exactly the
    * replicate-one-side split but only to partitions that measure
    * skewed — keep spark.sql.adaptive.skewJoin.enabled on rather than
    * hand-salting what the broadcast plan already solves below the gate.
    *
    * Self-norm is computed ONCE per vector, not per pair (1 dot + 1
    * multiply per pair instead of 3 dots — measured 2.37 → 2.12 s at
    * sf0.1), and the embedding payloads are dropped BEFORE anything
    * downstream ranks or filters: both consumers shuffle pair rows, and
    * carrying 2×64 doubles per pair turns a ~200 MB ranking input into
    * gigabytes at sf1.
    */
  /** The k-means assignment + norm pass behind dedup_semantic, PERSISTED
    * per content version (r15, VERDICT r14 #6): the serve-side cost of
    * dedup_semantic was dominated by re-running corpus × K centroid
    * cosines on every invocation (sf10: 500 k vecs × ~1000 derived
    * centroids × 64 dims ≈ 32 G multiply-adds ≈ the whole 192 cpu-s
    * serve). The assignment is a pure function of the corpus (trained
    * centroids are content-cached and deterministic), so it is written
    * once as (vec_id, cluster_id, emb, nrm) parquet — the docvec.parquet
    * idiom — and every later serve, including from a FRESH JVM, is a
    * narrow scan needing neither the Lloyd trainer nor the assignment
    * flops (the in-plan compute on every serve lost, AB_r15). Torn
    * writes rebuild: the _READY marker is created only after the parquet
    * commit.
    */
  private[graft] def assignedFrame(s: SparkSession, d: String): DataFrame =
    synchronized {
      // EVERY store operation — marker check/create, write, rename,
      // delete, read — goes through the SAME Hadoop FileSystem resolved
      // from the session config (ADVICE r15, medium): the previous
      // java.io.File marker/read split tore the publish protocol on any
      // deployment whose default FS isn't local (HDFS: a stale local
      // _READY could point at missing data, and fs.delete(root) never
      // removed the local marker). This now mirrors SigStore's publish
      // exactly.
      val (root, f) = semStoreRoot(s, d)
      val ready = new org.apache.hadoop.fs.Path(root, "_READY")
      val dst = new org.apache.hadoop.fs.Path(root, "assign.parquet")
      if (!f.exists(ready)) {
        graft.ColdBuilds.record("sem_assign_build")
        // write-then-RENAME publish (the SigStore remap idiom): a reader
        // can never scan a half-written assign.parquet, and a crash
        // leaves only an unpublished tmp dir (no _READY → rebuild). The
        // single-WRITER convention is the store family's usual one
        // (intra-JVM serialized here; concurrent writers across JVMs
        // need external coordination, as with every graft store).
        val tmp = new org.apache.hadoop.fs.Path(root, "assign.tmp")
        f.delete(root, true)
        computeAssignment(s, d).write.mode("overwrite").parquet(tmp.toString)
        require(f.rename(tmp, dst), s"assignment store publish failed: $dst")
        // centroid VALUES ride beside the assignments (r17, VERDICT r16
        // #4): a kilobyte of model state whose absence forced every
        // fresh-JVM prototypicality serve to re-run the full Lloyd
        // trainer (sf10: 169 cpu-s for K=4 centroids). The assignment above
        // already trained them, so this is a free model-sized write —
        // published under the SAME _READY as the assignments they
        // produced, so the pair can never tear.
        import s.implicits._
        val cents = trainedCentroids(s, d)
        val ctmp = new org.apache.hadoop.fs.Path(root, "centroids.tmp")
        val cdst = centroidsPath(root)
        cents.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toSeq
          .toDF("cluster_id", "cv")
          .coalesce(1).write.mode("overwrite").parquet(ctmp.toString)
        require(f.rename(ctmp, cdst), s"centroid store publish failed: $cdst")
        // dedup_semantic's ranked pair head rides beside the assignments
        // too (r18, VERDICT r17 #4): the serve-side cost of dedup_semantic
        // was dominated by re-enumerating every intra-cluster pair —
        // Σ|cluster|² ≈ n · target pairs × dims multiply-adds ≈ the whole
        // 170 cpu-s sf10 serve, paid on EVERY invocation including warm
        // restarts, for a K·SemanticTopK-row answer. The head is a pure
        // function of the corpus (deterministic centroids ⇒ deterministic
        // assignment ⇒ deterministic ranked pairs), so it is written once
        // and every later serve is an O(output)-row scan. Published under
        // the SAME _READY, so assignment and head can never tear; sized
        // K × SemanticTopK rows — kilobytes at any corpus scale.
        graft.ColdBuilds.record("sem_pairs_build")
        val aM = Tables.parquet(s, dst.toString).transform(Materialize.once)
        val ptmp = new org.apache.hadoop.fs.Path(root, "toppairs.tmp")
        // repartition(1), NOT coalesce(1): coalesce would fold the final
        // ranking stage into the single writer task; the extra shuffle
        // moves only the K × SemanticTopK output rows
        topPairsHead(pairsFromAssigned(s, aM, embCount(s, d), embDim(s, d)))
          .repartition(1).write.mode("overwrite").parquet(ptmp.toString)
        Materialize.drop(aM)
        require(f.rename(ptmp, topPairsPath(root)),
          s"pair-head store publish failed: ${topPairsPath(root)}")
        f.create(ready).close()
      }
      // a BARE parquet scan (ADVICE r15, low): only dedup_semantic's
      // self-join has two consumers, and the pair-head build above
      // materializes the frame before joining;
      // embedding_kmeans / embedding_prototypicality each consume the
      // frame once, and localCheckpointing the full (emb, nrm) payload
      // for a single narrow scan contradicts the store's whole point.
      Tables.parquet(s, dst.toString)
    }

  /** The (vec_id, cluster_id, emb, nrm) assignment the store persists:
    * each vector's nearest trained centroid by cosine, plus its norm.
    */
  private[graft] def computeAssignment(s: SparkSession, d: String): DataFrame = {
    val cents = trainedCentroids(s, d)
    val fn = graft.functions.GraftFunctions.registerIvf(s, cents, 1)
    withEmb(s, d)
      .select(col("vec_id"), expr(s"element_at($fn(emb), 1)").as("cluster_id"),
        col("emb"), sqrt(expr("dot_double(emb, emb)")).as("nrm"))
  }

  /** The intra-cluster pair join over an already-materialized (or
    * store-scanned) assignment frame — shared by the build/self-upgrade
    * paths of the persisted pair head and the in-plan pair enumeration
    * specs compare it with, so both come from the byte-identical plan.
    */
  private[graft] def pairsFromAssigned(s: SparkSession, assigned: DataFrame,
      nVec: Long, dims: Int): DataFrame = {
    // the stored assignedFrame path never touches withEmb, so the session
    // functions (dot_double below) must register here explicitly
    registerFns(s)
    val a = assigned.select(col("cluster_id"), col("vec_id").as("id1"),
      col("emb").as("e1"), col("nrm").as("n1"))
    val b0 = assigned.select(col("cluster_id"), col("vec_id").as("id2"),
      col("emb").as("e2"), col("nrm").as("n2"))
    val b =
      if (semanticBroadcastBytes(nVec, dims) <= SemanticBroadcastMaxBytes)
        broadcast(b0)
      else b0
    a.join(b, Seq("cluster_id"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine",
        round(expr("dot_double(e1, e2)") / (col("n1") * col("n2")), 4))
      .select("cluster_id", "id1", "id2", "cosine")
  }

  /** The ranked per-cluster head (rank ≤ [[SemanticTopK]]) of the pair
    * join — the frame the pair-head store persists and `is_dup` derives
    * from.
    */
  private[graft] def topPairsHead(pairs: DataFrame): DataFrame =
    twoStageTopKBy(pairs, SemanticTopK, col("cluster_id"),
      xxhash64(col("id1"), col("id2")),
      Seq(col("cosine").desc, col("id1"), col("id2")))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * near-duplicate discovery SCOPED to the trained k-means clusters —
    * pairwise cosine runs only within a cluster, so candidate volume is
    * Σ |cluster|² instead of the n² all-pairs that dedup_embedding_topk
    * fences off. That is the published recipe for embedding-level dedup
    * at web scale, INCLUDING its k: K is derived per corpus as
    * kmeansKFor(n) = clamp(n / target-cluster-size, 4, 1024), so
    * per-cluster work is bounded by construction (Σ|cluster|² ≈
    * n · target) instead of growing n²/K with a fixed K (VERDICT r10 #1).
    * The oracle derives k from count(*) identically. Output: per-cluster
    * top-SemanticTopK pairs by cosine with the SemDeDup keep/drop verdict
    * (`is_dup` at SemanticDupThreshold) — rank-based output keeps the
    * oracle non-vacuous on the random fixture embeddings, where a
    * threshold alone would select nothing. The per-cluster ranking is the
    * salted two-stage top-k (same argument as [[twoStageTopK]]: a bare
    * PARTITION BY cluster window caps the final stage at k tasks on a
    * real cluster; salt groups rank locally first and provably never drop
    * a global winner), over a total order (rounded cosine desc, then the
    * unique id pair) — the same tie-break discipline as every other
    * hash-checked ranking.
    */
  private def semanticTopPairs(s: SparkSession, d: String): DataFrame = {
    // STORE-FIRST (r18, VERDICT r17 #4): the ranked head is persisted
    // beside the assignments (same _READY), so a serve — warm OR from a
    // fresh JVM — reads K × SemanticTopK rows instead of re-running
    // Σ|cluster|² pair cosines (the whole 170 cpu-s sf10 serve; the
    // in-plan enumeration on every serve lost, AB_r18).
    assignedFrame(s, d): Unit // plan-only when published; builds
                              // (and publishes the pair head) if not
    val (root, f) = semStoreRoot(s, d)
    val pdst = topPairsPath(root)
    if (!f.exists(pdst)) synchronized {
      // a store published BEFORE the pair head existed self-upgrades,
      // exactly like the legacy-centroid path: compute from the
      // published assignments, tmp→rename, tolerate a lost cross-JVM
      // race (the rows are deterministic — whichever writer wins
      // published the same bytes).
      if (!f.exists(pdst)) {
        graft.ColdBuilds.record("sem_pairs_build")
        val aM = Tables.parquet(s, 
          new org.apache.hadoop.fs.Path(root, "assign.parquet").toString)
          .transform(Materialize.once)
        val ptmp = new org.apache.hadoop.fs.Path(root, "toppairs.tmp")
        topPairsHead(pairsFromAssigned(s, aM, embCount(s, d), embDim(s, d)))
          .repartition(1).write.mode("overwrite").parquet(ptmp.toString)
        Materialize.drop(aM)
        if (!f.rename(ptmp, pdst)) {
          require(f.exists(pdst), s"pair-head upgrade failed: $pdst")
          f.delete(ptmp, true)
        }
      }
    }
    graft.ColdBuilds.record("sem_pairs_load")
    Tables.parquet(s, pdst.toString)
      .withColumn("is_dup", col("cosine") >= SemanticDupThreshold)
      .select("cluster_id", "rank", "id1", "id2", "cosine", "is_dup")
  }

  private val planesSqlLit: String =
    planes.map(row => s"[${row.mkString(",")}]").mkString("[", ",", "]")

  private val planes48SqlLit: String =
    planes48.map(row => s"[${row.mkString(",")}]").mkString("[", ",", "]")

  private[operators] val embCte =
    "e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) emb FROM embeddings)"

  /** Shared IVF×PQ oracle body; `corpusPred` restricts the CANDIDATE side
    * (alias `cl`, carrying `label`) — the model CTEs (cent/smp) are always
    * trained on the full corpus, mirroring the frozen-index contract of
    * the filtered query.
    */
  private def ivfpqOracle(corpusPred: String): String =
    ivfpqOracleFor(queryIdsSql, 5, corpusPred)

  /** [[ivfpqOracle]] generalized over the query-id set and rank depth —
    * the served hybrid fusion (BmStore) ranks the Retrieval query basket
    * to FuseDepth with the same frozen-index arithmetic.
    */
  private[graft] def ivfpqOracleFor(qIdsSql: String, k: Int,
      corpusPred: String = "TRUE", nprobe: Int = 2): String =
    s"""WITH $embCte,
       |h AS (SELECT vec_id, emb, ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT h FROM e),
       |cent AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) cell_id, emb cv
       |         FROM h ORDER BY h, vec_id LIMIT 8),
       |cs AS (SELECT e.vec_id, e.label, c.cell_id,
       |         list_dot_product(e.emb, c.cv) /
       |           (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cv, c.cv))) cos
       |       FROM e CROSS JOIN cent c),
       |crk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell_id DESC) r FROM cs),
       |cells AS (SELECT vec_id, label, cell_id FROM crk WHERE r = 1),
       |qc AS (SELECT vec_id query_id, cell_id FROM crk WHERE r <= $nprobe AND vec_id IN ($qIdsSql)),
       |smp AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) k, emb
       |        FROM h ORDER BY h, vec_id LIMIT 4),
       |cb AS (SELECT m, k, emb[m*8+1 : m*8+8] cv FROM smp, unnest(range(0, 8)) t(m)),
       |dists AS (SELECT e.vec_id, cb.m, cb.k,
       |    list_sum(list_transform(range(0, 8), i ->
       |      (e.emb[cb.m*8+i+1] - cb.cv[i+1]) * (e.emb[cb.m*8+i+1] - cb.cv[i+1]))) dist
       |  FROM e CROSS JOIN cb),
       |drk AS (SELECT vec_id, m, k, dist,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) r FROM dists),
       |codes AS (SELECT vec_id, list(k ORDER BY m) codes FROM drk WHERE r = 1 GROUP BY vec_id),
       |lutl AS (SELECT vec_id query_id, list(dist ORDER BY m, k) lut
       |         FROM dists WHERE vec_id IN ($qIdsSql) GROUP BY vec_id),
       |p AS (SELECT q.query_id, cl.vec_id,
       |        list_sum(list_transform(range(0, 8), m -> l.lut[m*4 + c.codes[m+1] + 1])) adist
       |      FROM qc q JOIN cells cl USING (cell_id)
       |           JOIN codes c ON c.vec_id = cl.vec_id
       |           JOIN lutl l ON l.query_id = q.query_id
       |      WHERE cl.vec_id <> q.query_id AND $corpusPred)
       |SELECT query_id, rank, vec_id, round(adist, 4) approx_dist FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS INT) rank
       |  FROM p) WHERE rank <= $k""".stripMargin

  /** The plane matrix is materialized ONCE as a 16-row CTE. The previous
    * formulation indexed the 16×64 nested-list LITERAL inside the
    * per-element lambda — DuckDB re-constructs the literal per access,
    * which turned a 1k-multiply signature into the single most expensive
    * oracle family (hundreds of seconds at sf0.01; this shape is
    * milliseconds). `list_dot_product` sums left-to-right like the
    * list_transform/list_sum original, so signs — and hashes — are
    * unchanged.
    */
  private val sigCteSql =
    s"""pl AS (SELECT p, ($planesSqlLit)[p+1] pv FROM unnest(range(0, 16)) t(p)),
       |sgv AS (SELECT e.vec_id,
       |  CAST(sum(CASE WHEN list_dot_product(e.emb, pl.pv) > 0
       |                THEN (1::BIGINT << pl.p) ELSE 0::BIGINT END) AS BIGINT) sig
       |  FROM e CROSS JOIN pl GROUP BY e.vec_id),
       |sg AS (SELECT e.vec_id, e.emb, sgv.sig FROM e JOIN sgv USING (vec_id))""".stripMargin

  /** ann_recall's oracle composes the (already individually hash-matched)
    * per-method oracle statements as nested CTEs — DuckDB scopes each
    * nested WITH to its own subquery, so the shared inner names (e, h, …)
    * don't clash.
    */
  private lazy val annRecallSql: String = {
    def sub(n: String) = s"(${baseOracleSql(n)})"
    s"""WITH bf AS ${sub("ann_bruteforce_topk")},
       |m_lsh AS ${sub("ann_lsh_topk")},
       |m_ivf AS ${sub("ann_ivf_topk")},
       |m_pq AS ${sub("ann_pq_topk")},
       |m_ivfpq AS ${sub("ann_ivfpq_topk")},
       |u AS (
       |  SELECT 'lsh' AS method, query_id, vec_id FROM m_lsh
       |  UNION ALL SELECT 'ivf', query_id, vec_id FROM m_ivf
       |  UNION ALL SELECT 'pq', query_id, vec_id FROM m_pq
       |  UNION ALL SELECT 'ivfpq', query_id, vec_id FROM m_ivfpq)
       |SELECT method, count(*) hits,
       |  round(count(*) / ${QueryIds.length * 5}.0::DOUBLE, 4) recall_at_5
       |FROM u JOIN bf USING (query_id, vec_id)
       |GROUP BY method""".stripMargin
  }

  def oracleSql: Map[String, String] =
    baseOracleSql + ("ann_recall" -> annRecallSql)

  private[operators] lazy val baseOracleSql: Map[String, String] = Map(
    // KMV estimator twin: the k smallest distinct portable hashes are
    // fully expressible (ORDER BY hash LIMIT k) — same arithmetic, same
    // rounding, hash-green unlike HLL.
    "q_approx_distinct_kmv" ->
      """WITH hp AS (SELECT DISTINCT ('0x' || substr(md5(l_partkey::VARCHAR), 1, 8))::BIGINT hv FROM lineitem),
        |mp AS (SELECT hv FROM hp ORDER BY hv LIMIT 256),
        |sp AS (SELECT count(*) n, max(hv) hk FROM mp),
        |hs AS (SELECT DISTINCT ('0x' || substr(md5(l_suppkey::VARCHAR), 1, 8))::BIGINT hv FROM lineitem),
        |ms AS (SELECT hv FROM hs ORDER BY hv LIMIT 256),
        |ss AS (SELECT count(*) n, max(hv) hk FROM ms)
        |SELECT
        |  CASE WHEN sp.n < 256 THEN sp.n
        |       ELSE CAST(round(255.0 * 4294967296.0 / sp.hk) AS BIGINT) END approx_parts,
        |  (SELECT count(DISTINCT l_partkey) FROM lineitem) exact_parts,
        |  CASE WHEN ss.n < 256 THEN ss.n
        |       ELSE CAST(round(255.0 * 4294967296.0 / ss.hk) AS BIGINT) END approx_supps,
        |  (SELECT count(DISTINCT l_suppkey) FROM lineitem) exact_supps
        |FROM sp, ss""".stripMargin,
    "ann_bruteforce_topk" ->
      s"""WITH $embCte,
         |p AS (SELECT q.vec_id query_id, c.vec_id,
         |        round(list_dot_product(q.emb, c.emb) /
         |          (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 4) cosine
         |      FROM e q JOIN e c ON q.vec_id IN ($queryIdsSql) AND q.vec_id <> c.vec_id)
         |SELECT query_id, rank, vec_id, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) rank
         |  FROM p) WHERE rank <= 5""".stripMargin,
    // id-only DISTINCT then embeddings joined back — DISTINCT over rows
    // carrying two 64-double lists hashes the payloads per candidate (the
    // same trap the Spark side avoids; measured 100×+ on this family)
    "ann_lsh_topk" ->
      s"""WITH $embCte, $sigCteSql,
         |bands AS (SELECT vec_id, b band_id, (sig >> (b * 4)) & 15 band_val
         |          FROM sg, unnest(range(0, 4)) t(b)),
         |cand AS (SELECT DISTINCT q.vec_id query_id, c.vec_id
         |         FROM bands q JOIN bands c
         |           ON q.band_id = c.band_id AND q.band_val = c.band_val
         |          AND q.vec_id IN ($queryIdsSql) AND q.vec_id <> c.vec_id),
         |p AS (SELECT cand.query_id, cand.vec_id,
         |        round(list_dot_product(qv.emb, cv.emb) /
         |          (sqrt(list_dot_product(qv.emb, qv.emb)) * sqrt(list_dot_product(cv.emb, cv.emb))), 4) cosine
         |      FROM cand JOIN e qv ON qv.vec_id = cand.query_id
         |                JOIN e cv ON cv.vec_id = cand.vec_id)
         |SELECT query_id, rank, vec_id, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) rank
         |  FROM p) WHERE rank <= 5""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH $embCte, $sigCteSql,
         |bands AS (SELECT vec_id, b band_id, (sig >> (b * 4)) & 15 band_val
         |          FROM sg, unnest(range(0, 4)) t(b)),
         |cand AS (SELECT DISTINCT a.vec_id id1, b.vec_id id2
         |         FROM bands a JOIN bands b
         |           ON a.band_id = b.band_id AND a.band_val = b.band_val
         |          AND a.vec_id < b.vec_id)
         |SELECT id1, id2,
         |  round(list_dot_product(qv.emb, cv.emb) /
         |    (sqrt(list_dot_product(qv.emb, qv.emb)) * sqrt(list_dot_product(cv.emb, cv.emb))), 4) cosine
         |FROM cand JOIN e qv ON qv.vec_id = cand.id1
         |          JOIN e cv ON cv.vec_id = cand.id2
         |ORDER BY cosine DESC, id1, id2 LIMIT 20""".stripMargin,
    // 48-plane signature + DERIVED band width (fineBandBits: smallest
    // b in [8,24] with 2^b * target >= n, integer-only — no log2 float
    // seam); at oracle scales bits = 8, reproducing the fixed banding
    "dedup_embedding_lsh_fine" ->
      s"""WITH $embCte,
         |pl48 AS (SELECT p, ($planes48SqlLit)[p+1] pv FROM unnest(range(0, 48)) t(p)),
         |sg48 AS (SELECT e.vec_id,
         |  CAST(sum(CASE WHEN list_dot_product(e.emb, pl48.pv) > 0
         |                THEN (1::BIGINT << pl48.p) ELSE 0::BIGINT END) AS BIGINT) sig
         |  FROM e CROSS JOIN pl48 GROUP BY e.vec_id),
         |bb AS (SELECT coalesce(MIN(b), 24) bits
         |       FROM (SELECT unnest(range(8, 25)) b), (SELECT count(*) n FROM e)
         |       WHERE (1::BIGINT << b) * $FineTargetBucket >= n),
         |bands AS (SELECT vec_id, b band_id,
         |            (sig >> (b * bits)) & ((1::BIGINT << bits) - 1) band_val
         |          FROM sg48, unnest(range(0, 2)) t(b), bb),
         |cand AS (SELECT DISTINCT a.vec_id id1, b.vec_id id2
         |         FROM bands a JOIN bands b
         |           ON a.band_id = b.band_id AND a.band_val = b.band_val
         |          AND a.vec_id < b.vec_id)
         |SELECT id1, id2,
         |  round(list_dot_product(qv.emb, cv.emb) /
         |    (sqrt(list_dot_product(qv.emb, qv.emb)) * sqrt(list_dot_product(cv.emb, cv.emb))), 4) cosine
         |FROM cand JOIN e qv ON qv.vec_id = cand.id1
         |          JOIN e cv ON cv.vec_id = cand.id2
         |ORDER BY cosine DESC, id1, id2 LIMIT 20""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH $embCte,
         |h AS (SELECT vec_id, emb, ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT h FROM e),
         |cent AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) cell_id, emb cv
         |         FROM h ORDER BY h, vec_id LIMIT 8),
         |cs AS (SELECT e.vec_id, e.emb, c.cell_id,
         |         list_dot_product(e.emb, c.cv) /
         |           (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(c.cv, c.cv))) cos
         |       FROM e CROSS JOIN cent c),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell_id DESC) r FROM cs),
         |corpus AS (SELECT vec_id, emb ce, cell_id FROM rk WHERE r = 1),
         |q AS (SELECT vec_id query_id, emb qe, cell_id FROM rk WHERE r <= 2 AND vec_id IN ($queryIdsSql)),
         |p AS (SELECT query_id, c.vec_id,
         |        round(list_dot_product(qe, ce) /
         |          (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))), 4) cosine
         |      FROM q JOIN corpus c USING (cell_id) WHERE c.vec_id <> q.query_id)
         |SELECT query_id, rank, vec_id, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) rank
         |  FROM p) WHERE rank <= 5""".stripMargin,
    "ann_pq_topk" ->
      s"""WITH $embCte,
         |h AS (SELECT vec_id, emb, ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT h FROM e),
         |smp AS (SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) k, emb
         |        FROM h ORDER BY h, vec_id LIMIT 4),
         |cb AS (SELECT m, k, emb[m*8+1 : m*8+8] cv FROM smp, unnest(range(0, 8)) t(m)),
         |dists AS (SELECT e.vec_id, cb.m, cb.k,
         |    list_sum(list_transform(range(0, 8), i ->
         |      (e.emb[cb.m*8+i+1] - cb.cv[i+1]) * (e.emb[cb.m*8+i+1] - cb.cv[i+1]))) dist
         |  FROM e CROSS JOIN cb),
         |rk AS (SELECT vec_id, m, k, dist,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) r FROM dists),
         |codes AS (SELECT vec_id, list(k ORDER BY m) codes FROM rk WHERE r = 1 GROUP BY vec_id),
         |lutl AS (SELECT vec_id query_id, list(dist ORDER BY m, k) lut
         |         FROM dists WHERE vec_id IN ($queryIdsSql) GROUP BY vec_id),
         |p AS (SELECT l.query_id, c.vec_id,
         |        list_sum(list_transform(range(0, 8), m -> l.lut[m*4 + c.codes[m+1] + 1])) adist
         |      FROM codes c CROSS JOIN lutl l WHERE c.vec_id <> l.query_id)
         |SELECT query_id, rank, vec_id, round(adist, 4) approx_dist FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS INT) rank
         |  FROM p) WHERE rank <= 5""".stripMargin,
    "ann_ivfpq_topk" -> ivfpqOracle(corpusPred = "TRUE"),
    "ann_ivfpq_filtered_topk" ->
      ivfpqOracle(corpusPred = s"cl.label < $FilteredLabelLt"),
    "embedding_stats" ->
      s"""WITH $embCte
         |SELECT label, count(*) n,
         |  round(avg(sqrt(list_dot_product(emb, emb))), 4) avg_norm,
         |  round(min(sqrt(list_dot_product(emb, emb))), 4) min_norm,
         |  round(max(sqrt(list_dot_product(emb, emb))), 4) max_norm
         |FROM e GROUP BY label""".stripMargin,
    "embedding_kmeans" ->
      s"""WITH $kmeansCtes
         |SELECT vec_id, cell AS cluster_id,
         |  count(*) OVER (PARTITION BY cell) cluster_size
         |FROM af""".stripMargin,
    // cluster-scoped pairwise cosine + per-cluster ranked head — composes
    // the proven kmeans assignment CTE (`af`) with the dedup_embedding
    // cosine formulation, so both halves are already individually
    // hash-matched
    "dedup_semantic" ->
      s"""WITH $kmeansCtes,
         |p AS (SELECT a.cell AS cluster_id, a.vec_id id1, b.vec_id id2,
         |  round(list_dot_product(a.emb, b.emb) /
         |    (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) cosine
         |  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY cluster_id
         |  ORDER BY cosine DESC, id1, id2) AS INT) AS rank FROM p)
         |SELECT cluster_id, rank, id1, id2, cosine,
         |  cosine >= $SemanticDupThreshold AS is_dup
         |FROM r WHERE rank <= $SemanticTopK""".stripMargin,
    // cosine-to-own-centroid ranking off the same proven kmeans CTEs;
    // centroid values c$KmeansIters reproduce the Scala trainer's
    // sq::DOUBLE / n / quant division sequence bit-exactly
    "embedding_prototypicality" ->
      s"""WITH $kmeansCtes,
         |pr AS (SELECT af.vec_id, af.cell cluster_id,
         |  CAST(round(list_dot_product(af.emb, c.cv) /
         |    (sqrt(list_dot_product(af.emb, af.emb)) * sqrt(list_dot_product(c.cv, c.cv))) * 1e6) AS BIGINT) cos_q
         |  FROM af JOIN c$KmeansIters c ON c.cell = af.cell)
         |SELECT vec_id, cluster_id, cos_centroid, rank_in_cluster, cluster_size,
         |  (10 * rank_in_cluster > cluster_size) keep FROM (
         |  SELECT vec_id, cluster_id, cos_q / 1e6 cos_centroid,
         |    CAST(row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY cos_q DESC, vec_id) AS INT) rank_in_cluster,
         |    count(*) OVER (PARTITION BY cluster_id) cluster_size
         |  FROM pr)""".stripMargin
  )

  /** The kmeans WITH-body up to `af` (final cluster assignment): the same
    * 3 unrolled Lloyd iterations as the Spark side — cosine assignment
    * (ranked cos DESC, cell DESC like IvfTopCells), integer-quantized
    * element-wise means, empty cluster keeps its previous centroid —
    * shared by the embedding_kmeans and dedup_semantic oracles.
    */
  private def kmeansCtes: String = {
    def assign(name: String, cents: String, src: String) =
      s"""$name AS (SELECT vec_id, emb, cell FROM (
         |  SELECT $src.vec_id, $src.emb, c.cell,
         |    row_number() OVER (PARTITION BY $src.vec_id ORDER BY
         |      list_dot_product($src.emb, c.cv) /
         |        (sqrt(list_dot_product($src.emb, $src.emb)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
         |      c.cell DESC) r
         |  FROM $src CROSS JOIN $cents c) WHERE r = 1)""".stripMargin
    // iterations assign the TRAINING PREFIX (`tr`, the kmeansTrainCap
    // hash-ordered sample — the full corpus wherever cap >= n); only the
    // final `af` assignment covers all of `e`
    val iters = (1 to KmeansIters).map { i =>
      val prev = s"c${i - 1}"
      s"""${assign(s"a$i", prev, "tr")},
         |s$i AS (SELECT cell, i, sum(CAST(round(emb[i] * $KmeansQuant) AS BIGINT)) sq, count(*) n
         |        FROM a$i, unnest(range(1, 65)) t(i) GROUP BY cell, i),
         |n$i AS (SELECT cell, list(sq::DOUBLE / n / $KmeansQuant ORDER BY i) cv FROM s$i GROUP BY cell),
         |c$i AS (SELECT p.cell, coalesce(n$i.cv, p.cv) cv FROM $prev p LEFT JOIN n$i USING (cell))""".stripMargin
    }.mkString(",\n")
    s"""$embCte,
       |h AS (SELECT vec_id, emb, ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT h FROM e),
       |kk AS (SELECT LEAST($KmeansKMax, GREATEST($KmeansKMin,
       |         count(*) // $SemanticTargetClusterSize)) k FROM e),
       |c0 AS (SELECT cell, cv FROM (
       |         SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS INT) cell, emb cv
       |         FROM h) t CROSS JOIN kk WHERE t.cell < kk.k),
       |tr AS (SELECT vec_id, emb FROM h ORDER BY h, vec_id
       |       LIMIT (SELECT GREATEST(k * $KmeansTrainFactor, $KmeansTrainMin) FROM kk)),
       |$iters,
       |${assign("af", s"c$KmeansIters", "e")}""".stripMargin
  }
}
