package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Datasets, Tables}

/** Deduplication operators over the `documents` / `embeddings` tables —
  * the LLM-data-pipeline surface (north_star): exact dedup, MinHash
  * signatures + banded LSH candidate pairs, SimHash fingerprints +
  * hamming pairs, exact n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Portability backbone: every hash is `int(md5(x)[:8 hex])` — identical in
  * Spark (`conv(substring(md5(x),1,8),16,10)`) and DuckDB
  * (`('0x'||substr(md5(x),1,8))::BIGINT`) — so even the MinHash/LSH output
  * is bit-for-bit oracle-checkable. Everything is built-in higher-order
  * functions (transform/aggregate/zip_with), fully codegen-friendly, no
  * UDFs.
  *
  * Scale notes: every pair-producing query here is equi-join shaped — no
  * cartesian anywhere. dedup_minhash_pairs buckets on MinHash LSH bands;
  * dedup_simhash_pairs uses the pigeonhole guarantee (hamming ≤ 6 over 48
  * bits ⇒ ≥ 1 of 7 7-bit bands identical) so the banded equi-join is
  * EXACT, not approximate; dedup_ngram_jaccard joins an inverted shingle
  * index (pairs with jaccard > 0 share ≥ 1 shingle). The one remaining
  * all-pairs query, dedup_embedding_topk, is an sf ≤ 0.1 correctness
  * baseline only — its 100 TB twin is Similarity.dedup_embedding_lsh.
  */
object Dedup {

  /** documents → (doc_id, sh: distinct 3-word shingles) via the compact
    * [[graft.functions.WordShingles]] evaluator (the equivalent
    * higher-order-function expression is interpreted and ~10× slower).
    * NULL shingles = fewer than 3 words, filtered like the oracle's
    * `WHERE len(ws) >= 3`.
    */
  private[graft] def withShingles(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("sh", expr("word_shingles(text)"))
      .filter(col("sh").isNotNull)
  }

  /** 16-element MinHash signature over shingles.
    *
    * One md5 per shingle (`base = int(md5(s)[:8]) mod p`), then an affine
    * family `h_i = (a_i * base + b_i) mod p` with plan-time constants —
    * 16× fewer md5 evaluations than hashing per (seed, shingle), which
    * dominated the sf0.1 bench. p = 2^31-1 keeps a_i * base < 2^62 so the
    * arithmetic is overflow-free (and identical) in both engines.
    */
  private val MinhashP = 2147483647L
  private[operators] val hashA: IndexedSeq[Long] =
    (0 until 16).map(i => 1L + graft.functions.PortableHash.md5Int8(s"a:$i") % (MinhashP - 1))
  private[operators] val hashB: IndexedSeq[Long] =
    (0 until 16).map(i => graft.functions.PortableHash.md5Int8(s"b:$i") % MinhashP)

  /** (doc_id, sig) via explode + partial aggregation: md5 evaluates exactly
    * once per (doc, shingle) row, the 16 seed minima are plain `min()`
    * aggregates (map-side combined before any shuffle) — the shape that
    * survives 100 TB, unlike nested array lambdas which Catalyst's project
    * collapsing would re-evaluate per seed.
    */
  private def minhashSigs(docs: DataFrame): DataFrame =
    minhashSigsFromShingles(withShingles(docs))

  /** Same, from an already-shingled (doc_id, sh) frame — lets
    * dedup_minhash_pairs materialize the shingle pass once and feed both
    * the signature build and the exact-Jaccard confirm.
    */
  private def minhashSigsFromShingles(shingled: DataFrame): DataFrame = {
    // native portable-hash prefix (r21): same value as
    // cast(conv(substring(md5(s),1,8),16,10) as bigint) — which stays the
    // oracle form — minus the per-shingle hex-string round-trip
    graft.functions.GraftFunctions.register(shingled.sparkSession)
    val exploded = shingled
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .withColumn("h", expr(s"md5_prefix8(s) % $MinhashP"))
    val aggs = (0 until 16).map(i =>
      min(expr(s"(${hashA(i)} * h + ${hashB(i)}) % $MinhashP")).as(s"m$i"))
    exploded
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until 16).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Banded-LSH candidate pairs (d1 < d2, distinct) from the 16-hash
    * MinHash signature split into 4 bands × 4 rows — the PRE-confirm
    * stage shared by dedup_minhash_pairs (which exact-Jaccard-confirms
    * them) and dedup_eval_minhash (which grades them against exact
    * ground truth).
    */
  private def minhashCandidates(sh: DataFrame): DataFrame = {
    val bands = minhashSigsFromShingles(sh).select(
      col("doc_id"),
      explode(expr(
        """transform(sequence(0, 3), b -> struct(b as band_id,
          |  concat_ws(',', transform(slice(sig, b * 4 + 1, 4), x -> cast(x as string))) as band_key))""".stripMargin
      )).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_key"))
    bands.select(col("doc_id").as("d1"), col("band_id"), col("band_key"))
      .join(bands.select(col("doc_id").as("d2"), col("band_id"), col("band_key")),
        Seq("band_id", "band_key"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()
  }

  /** 48-bit SimHash over word tokens (occurrence-weighted); 48 bits keeps
    * `1 << b` inside BIGINT in both engines. One pass per doc via the
    * custom [[graft.functions.SimHash48]] evaluator (the
    * explode-words × explode-bits + double-aggregation plan inflated rows
    * 48× and shuffled twice).
    */
  private[graft] def simhash(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), expr("simhash48(text)").as("simhash"))
  }

  /** 7 pigeonhole bands of ≤ 7 bits from a 48-bit simhash: hamming ≤ 6
    * cannot touch all 7 bands, so every qualifying pair collides on ≥ 1
    * (band_id, band_bits) key — the exact-candidate guarantee behind
    * dedup_simhash_pairs and dedup_incremental. Static posexplode, no
    * interpreted lambda.
    */
  private[operators] def banded7(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 7).map(b =>
        expr(s"shiftright(simhash, ${b * 7}) & 127")): _*)))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_bits")

  /** The banded-pigeonhole TRUE-pairs plan over a (doc_id, simhash)
    * frame — shared by dedup_simhash_pairs (full corpus) and the one-shot
    * dedup_components (all docs or reps only), so the candidate join and
    * the r16 verify-before-distinct placement live in ONE place
    * (self-review r17: the rep arm's first cut copy-pasted the plan).
    * Output: (d1, d2, hamming), d1 < d2, hamming ≤ 6, distinct — see
    * dedup_simhash_pairs' doc comment for the placement argument.
    */
  private[graft] def bandedTruePairs(sh: DataFrame): DataFrame = {
    val banded = banded7(sh)
    val a = banded.select(col("doc_id").as("d1"), col("simhash").as("s1"),
      col("band_id"), col("band_bits"))
    val b = banded.select(col("doc_id").as("d2"), col("simhash").as("s2"),
      col("band_id"), col("band_bits"))
    a.join(b, Seq("band_id", "band_bits"))
      .filter(col("d1") < col("d2"))
      .withColumn("hamming", expr("cast(bit_count(s1 ^ s2) as int)"))
      .filter(col("hamming") <= 6)
      .select("d1", "d2", "hamming")
      .distinct()
  }

  /** All-pairs cosine — sf ≤ 0.1 CORRECTNESS BASELINE ONLY (O(n²) by
    * construction: exact global top-k over every pair). Deliberately kept
    * out of the bench headline; the 100 TB path is
    * [[Similarity]] `dedup_embedding_lsh` (hyperplane-LSH buckets → exact
    * re-rank).
    */
  /** Hard fence for the all-pairs baseline: beyond this row count the
    * O(n²) plan is a scale accident waiting to happen (a comment fence
    * alone doesn't stop a caller pointing it at a big corpus). sf0.1 is
    * ~25 k vectors; anything past 100 k must use the LSH twin.
    */
  private[graft] val EmbTopkMaxRows = 100000L

  /** Document-frequency cap for dedup_ngram_jaccard_capped: shingles in
    * more than this many documents leave the shingle universe. 5 is sized
    * so the sf0.01 oracle corpus actually exercises the drop path (29
    * shingles over the cap there); a production corpus tunes it to its own
    * boilerplate threshold — the semantics don't change, only the literal.
    */
  private[graft] val JaccardDfCap = 5

  /** High-confidence threshold for dedup_ngram_jaccard_prefix — the
    * regime where AllPairs prefix filtering actually prunes (prefix
    * length n − ⌊t·n⌋ ≈ 40% of postings at 0.6; at the exploratory 0.1
    * it would be 90% and prune nothing).
    */
  private[graft] val JaccardPrefixThreshold = 0.6

  /** Broadcast gate for the prefix verify's fingerprint side: the
    * (doc_id, n_sh, sorted 60-bit shingle fps) frame; under this it
    * rides to both candidate joins as a broadcast (the
    * tens-of-millions-of-pairs candidate stream then never shuffles),
    * above it the joins fall back to shuffles. 512 MB suits the 128 GiB
    * single-node test rig; a cluster tunes it to executor memory like
    * any broadcast threshold.
    */
  private[graft] val ScreenBroadcastBytes = 512L * 1024 * 1024

  /** In-memory bytes per fingerprint POSTING for the gate's size
    * estimate (ADVICE r13): the 8-byte long payload alone undercounts
    * the broadcast relation ~2.5× — each UnsafeArrayData carries an
    * 8-byte-per-element offset-free long region PLUS header/null bits,
    * and each row adds doc_id, n_sh, and UnsafeRow overhead; the
    * broadcast HashedRelation then keys it. 20 bytes/posting bounds the
    * measured shape conservatively, so the 512 MB gate admits ~25 M
    * postings (~640 MB resident) instead of ~67 M (~1.7 GB resident —
    * an executor-OOM risk on rigs smaller than the test box).
    */
  private[graft] val ScreenBytesPerPosting = 20L

  private[graft] def requireAllPairsSafe(n: Long): Unit =
    require(n <= EmbTopkMaxRows,
      s"dedup_embedding_topk is the O(n^2) all-pairs CORRECTNESS BASELINE, fenced to" +
        s" <= $EmbTopkMaxRows vectors (input has $n); use dedup_embedding_lsh" +
        " (hyperplane-LSH buckets -> exact re-rank) at scale")

  /** Row counts behind the all-pairs fence, one count job per dataset
    * content version per JVM — repeat invocations (Verify runs the query
    * right after the bench) skip the extra Spark job entirely.
    */
  private val fenceCounts = new graft.JvmCache[String, Long]

  /** Postings count of a corpus, the dedup_ngram_jaccard_prefix screen's
    * broadcast gate, cached per documents content version like
    * [[fenceCounts]]: the one tiny aggregate job runs once per JVM, not
    * once per call (the bench alone invokes the builder 3×).
    */
  private val corpusPostings = new graft.JvmCache[String, Long]

  private def embPairs(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // float→double widening is exact, and Cast on arrays is codegen'd —
    // unlike a transform() lambda, which Spark always interprets.
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    // runtime fence, not just a doc comment: one count on the frame
    // already in hand (column-pruned to zero columns → parquet footer
    // row counts), cached per dir so the fence costs one job ever
    requireAllPairsSafe(
      fenceCounts.getOrElseUpdate(Datasets.key(s, d, "embeddings"))(e.count()))
    val a = e.select(col("vec_id").as("id1"), col("emb").as("e1"))
    val b = e.select(col("vec_id").as("id2"), col("emb").as("e2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cosine", round(expr("dot_double(e1, e2)") /
        (sqrt(expr("dot_double(e1, e1)")) * sqrt(expr("dot_double(e2, e2)"))), 4))
  }

  /** Connected components by iterative min-label propagation: every node's
    * label converges to the smallest doc_id reachable through dup edges —
    * the step that turns pairwise near-dup hits into canonical clusters
    * (pick one survivor per cluster). Each round is an edge relaxation
    * (equi-join + map-side-combined min()) followed by one pointer-jumping
    * hop (label ← label(label), i.e. path halving), so convergence is
    * O(log diameter) rounds — the sf0.1 corpus has a 4486-doc component
    * whose diameter would cost ~3× the rounds with relaxation alone.
    * [[Materialize.once]] truncates lineage so plans don't grow with
    * iterations (reliable checkpoint when a checkpoint dir is set,
    * localCheckpoint otherwise). The driver-side loop condition is a
    * scalar count — no row data ever reaches the driver.
    *
    * Executor memory envelope (VERDICT r13 #8): the edge PIPELINE feeding
    * this (candidate sort + self-join) dominates the footprint, and its
    * per-partition sort size is inversely proportional to the shuffle
    * width — at sf10, 16 partitions needed a 32 GiB heap where AQE
    * started wide (`coalescePartitions.initialPartitionNum` ≥ 128) fits
    * the same run in the default 8 GiB (measured: 160 s wall, no OOM;
    * AQE coalesces the width back for small stages, so small-sf runs pay
    * nothing). Size shuffle width to heap/partition, not core count,
    * when the input grows.
    */
  /** Path-halving union-by-min over a collected edge list: every node's
    * root converges to the min node id in its component — the exact
    * label convention of the distributed fixpoint. Returns find().
    */
  private[graft] def driverFindMin(nodeIds: Array[Long],
      edgeArr: Array[(Long, Long)]): Long => Long = {
    val parent = new java.util.HashMap[Long, Long](nodeIds.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrDefault(x, x) != x) {
        val p = parent.get(x)
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
      }
      x
    }
    edgeArr.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    find
  }

  /** Edge-count ceiling for the driver union-find fast path. Honest
    * accounting at the cap: collected Rows + the tuple array + the boxed
    * union-find map + the local label relation total roughly 1 GB of
    * transient driver heap at 3 M edges (~350 B/edge) — sized for a
    * driver JVM provisioned for Spark driver duty, with sf1's
    * clique-dense 2.6 M pairs well inside on the default 8 GB heap.
    * Beyond the cap the distributed fixpoint below takes over unchanged,
    * with only scalar counts on the driver.
    *
    * The cap SCALES DOWN with the actual heap (ADVICE r8: a 1 GB driver
    * would OOM collecting 3 M edges where the distributed fixpoint kept
    * only scalars): a third of `Runtime.maxMemory` at ~350 B/edge, never
    * above 3 M.
    */
  private[graft] val CcDriverMaxEdges: Long =
    math.min(3000000L, Runtime.getRuntime.maxMemory / 3 / 350)

  /** Minimum measured collapse factor (docs per distinct 48-bit simhash)
    * at which the signature-contraction rep arm routes ON (r18, VERDICT
    * r17 #1). Below it the contraction's fixed costs — the signature
    * groupBy, the rep checkpoint, the member label join — buy almost no
    * node reduction and are pure tax (measured r17→r18: sf0.1
    * `dedup_components` cpu 1.9×, sf1 one-shot 11.2–13.1 s vs legacy
    * 10.0–10.1 at collapse ≈ 1.01–1.02); above it the clique-quadratic
    * edge term the contraction removes dominates (the 50×-replicated
    * maintain workload: 13× fewer edges, 2.9× docs/s). The ratio is
    * measured PER RUN from the frames at hand (the r14 stale-gate
    * lesson: never a cached constant), with approx_count_distinct — a
    * one-pass map-side HLL whose ±2–4% error (measured against
    * exact distinct counts) is two orders of magnitude inside the gap
    * between the mostly-distinct regime (≈1.02) and the dup-heavy one
    * (≥2), so estimator noise cannot flip the route in practice.
    *
    * NOTE the r17 sf10 "contraction win" (1.24–1.33× cpu) was measured
    * at collapse 1.016 — the fixture's sigs are
    * mostly distinct, so the win was never the 1.6% node reduction: it
    * was the rep arm materializing the simhash pass ONCE where the
    * r17 all-docs plan recomputed simhash48 on both sides of the banded
    * self-join. The all-docs arm now keeps exactly that
    * materialization (bandedTruePairs over the checkpointed sh) while
    * dropping the contraction machinery, so routing at 1.1 keeps the
    * sf10 win AND recovers small-scale parity.
    */
  private[graft] val CcSigDedupMinCollapse = 1.1

  /** The contraction router, shared by the one-shot `dedup_components` and
    * the maintain path ([[SigStore]]): `arm` "rep" or "all" pins that arm
    * without measuring; "route" evaluates `measure` — (docs, distinct
    * signature estimate) — and takes the rep arm when the collapse factor
    * reaches [[CcSigDedupMinCollapse]]. An empty input (no signatures)
    * takes the all-docs arm. Returns the decision (true = rep arm) and
    * what was measured, if anything.
    */
  private[graft] def contractionArm(arm: String, measure: => (Long, Long))
      : (Boolean, Option[(Long, Long)]) = arm match {
    case "rep" => (true, None)
    case "all" => (false, None)
    case "route" =>
      val (n, nSig) = measure
      (nSig > 0 && n.toDouble / nSig >= CcSigDedupMinCollapse, Some((n, nSig)))
    case other =>
      throw new IllegalArgumentException(s"arm must be route, rep or all: $other")
  }

  /** What one contraction-routed components run did: the arm that ran
    * ("rep" or "all"), the (docs, distinct signatures) the router measured
    * (None when the arm was pinned), and the edge count fed to connected
    * components — strictly smaller on the rep arm of a dup-heavy input.
    */
  private[graft] final case class ContractionRun(arm: String,
      measured: Option[(Long, Long)], ccEdges: Long)

  /** Frontier size below which the per-round pointer-jump self-join is
    * skipped (r15, VERDICT r14 #2): the jump is a |touched|-sized shuffle
    * whose only purpose is collapsing long label chains fast; once the
    * frontier is this small the residual work is a handful of cheap
    * relax-only rounds, and paying a full-graph shuffle per round to
    * maybe save one of them is a loss (sf10 measured: rounds with
    * frontier 289/13/4/0 each cost ~9 s of pure full-graph machinery).
    */
  private[graft] val CcJumpMinFrontier = 65536L

  /** Frontier row-count ceiling for broadcasting the frontier into the
    * message join (≈100 MB at 24 B/row worst case — comfortably inside
    * both the driver and a 1000-executor cluster's broadcast budget).
    * Above it the message join shuffles.
    */
  private[graft] val CcBroadcastMaxFrontier = 4000000L

  /** Labels from a [[connectedComponents]] run with what it measured:
    * the edge count it was fed, and per distributed-fixpoint round
    * (message_sources, changed) — message_sources is the frontier row
    * count fed into the round's message join, or -1 when the join fed ALL
    * touched nodes (round 1). `rounds` is empty on the driver union-find
    * path.
    */
  private[graft] final case class CcRun(labels: DataFrame, edges: Long,
      rounds: Seq[(Long, Long)])

  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame =
    connectedComponents(nodes, edges, CcDriverMaxEdges).labels

  private[graft] def connectedComponents(nodes: DataFrame, edges: DataFrame,
      driverMaxEdges: Long): CcRun = {
    // materialize the (possibly expensive) edge pipeline ONCE before the
    // symmetric union references it twice
    val e = edges.transform(Materialize.once)
    // Fast path: the TOUCHED subgraph (edge endpoints only — isolated
    // nodes never enter) is usually tiny relative to the corpus even
    // when the corpus is huge, because edges are near-dup pairs. A
    // path-halving union-by-min on the driver replaces the whole
    // multi-round distributed fixpoint with one collect; same labels by
    // construction (root = component min). Count-guarded: past the cap
    // the distributed loop below runs instead — the collect is bounded
    // by the guard, never O(corpus).
    val nEdges = e.count()
    if (nEdges <= driverMaxEdges) {
      val edgeArr = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      // edges are fully collected; the returned plan reads only the
      // broadcast local labels — free the edge checkpoint now
      Materialize.drop(e)
      val touched = (edgeArr.map(_._1) ++ edgeArr.map(_._2)).distinct
      val find = driverFindMin(touched, edgeArr)
      val s = nodes.sparkSession
      import s.implicits._
      val touchedLabels =
        touched.map(n => (n, find(n))).toSeq.toDF("node", "label")
      return CcRun(nodes.join(broadcast(touchedLabels), Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label")),
        nEdges, Seq.empty)
    }
    val sym = e.select(col("d1").as("u"), col("d2").as("v"))
      .union(e.select(col("d2").as("u"), col("d1").as("v")))
      .transform(Materialize.once)
    // both reads of `e` (the count and sym's materialization) are done
    Materialize.drop(e)
    // Only edge-touched nodes iterate. Isolated nodes — the overwhelming
    // majority of a lightly-duplicated corpus — are their own component by
    // definition and join back after the fixpoint, so every per-round
    // shuffle carries |touched| rows, not |corpus|. The initial labels are
    // seeded with the first relaxation (min of self and direct neighbors),
    // folding what would be a whole round's relax+jump+count into the same
    // aggregation that enumerates the touched nodes.
    var labels = sym.groupBy("u").agg(min("v").as("nbr_min"))
      .select(col("u").as("node"), least(col("u"), col("nbr_min")).as("label"))
      .transform(Materialize.once)
    // the checkpoint-backed frame behind `labels`, droppable once the NEXT
    // round's frame is materialized (the final round's stays alive — the
    // returned plan reads it); keeps a reliable-checkpoint fixpoint at
    // O(1) files on disk instead of O(iterations) (ADVICE r11)
    var prevBack = labels
    // DELTA (frontier) propagation — r15, VERDICT r14 #2. Labels only
    // ever decrease, so a node whose label did NOT change in round k has
    // nothing new to tell its neighbors in round k+1: whatever it holds
    // was already broadcast the last time it changed (or in round 1,
    // whose frontier is every touched node carrying the seed labels).
    // Restricting the message join to last round's CHANGED nodes is
    // therefore output-invariant, and the late rounds — measured at sf10
    // as 4 × ~9 s of full-graph shuffles to propagate 289/13/4/0 changes
    // — collapse to broadcast-join scans (AB_r15).
    var frontier = labels // round 1: all touched nodes (seed labels)
    var frontSize = Long.MaxValue // unknown until the first changed-count
    var changed = 1L
    val rounds = Seq.newBuilder[(Long, Long)]
    while (changed > 0) {
      // Pointer jumping (label <- label(label)) collapses chains
      // exponentially but costs a |touched|-sized self-join shuffle per
      // round; once the frontier is small the relax-only rounds that
      // replace it are each far cheaper than one jump round.
      val useJump = frontSize >= CcJumpMinFrontier
      val fr =
        if (frontSize <= CcBroadcastMaxFrontier) broadcast(frontier)
        else frontier
      // edge relaxation: each node takes the min label among itself and
      // the labels its (frontier) neighbors hold. The pre-relaxation
      // label rides along as `prev`, so the convergence check is a
      // filter on this frame — no extra join.
      val nbrMin = sym.join(fr, col("v") === col("node"))
        .groupBy("u").agg(min("label").as("nbr"))
      val relaxed = labels.join(nbrMin, col("node") === col("u"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
          col("label").as("prev"))
      val next =
        if (useJump) {
          // both consumers below read relaxed; un-checkpointed self-join
          // branches would each recompute the subtree
          val relaxedM = relaxed.transform(Materialize.once)
          val jump = relaxedM
            .select(col("node").as("label"), col("label").as("label2"))
          val n1 = relaxedM.join(jump, Seq("label"))
            .select(col("node"), col("label2").as("label"), col("prev"))
            .transform(Materialize.once)
          Materialize.drop(relaxedM)
          // One jump per round: a second (label := label[label]) was
          // measured at sf10 and rejected (AB_r18) — it saves one late
          // relax-only round and leaves the expensive rounds unchanged.
          n1
        } else relaxed.transform(Materialize.once)
      changed = next.filter(col("label") < col("prev")).count()
      // superseded this round: the frame behind the previous `labels`
      // (also backing the consumed frontier)
      Materialize.drop(prevBack)
      prevBack = next
      labels = next.select("node", "label")
      // next round's message sources: exactly the nodes that changed
      // (filter over the checkpointed frame — no extra job)
      frontier = next.filter(col("label") < col("prev")).select("node", "label")
      rounds += ((if (frontSize == Long.MaxValue) -1L else frontSize, changed))
      frontSize = changed
    }
    // the returned plan reads only `labels` (backed by the final round's
    // checkpoint, kept) and `nodes`
    Materialize.drop(sym)
    CcRun(nodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label")),
      nEdges, rounds.result())
  }

  /** Shared core of decontam_neardup and TrainingPipeline's
    * corpus_train_manifest: MinHash-LSH candidates between the
    * `split_assign` TRAIN (bucket < 80) and EVAL (bucket ≥ 90) splits,
    * exact-Jaccard-confirmed at ≥ 0.8.
    *
    * @return (shingled eval docs (doc_id), confirmed pairs
    *         (train_id, test_id, jaccard))
    */
  private[graft] def trainEvalNearDup(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val bucket = expr("cast(conv(substring(md5(concat('split:', " +
      "cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 100")
    val sh = withShingles(Tables.documents(s, d))
      .select(col("doc_id"), col("sh"), bucket.as("bucket"))
      .transform(Materialize.once)
    // val-split docs (80 ≤ bucket < 90) participate in neither side:
    // skip their signature build entirely (output-invariant, ~10% less
    // minhash work)
    val inPlay = sh.filter(col("bucket") < 80 || col("bucket") >= 90)
    val bands = minhashSigsFromShingles(inPlay.select("doc_id", "sh")).select(
      col("doc_id"),
      explode(expr(
        """transform(sequence(0, 3), b -> struct(b as band_id,
          |  concat_ws(',', transform(slice(sig, b * 4 + 1, 4), x -> cast(x as string))) as band_key))""".stripMargin
      )).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_key"))
      .join(sh.select("doc_id", "bucket"), Seq("doc_id"))
    val cand = bands.filter(col("bucket") < 80)
      .select(col("doc_id").as("train_id"), col("band_id"), col("band_key"))
      .join(bands.filter(col("bucket") >= 90)
        .select(col("doc_id").as("test_id"), col("band_id"), col("band_key")),
        Seq("band_id", "band_key"))
      .select("train_id", "test_id")
      .distinct()
    val pairs = cand
      .join(sh.select(col("doc_id").as("train_id"), col("sh").as("sh1")), Seq("train_id"))
      .join(sh.select(col("doc_id").as("test_id"), col("sh").as("sh2")), Seq("test_id"))
      // exact-integer round + INTEGER threshold (r19, ExactRound): a
      // rounded-double filter flips row membership at decimal ties
      .withColumn("j4", ExactRound.round4Int(
        size(array_intersect(col("sh1"), col("sh2"))),
        size(array_union(col("sh1"), col("sh2")))))
      .filter(col("j4") >= 8000)
      .withColumn("jaccard", col("j4") / lit(10000.0))
      .select("train_id", "test_id", "jaccard")
    (sh.filter(col("bucket") >= 90).select(col("doc_id")), pairs)
  }

  /** AllPairs/PPJoin-style prefix filtering (Bayardo et al. WWW'07;
    * symmetric prefix-prefix form per Vernica et al. SIGMOD'10) —
    * EXACT high-confidence near-dup detection at jaccard > t, the
    * regime prefix filtering is built for: a qualifying pair needs
    * inter ≥ floor(t·max(n1,n2)) + 1 shared shingles, so under any
    * global total order the pair's globally-smallest shared shingle
    * sits within each side's first n − floor(t·n) shingles (the
    * other ≥ floor(t·n) intersection members all order after it).
    * At the registered default t = JaccardPrefixThreshold = 0.6 only
    * ~40% of postings enter the inverted index — candidate volume
    * ~16% of the full self-join on uniform data — and the canonical
    * order is ASCENDING document frequency, so the dropped postings
    * are each doc's HIGHEST-df shingles, precisely the Σ df²
    * quadratic keys, with ZERO recall loss. Higher thresholds prune
    * harder still (dedup_eval_minhash's truth arm runs t = 0.79 for
    * its ≥ 0.8 filter: ~21% of postings, ~28% of the 0.6-run's
    * candidate volume). (At the exploratory 0.1 threshold the prefix
    * would be 90% of postings and prune nothing — that regime
    * belongs to dedup_ngram_jaccard / _capped.) Candidates re-verify
    * against the full shingle arrays, so no approximation ever
    * reaches the output: the result is EXACTLY the pairs with
    * jaccard > t (strict, round-to-4).
    *
    * PLAN SELECTION: r14 re-measured this prefix plan against the
    * direct postings self-join + aggregate (the dedup_ngram_jaccard
    * shape) across four scales, and the prefix plan won everywhere —
    * sf0.001 1.3 vs 7.8 s, sf0.01 1.2 vs 7.2 s, sf0.1 3.2 vs 9.8 s, sf1
    * 7.5 vs 24.5 s, sf10 26.1 vs 172.9 s (identical 25,916-row output).
    * The r10 df-histogram gate that picked between them, and the direct
    * branch itself, are gone; its parity checks compare this plan with
    * dedup_ngram_jaccard filtered to jaccard > t.
    */
  private[graft] def jaccardPrefixPairs(s: SparkSession, d: String,
      t: Double): DataFrame = {
    // spread the leaf (r20): the checkpointed sh/ex0 frames inherit the
    // scan's single fixture split, serializing the prefix window and both
    // self-join probe sides (JobProf: 14 stages at ~1 task each); no-op at
    // real scale, see Materialize.spreadScan
    val sh = withShingles(Materialize.spreadScan(Tables.documents(s, d)))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n_sh"))
      .transform(Materialize.once) // feeds the postings build AND the verify join
    // Three consumers read the postings (df aggregate + both self-join
    // sides): materialize the explode once —
    // narrow (doc_id, n_sh, s) rows, the same reasoning as the sibling
    // queries' checkpointed `ex` (self-review r10: the first cut
    // re-exploded from `sh` per consumer).
    val ex0 = sh.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s"))
      .transform(Materialize.once)
    // df via map-side-combined aggregate + join back (not a window over
    // the skewed shingle key — same reasoning as the capped twin).
    val df = ex0.groupBy("s").agg(count(lit(1)).as("df"))
    val byDocCanonical =
      Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    // materialized: BOTH self-join sides read it, and the window sort
    // over the full postings is the one stage worth paying once. The
    // prefix rows CARRY (n_sh, rk) so the join below can apply
    // PPJoin's positional + length filters (r14, VERDICT r13 #2).
    val prefix = ex0.join(df, Seq("s"))
      .withColumn("rk", row_number().over(byDocCanonical))
      .filter(col("rk") <= col("n_sh") - floor(col("n_sh") * lit(t)))
      .select("doc_id", "n_sh", "rk", "s")
      .transform(Materialize.once)
    // PPJoin filters on top of the prefix filter (Xiao et al. WWW'08
    // via the Vernica et al. SIGMOD'10 distributed form) — both are
    // LOSSLESS at threshold t, derived from jaccard > t ⟺
    // inter > t/(1+t)·(n1+n2):
    //  - LENGTH: inter ≤ min(n1,n2), so a qualifying pair needs
    //    min(n1,n2) > t·max(n1,n2) — size-mismatched pairs drop
    //    before the distinct shuffle.
    //  - POSITIONAL: for the pair's globally-SMALLEST shared shingle
    //    (present in both prefixes by the prefix property), every
    //    other intersection member orders after it on both sides, so
    //    inter ≤ 1 + min(n1−rk1, n2−rk2); a row failing that bound
    //    for the required inter cannot be the first match of a
    //    qualifying pair, and the first-match row of every
    //    qualifying pair provably survives — distinct() still sees
    //    it. (Deep-prefix matches of big docs drop: the quadratic
    //    boilerplate keys the prefix filter alone lets through.)
    // The 1e-9 relative slack keeps the double-valued bound from
    // clipping an exactly-boundary pair (t/(1+t) is not exactly
    // representable); it loosens, never tightens, the filter.
    //
    // FALSIFIED REFINEMENT (r14, kept out deliberately): PPJoin's
    // asymmetric INDEXING prefix — orienting pairs by (n_sh, doc_id)
    // and joining the smaller side from its first n − ⌊2t/(1+t)·n⌋
    // positions (0.25·n at t=0.6 vs the 0.4·n probe prefix) — is
    // lossless (inter > 2t/(1+t)·n1 and every intersection member
    // orders ≥ the first shared shingle) and shrinks the JOIN INPUT,
    // which the post-join filters cannot. Measured interleaved at
    // sf10 it LOST ~6-10% cpu vs this form (2280-2428 vs 2120-2165
    // cpu-s; plain AllPairs baseline in between), both plans two
    // full Exchange+Sort sides with no ReusedExchange either way —
    // the smaller sort does not pay for the orientation disjunction
    // and the lost symmetric-side uniformity on this corpus. The
    // boundary spec for its bound (DedupSimilaritySpec "indexing
    // prefix ... AT the bound") is kept as an output-correctness
    // pin. Re-try only if the join input itself becomes the
    // measured bottleneck on a skewed-df corpus.
    val posBound = lit(t) / (lit(1.0) + lit(t)) *
      (col("cn1") + col("cn2")) * (lit(1.0) - lit(1e-9))
    val cand = prefix.select(col("doc_id").as("d1"), col("n_sh").as("cn1"),
        col("rk").as("rk1"), col("s"))
      .join(prefix.select(col("doc_id").as("d2"), col("n_sh").as("cn2"),
        col("rk").as("rk2"), col("s")), Seq("s"))
      .filter(col("d1") < col("d2"))
      .filter(least(col("cn1"), col("cn2")).cast("double") >
        lit(t) * greatest(col("cn1"), col("cn2")) * (lit(1.0) - lit(1e-9)))
      .filter((lit(1) + least(col("cn1") - col("rk1"),
        col("cn2") - col("rk2"))).cast("double") > posBound)
      .select("d1", "d2")
      .distinct()
    // TWO-STAGE VERIFY (r13, sf10-profiled): candidate volume at the
    // 0.6 threshold is tens of millions of pairs, and verifying each
    // against the STRING shingle arrays is ~100 UTF8 comparisons per
    // pair whichever way the intersection is computed — measured
    // 212 s of a 330 s sf10 run (array_intersect's per-row hash set)
    // and 189 s even as a sorted linear merge: the string compares
    // themselves dominate. So pairs are screened first against
    // per-doc SORTED 60-bit shingle-fingerprint arrays (8 bytes and
    // one long compare per element; [[graft.functions.SortedInterCount]]
    // is the zero-allocation merge kernel). The screen is a provable
    // SUPERSET filter: a hash collision can only INFLATE the count
    // (each shared shingle contributes min-multiplicity ≥ 1 on both
    // sides), so hash-jaccard ≥ true jaccard and no true pair is
    // dropped. The survivors — output-sized, ~0.1% of candidates —
    // then re-verify EXACTLY on the string arrays, so the emitted
    // rows are bit-identical to the single-stage form and the
    // oracle is untouched. Per-doc work (fp hashing, two
    // array_sorts) happens once per doc, per-pair work is the long
    // merge. Measured at sf10: verify 212 s → ~10 s.
    graft.functions.GraftFunctions.register(s)
    // the screen side is (doc_id, n_sh, sorted 8-byte fingerprints) —
    // ~postings×8 bytes in toto. BROADCAST it (both pair sides probe
    // it map-side, so the candidate stream never shuffles) when the
    // driver-resident postings count bounds it under the gate;
    // past the gate it joins as a plain shuffle — candidate-sized
    // exchanges, still never string-array-sized.
    // one-loop native array hash (r21): the transform lambda never
    // enters whole-stage codegen (interpreted per ELEMENT — the
    // WinnowFps lesson), and each element paid the md5 hex-string
    // round-trip; md5_prefix15_array is the bit-identical twin of the
    // lambda form, which stays the oracle SQL
    val shh = sh.select(col("doc_id"), col("n_sh"),
      array_sort(expr("md5_prefix15_array(sh)")).as("shh"))
      .transform(Materialize.once) // the screen joins it twice
    // the postings count gates the broadcast: one cheap
    // map-side-combined job per corpus version per JVM
    val postings =
      corpusPostings.getOrBuild(Datasets.key(s, d, "documents"), "jaccard_df_stats") {
        val r = df.agg(sum(col("df"))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    def gated(d: DataFrame): DataFrame =
      if (postings * ScreenBytesPerPosting <= ScreenBroadcastBytes) broadcast(d)
      else d
    val screened = cand
      .join(gated(shh.select(col("doc_id").as("d1"), col("shh").as("h1"),
        col("n_sh").as("n1"))), Seq("d1"))
      .join(gated(shh.select(col("doc_id").as("d2"), col("shh").as("h2"),
        col("n_sh").as("n2"))), Seq("d2"))
      .withColumn("ih", expr("sorted_inter_count(h1, h2)"))
      .filter(ExactRound.round4Int(col("ih"),
        col("n1") + col("n2") - col("ih")) > math.round(t * 10000))
      .select("d1", "d2")
    // exact confirm on the output-sized survivors, against the
    // ORIGINAL string arrays — identical rows to the single-stage
    // verify, so the oracle is untouched
    screened
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1"),
        col("n_sh").as("n1")), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2"),
        col("n_sh").as("n2")), Seq("d2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("j4", ExactRound.round4Int(col("inter"),
        col("n1") + col("n2") - col("inter")))
      .filter(col("j4") > math.round(t * 10000))
      .withColumn("jaccard", col("j4") / lit(10000.0))
      .select("d1", "d2", "jaccard")
  }

  /** The narrow (doc_id, text_hash) projection dedup_exact hashes — split
    * out so PlanPruningSpec can assert its ReadSchema (the operator
    * checkpoints this frame, which erases the scan from the final plan).
    */
  private[graft] def exactHashed(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("text_hash", md5(col("text")))
      .select("doc_id", "text_hash")

  /** Exact dedup: same window→groupBy-join rewrite as dedup_components'
    * output stage (r18, VERDICT r17 #6): dup_count AND the canonical min
    * come from one map-side-combined aggregation per text_hash, so a
    * crawl-scale empty-document family can never funnel one task the way
    * `count over (partition by text_hash)` does. The narrow
    * (doc_id, text_hash) frame is materialized ONCE: both the aggregate
    * and the probe side consume it, and unmaterialized each would rescan
    * documents and re-hash every text (measured at sf0.1: 1.9 vs 0.9
    * cpu-s).
    */
  private def exactDedup(s: SparkSession, d: String): DataFrame = {
    val hashed = exactHashed(s, d).transform(Materialize.once)
    val stats = hashed.groupBy("text_hash").agg(
      count(lit(1)).as("dup_count"), min("doc_id").as("min_id"))
    hashed.join(stats, Seq("text_hash"))
      .withColumn("is_canonical", col("doc_id") === col("min_id"))
      .select("doc_id", "text_hash", "dup_count", "is_canonical")
  }

  /** `dedup_components` with its contraction arm: "route" (the registered
    * query) measures the collapse factor, "rep" / "all" pin an arm. Returns
    * the rows and what ran ([[ContractionRun]]).
    */
  private[graft] def components(s: SparkSession, d: String,
      arm: String): (DataFrame, ContractionRun) = {
    // pairs (pigeonhole simhash, hamming <= 6) -> canonical clusters.
    //
    // SIGNATURE CONTRACTION (r17, the VERDICT r16 #1 maintain-path win
    // extended to the one-shot): docs with IDENTICAL simhash are
    // interchangeable in every hamming test (sig(a)=sig(rep) ⇒
    // hamming(a,x)=hamming(rep,x) for all x), so connectivity runs over
    // one REPRESENTATIVE per distinct signature (min doc_id) and every
    // member inherits its rep's component label through a signature
    // equi-join — no star edges even needed in the one-shot, because the
    // member ISN'T a fixpoint node: its label is definitionally its
    // rep's. EXACT: full-graph components are unions of signature
    // groups whose reps are adjacent (distinct sigs can't be hamming-0,
    // so intra-group edges only ever connect docs the shared rep already
    // unifies), and the component label — the min doc_id — is preserved
    // because rep = min per group, so min over the rep component = min
    // over the full component. On a clique-dense corpus this collapses
    // the edge set from Σ clique²/2 genuine pairs (sf10: 24.8 M) to the
    // rep graph, usually small enough for the driver union-find fast
    // path — the whole distributed fixpoint disappears.
    val docs = Tables.documents(s, d).select(col("doc_id").as("node"))
    // spread the leaf (r20): the checkpointed sh otherwise pins the
    // banded probe side to the scan's one fixture split — the same
    // serialization the rep arm's explicit repartition (below) was
    // measured to fix; no-op at real scale
    val sh = simhash(Materialize.spreadScan(Tables.documents(s, d)))
      .transform(Materialize.once)
    // ROUTING (r18, VERDICT r17 #1): measure this corpus's collapse
    // factor from the checkpointed signature pass — one map-side
    // count+HLL job, never a cached constant (the r14 stale-gate
    // lesson) — and take the contraction only when it buys real node
    // reduction. Both arms below share the materialized sh, which is
    // where the r17 "sf10 contraction win" actually lived (see
    // CcSigDedupMinCollapse).
    val (sigDedup, measured) = contractionArm(arm, {
      val row = sh.agg(count(lit(1)),
        approx_count_distinct(col("simhash"))).head()
      (row.getLong(0), row.getLong(1))
    })
    val (labels, ccEdges) =
      if (!sigDedup) {
        // all-docs arm: the SAME banded true-pairs plan as
        // dedup_simhash_pairs, fed from the checkpointed sh (one
        // simhash pass total — the materialization the rep arm proved
        // out at sf10), no contraction machinery. CC has fully
        // consumed sh by return time (its edge materialization is
        // eager), so the checkpoint is freed here, not leaked.
        val cc = connectedComponents(docs,
          bandedTruePairs(sh).select("d1", "d2"), CcDriverMaxEdges)
        Materialize.drop(sh)
        (cc.labels, cc.edges)
      } else {
        // repartition INSIDE the materialization (measured, sf1
        // interleaved A/B): AQE coalesces this small groupBy to ONE
        // partition, and below the broadcast threshold the band
        // self-join keeps the probe side's source partitioning — the
        // whole candidate enumeration then ran on a single task (rep
        // arm 61-63 s wall vs all-docs 10.4-10.8 at sf1, CPU equal:
        // pure serialization; sf10 was immune — shuffle join either
        // way). Spreading the LEAF stores parallelism once for every
        // consumer; a per-consumer spreadScan re-runs its shuffle per
        // consumer (measured +20% cpu on the maintain row's analogous
        // site, SigStore.scala).
        val repSh = sh.groupBy("simhash").agg(min("doc_id").as("doc_id"))
          .select("doc_id", "simhash")
          .repartition(s.sparkContext.defaultParallelism)
          .transform(Materialize.once)
        // rep pairs: the SHARED banded true-pairs plan over reps only —
        // repSh's leaf is already spread, so the probe side is parallel
        val repCc = connectedComponents(repSh.select(col("doc_id").as("node")),
          bandedTruePairs(repSh).select("d1", "d2"), CcDriverMaxEdges)
        val memberLabels = sh
          .join(repSh.select(col("doc_id").as("rep_id"), col("simhash")),
            Seq("simhash"))
          .join(repCc.labels.select(col("node").as("rep_id"), col("label")),
            Seq("rep_id"))
          .select(col("doc_id").as("m_node"), col("label"))
        // memberLabels covers every doc (simhash48 is total over text),
        // but keep the left-join + coalesce convention so the arm stays
        // output-identical to the all-docs arm BY CONSTRUCTION even if
        // the signature pipeline ever filters rows.
        val joined = docs
          .join(memberLabels, col("node") === col("m_node"), "left")
          .select(col("node"),
            coalesce(col("label"), col("node")).as("label"))
          // materialize the final (node, label) frame — a narrow
          // 2-column corpus-sized write — so the corpus-sized sh and
          // repSh checkpoints can be reclaimed NOW instead of leaking
          // for the application lifetime (self-review r17: the maintain
          // path drops repSh once its consumers are materialized; the
          // first cut here left both alive because the returned plan
          // read them lazily)
          .transform(Materialize.once)
        Materialize.drop(sh)
        Materialize.drop(repSh)
        (joined, repCc.edges)
      }
    // cluster_size via groupBy-count + equi-join back, NOT a
    // `count over (partition by cluster_id)` window (r18, VERDICT r17
    // #6): both are parallel across clusters, but a window forces a
    // mega-cluster's every row through ONE task's partition, while the
    // join's skewed probe partitions are split by AQE skew-join — the
    // map-side-combined count is |clusters|-sized either way. No
    // broadcast hint: |clusters| ≈ |docs| on a mostly-distinct corpus,
    // and the checkpoint-backed/aggregated sides give AQE honest stats
    // to pick broadcast exactly when the size table fits.
    val out = labels
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    val sizes = out.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    (out.join(sizes, Seq("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical"),
      ContractionRun(if (sigDedup) "rep" else "all", measured, ccEdges))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_components" -> ((s, d) => components(s, d, "route")._1),
    "dedup_exact" -> ((s, d) => exactDedup(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => {
      // Exact Jaccard via an inverted shingle index instead of all-pairs:
      // any pair with jaccard > 0 shares ≥ 1 shingle, so equi-joining the
      // exploded (doc, shingle) postings on the shingle key enumerates
      // exactly the nonzero pairs. Shingle arrays are distinct, so
      // |A∩B| = count of shared postings and |A∪B| = n1 + n2 − |A∩B| —
      // identical output to the n² formulation, but candidate volume is
      // Σ_s cnt(s)² (duplicate density), not n². Skewed ultra-common
      // shingles are the residual risk at 100 TB; the standard mitigation
      // (drop shingles above a document-frequency cap) changes output, so
      // it lives in the dedup_ngram_jaccard_capped twin below.
      // spread the single-split fixture scan (r20 JobProf: this query ran
      // 6 stages / 15 tasks with its shingle projection AND the inverted
      // self-join probe side serialized on the scan's one partition — the
      // Dedup:1073 rep-arm failure mode at the leaf; no-op at real scale,
      // see Materialize.spreadScan)
      val sh = withShingles(Materialize.spreadScan(Tables.documents(s, d)))
        .select(col("doc_id"), col("sh"), size(col("sh")).as("n_sh"))
      // materialize the exploded postings ONCE: both self-join sides would
      // otherwise re-run the shingle expression over the whole corpus. An
      // inverted index IS a materialized structure — narrow (id, count,
      // shingle) rows, not document payloads.
      val ex = sh.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s"))
        .transform(Materialize.once)
      val a = ex.select(col("doc_id").as("d1"), col("n_sh").as("n1"), col("s"))
      val b = ex.select(col("doc_id").as("d2"), col("n_sh").as("n2"), col("s"))
      a.join(b, Seq("s"))
        .filter(col("d1") < col("d2"))
        .groupBy("d1", "d2", "n1", "n2")
        .agg(count(lit(1)).as("inter"))
        .withColumn("j4", ExactRound.round4Int(col("inter"),
          col("n1") + col("n2") - col("inter")))
        .filter(col("j4") > 1000)
        .withColumn("jaccard", col("j4") / lit(10000.0))
        .select("d1", "d2", "jaccard")
    }),
    "dedup_ngram_jaccard_capped" -> ((s, d) => {
      // The 100 TB skew mitigation from dedup_ngram_jaccard's doc comment,
      // promoted to a first-class tested operator: shingles appearing in
      // more than JaccardDfCap documents are dropped from the shingle
      // UNIVERSE (index AND denominators), so per-shingle candidate volume
      // is bounded by cap² and boilerplate shingles shared by thousands of
      // docs can't detonate the self-join. Jaccard stays a true Jaccard
      // over the capped universe. DF is a map-side-combined aggregate +
      // equi-join back (NOT a window over the shingle key, which would
      // funnel each ultra-common shingle's postings into one task — the
      // exact skew being mitigated); the join is AQE-skew-eligible.
      // spread the leaf like the uncapped twin (r20): shingle projection +
      // df-join probe parallelism both ride the scan's partitioning
      val ex0 = withShingles(Materialize.spreadScan(Tables.documents(s, d)))
        .select(col("doc_id"), explode(col("sh")).as("s"))
      val kept = ex0.groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") <= JaccardDfCap).select("s")
      val byDoc = Window.partitionBy(col("doc_id"))
      val ex = ex0.join(kept, Seq("s"))
        .withColumn("n_sh", count(lit(1)).over(byDoc))
        .select("doc_id", "n_sh", "s")
        .transform(Materialize.once)
      val a = ex.select(col("doc_id").as("d1"), col("n_sh").as("n1"), col("s"))
      val b = ex.select(col("doc_id").as("d2"), col("n_sh").as("n2"), col("s"))
      a.join(b, Seq("s"))
        .filter(col("d1") < col("d2"))
        .groupBy("d1", "d2", "n1", "n2")
        .agg(count(lit(1)).as("inter"))
        .withColumn("j4", ExactRound.round4Int(col("inter"),
          col("n1") + col("n2") - col("inter")))
        .filter(col("j4") > 1000)
        .withColumn("jaccard", col("j4") / lit(10000.0))
        .select("d1", "d2", "jaccard")
    }),
    "dedup_ngram_jaccard_prefix" -> ((s, d) =>
      jaccardPrefixPairs(s, d, JaccardPrefixThreshold)),
    "dedup_substring" -> ((s, d) => {
      // Exact substring-duplication detection (the signal behind
      // "Deduplicating Training Data Makes Language Models Better",
      // Lee et al. 2022 — there via suffix arrays; here via the
      // map-reduce-friendly twin): hash EVERY 40-char window of every
      // document, then keep only windows whose portable hash ≡ 0
      // (mod 4). Selection is CONTENT-DEFINED, so two documents sharing
      // a long verbatim span keep the same sampled windows regardless of
      // where the span starts in either document — no alignment
      // assumption, unlike stride sampling. Pairs sharing ≥ 1 sampled
      // window surface with the count of shared windows (∝ shared span
      // length / 4). Deterministic given content ⇒ fully oracle-checked.
      // Scale: postings are (doc_id, window_hash) only; the self-join is
      // equi-join shaped. Residual skew risk is boilerplate windows
      // shared by thousands of docs — same residual (and same DF-cap
      // mitigation path) as dedup_ngram_jaccard. Very long documents
      // should be pre-chunked (pack_chunks) so the per-row window array
      // stays bounded.
      // The whole sample-select-dedup pipeline runs INSIDE the array
      // expression, before explode (r10): each window hashes transiently
      // (no 40-char string array is ever materialized in the output
      // row), the ≡ 0 (mod 4) sample is kept, and per-doc dedup happens
      // in the array — so the generator emits ~n/4 unique longs per doc
      // instead of n−39 strings, and the former row-level `.distinct()`
      // SHUFFLE disappears (per-doc uniqueness is exactly what it
      // enforced: doc_id is part of every key). Measured at sf0.1 (r10):
      // 3.99 → 2.95 s with identical output hashes.
      // r20: the transform/filter/array_distinct lambda chain was
      // INTERPRETED per window (hex string + substring + base-16 parse
      // each) — replaced by the native [[graft.functions.ContentWindows]]
      // loop, the WinnowFps treatment (same values by construction,
      // ContentWindowsSpec pins parity against the retired SQL form).
      // spread the leaf (r20 JobProf: 6 stages / 6 TASKS — the per-window
      // md5 pass ran wholly on the scan's one fixture split, and the
      // checkpointed wins frame then kept 1 partition through the
      // self-join; no-op at real scale, see Materialize.spreadScan).
      // workFactor 4: one md5 per 40-char window ≈ 25 digests/KB × the
      // per-digest cost dwarfs scan cost (measured width sweep in
      // spreadScan's doc)
      graft.functions.ContentWindows.register(s)
      val wins = Materialize.spreadScan(Tables.documents(s, d), workFactor = 4)
        .filter(length(col("text")) >= 40)
        .select(col("doc_id"),
          explode(expr("content_windows(text, 40, 4)")).as("h"))
        // both self-join sides consume this: materialize the window-hash
        // pass ONCE (narrow (doc_id, h) rows only)
        .transform(Materialize.once)
      wins.select(col("doc_id").as("d1"), col("h"))
        .join(wins.select(col("doc_id").as("d2"), col("h")), Seq("h"))
        .filter(col("d1") < col("d2"))
        .groupBy("d1", "d2")
        .agg(count(lit(1)).as("shared_windows"))
    }),
    "decontam_neardup" -> ((s, d) => {
      // Near-duplicate train/eval decontamination: the exact-overlap gates
      // (TrainingPipeline decontam_overlap/_bloom) catch verbatim leakage
      // only; the standard stronger gate (GPT-3-style n-gram overlap,
      // tightened to similarity) is MinHash-LSH between the TRAIN split
      // and the EVAL split with an exact-Jaccard ≥ 0.8 confirm — same
      // 4×4 banding as dedup_minhash_pairs, split by the same salted
      // hash as split_assign, so the oracle composes those two proven
      // CTEs. Scale shape: bands carry (doc_id, band) only; candidates
      // fan out with |eval| × collision rate, never |train|²; per-eval
      // verdicts (match count, max jaccard, is_clean) aggregate after an
      // exact confirm on the checkpointed shingle arrays. Lives here (not
      // TrainingPipeline) to reuse the private MinHash machinery.
      val (evalDocs, pairs) = trainEvalNearDup(s, d)
      val confirmed = pairs
        .groupBy("test_id")
        .agg(count(lit(1)).as("n_train_matches"), max("jaccard").as("max_jaccard"))
      evalDocs
        .join(confirmed, col("doc_id") === col("test_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_train_matches"), lit(0L)).as("n_train_matches"),
          coalesce(col("max_jaccard"), lit(-1.0)).as("max_jaccard"),
          col("test_id").isNull.as("is_clean"))
    }),
    "dedup_minhash_sig" -> ((s, d) => {
      minhashSigs(Tables.documents(s, d))
        .select(col("doc_id"),
          expr("concat_ws(',', transform(sig, x -> cast(x as string)))").as("minhash_sig"))
    }),
    "dedup_minhash_pairs" -> ((s, d) => {
      // banded LSH: 4 bands × 4 rows; candidates shuffle on (band, key),
      // then exact-Jaccard confirm at ≥ 0.8.
      // bands carry only (doc_id, band) — the shingle payload joins back in
      // AFTER the candidate set is known, so the wide columns never ride
      // through the LSH shuffle. The shingle pass materializes ONCE
      // (localCheckpoint) and feeds both the signature build and the
      // exact-Jaccard confirm — un-checkpointed, each consumer re-ran the
      // WordShingles expression over the whole corpus.
      // spread the leaf (r20): signature build + band self-join probe
      // otherwise serialize on the single fixture split (JobProf 7
      // stages / 7 tasks); no-op at real scale
      val sh = withShingles(Materialize.spreadScan(Tables.documents(s, d)))
        .select("doc_id", "sh").transform(Materialize.once)
      minhashCandidates(sh)
        .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1")), Seq("d1"))
        .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")), Seq("d2"))
        .withColumn("j4", ExactRound.round4Int(
          size(array_intersect(col("sh1"), col("sh2"))),
          size(array_union(col("sh1"), col("sh2")))))
        .filter(col("j4") >= 8000)
        .withColumn("jaccard", col("j4") / lit(10000.0))
        .select("d1", "d2", "jaccard")
    }),
    "dedup_eval_minhash" -> ((s, d) => {
      // grade the LSH banding itself: candidate pairs (pre-confirm)
      // scored against exact-Jaccard ≥ 0.8 ground truth from the
      // inverted index. One row: precision says how much confirm work
      // the bands waste; recall is the probability a true near-dup
      // survives banding (4 bands × 4 rows ⇒ ~1−(1−j⁴)⁴, ≈0.88 at
      // j=0.8) — the number that decides the band/row tradeoff before
      // a 100 TB run, measured here on the corpus itself.
      val sh = withShingles(Materialize.spreadScan(Tables.documents(s, d)))
        .select("doc_id", "sh").transform(Materialize.once)
      // Ground truth via the PREFIX pipeline, not the exact uncapped
      // inverted-index self-join (VERDICT r15 #1): the eval needs exact
      // pairs at jaccard ≥ 0.8, and [[jaccardPrefixPairs]] is EXACT at
      // any threshold t — its output is precisely {jaccard > t}, same
      // shingles, same round-to-4, every survivor string-verified — so
      // filtering a t < 0.8 run at ≥ 0.8 is bit-identical to filtering
      // the exact plan's output. Routing through the uncapped plan made
      // this 1-row eval the single most expensive sf10 entry (2081
      // cpu-s, SCALE10_r15) by paying the Σdf² candidate volume the
      // prefix plan exists to avoid. t = 0.79 (r16, not the registered
      // 0.6): the truth filter is INCLUSIVE at 0.8 and prefix emission
      // strict at t, so t must sit below 0.8 — every step closer shrinks
      // the prefix (n − ⌊t·n⌋ ≈ 21% of postings vs 40% at 0.6) and
      // candidate volume quadratically (~28% of the 0.6 run's). Measured
      // sf10 HONESTLY: ~flat vs the 0.6 truth (673 vs 634 cpu-s, drift
      // range) — on THIS fixture the threshold-independent stages
      // (shingle pass, postings materialization, the full-postings
      // canonical-order window) dominate, not the candidate join. The
      // boilerplate-heavy regime the tightening targets is now MEASURED
      // (r17, VERDICT r16 #3, AB_r17 jaccard_truth_probe: 2020 docs ×
      // 76 shared df=2020 shingles): candidate volume 2,039,190 at
      // t=0.6 vs 20 at t=0.79 (~1e5×), full truth run 307–328 vs
      // 4.6–7.3 cpu-s (~50–70×), identical truth output — the candidate
      // term is real where shared-shingle df is high, and tighter-t is
      // never structurally slower (strictly fewer candidates, same
      // shared stages).
      val truth = jaccardPrefixPairs(s, d, 0.79)
        .filter(col("jaccard") >= 0.8).select("d1", "d2")
        .withColumn("in_truth", lit(1))
      val cand = minhashCandidates(sh).withColumn("in_cand", lit(1))
      truth.join(cand, Seq("d1", "d2"), "full_outer")
        .agg(
          sum(coalesce(col("in_truth"), lit(0))).cast("long").as("n_truth"),
          sum(coalesce(col("in_cand"), lit(0))).cast("long").as("n_cand"),
          sum(when(col("in_truth") === 1 && col("in_cand") === 1, 1)
            .otherwise(0)).cast("long").as("n_hit"))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          when(col("n_cand") === 0, lit(null))
            .otherwise(ExactRound.round4(col("n_hit"), col("n_cand")))
            .as("prec"),
          when(col("n_truth") === 0, lit(null))
            .otherwise(ExactRound.round4(col("n_hit"), col("n_truth")))
            .as("rec"))
    }),
    "dedup_simhash" -> ((s, d) => simhash(Tables.documents(s, d))),
    "dedup_simhash_pairs" -> ((s, d) => {
      // EXACT hamming ≤ 6 with no cartesian, via the pigeonhole principle:
      // 48 bits split into 7 bands of ≤ 7 bits; ≤ 6 differing bits cannot
      // touch all 7 bands, so every qualifying pair collides on ≥ 1 band.
      // Explode 7 (band_id, band_bits) keys per doc (a static array, no
      // interpreted lambda), equi-join, verify the true hamming distance,
      // THEN distinct — provably the same output as the all-pairs join.
      //
      // FILTER BEFORE DISTINCT (r16, the VERDICT r15 #6 plan audit):
      // hamming is a pure function of the pair's (s1, s2), so
      // distinct∘filter ≡ filter∘distinct — but bit_count is one fused
      // codegen instruction while distinct is a SHUFFLE of every banded
      // candidate. Filtering first means only TRUE pairs (× band
      // multiplicity ≤ 7) reach the exchange, instead of the full
      // Σ-per-key-cnt² candidate volume; on a typical corpus candidates
      // ≫ true pairs, so this is the difference between shuffling the
      // candidate set and shuffling the answer. The distinct key narrows
      // to (d1, d2, hamming) — same cardinality, hamming is functionally
      // dependent — so the exchange rows shrink too (AB_r16).
      // (plan body lives in bandedTruePairs, shared with the one-shot
      // dedup_components — self-review r17)
      // spread the leaf (r20 JobProf: 5 stages / 5 TASKS — simhash48 and
      // the banded candidate verify both serialized on the single fixture
      // split; no-op at real scale, see Materialize.spreadScan)
      bandedTruePairs(simhash(Materialize.spreadScan(Tables.documents(s, d))))
    }),
    "dedup_embedding_topk" -> ((s, d) => {
      embPairs(s, d)
        .orderBy(col("cosine").desc, col("id1"), col("id2"))
        .select("id1", "id2", "cosine")
        .limit(30)
    }),
    "dedup_sorted_neighborhood" -> ((s, d) => {
      // Sorted-neighborhood method (SNM), the sort-based dedup family
      // complementing the join-based LSH/pigeonhole paths: order docs by
      // (simhash, doc_id) inside 24-bit prefix blocks, compare each doc
      // against its next 3 neighbors via lead() — one sort, zero joins,
      // candidate volume exactly 3n. The block key keeps the window
      // PARTITIONED (an unpartitioned global-order window collapses to a
      // single task in Spark — the opposite of a 100 TB plan); blocked SNM
      // trades boundary recall for that parallelism, which is the
      // documented semantics of the operator (pairs straddling a prefix
      // boundary are the LSH paths' job).
      val sh = simhash(Tables.documents(s, d))
        .withColumn("block", expr("shiftright(simhash, 24)"))
      val w = Window.partitionBy(col("block")).orderBy(col("simhash"), col("doc_id"))
      val leads = sh.select(
        Seq(col("doc_id").as("a"), col("simhash").as("x")) ++
          (1 to 3).flatMap(j => Seq(
            lead(col("doc_id"), j).over(w).as(s"nd$j"),
            lead(col("simhash"), j).over(w).as(s"ns$j"))): _*)
      leads
        .select(col("a"), col("x"),
          explode(array((1 to 3).map(j =>
            struct(col(s"nd$j").as("b"), col(s"ns$j").as("y"))): _*)).as("nb"))
        .select(col("a"), col("x"), col("nb.b").as("b"), col("nb.y").as("y"))
        .filter(col("b").isNotNull)
        .withColumn("hamming", expr("cast(bit_count(x ^ y) as int)"))
        .filter(col("hamming") <= 6)
        .select(least(col("a"), col("b")).as("d1"),
          greatest(col("a"), col("b")).as("d2"), col("hamming"))
    }),
    "dedup_incremental" -> ((s, d) => {
      // Ingest-time dedup of a DELTA against an existing BASE corpus — the
      // batch shape of "does this new document duplicate anything we
      // already hold?". The base side is banded once (at 100 TB this is
      // the persisted index you maintain across ingests); candidates come
      // from the same 7-band pigeonhole equi-join as dedup_simhash_pairs,
      // so the join fans out with |delta|, never |base|², and the verdict
      // (dup count, closest hamming, novelty) aggregates per delta doc.
      val sh = simhash(Tables.documents(s, d)).transform(Materialize.once)
      val base = banded7(sh.filter(col("doc_id") % 10 =!= 0))
        .select(col("doc_id").as("base_id"), col("simhash").as("bs"),
          col("band_id"), col("band_bits"))
      val delta = banded7(sh.filter(col("doc_id") % 10 === 0))
        .select(col("doc_id").as("delta_id"), col("simhash").as("ds"),
          col("band_id"), col("band_bits"))
      // hamming BEFORE distinct (r16): the bit_count verify runs inside
      // the join's codegen stage, so only true dup pairs reach the
      // distinct exchange — see dedup_simhash_pairs for the full argument
      val hits = delta.join(base, Seq("band_id", "band_bits"))
        .withColumn("hamming", expr("cast(bit_count(ds ^ bs) as int)"))
        .filter(col("hamming") <= 6)
        .select("delta_id", "base_id", "hamming")
        .distinct()
        .groupBy("delta_id")
        .agg(count(lit(1)).as("n_dups"), min("hamming").as("min_hamming"))
      sh.filter(col("doc_id") % 10 === 0).select(col("doc_id"))
        .join(hits, col("doc_id") === col("delta_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          coalesce(col("min_hamming"), lit(-1)).as("min_hamming"),
          col("n_dups").isNull.as("is_novel"))
    })
  )

  private[operators] val shingleCte =
    """t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |idx AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) i FROM t),
      |shg AS (SELECT doc_id, list_distinct(list(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) sh
      |        FROM idx GROUP BY doc_id)""".stripMargin

  private val sigCte = {
    val mins = (0 until 16)
      .map(i => s"min((${hashA(i)} * h + ${hashB(i)}) % $MinhashP)")
      .mkString(", ")
    s"""shx AS (SELECT doc_id, unnest(sh) s FROM shg),
       |hb AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT % $MinhashP h FROM shx),
       |sig AS (SELECT doc_id, [$mins] sig FROM hb GROUP BY doc_id)""".stripMargin
  }

  private[operators] val simhashCte =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents),
      |th AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 12))::BIGINT h FROM tok),
      |tb AS (SELECT doc_id, h, unnest(range(0, 48)) b FROM th),
      |bs AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) s
      |       FROM tb GROUP BY doc_id, b),
      |sh48 AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT simhash
      |         FROM bs GROUP BY doc_id)""".stripMargin

  /** simhash pigeonhole pairs → undirected edges → recursive min-label
    * fixpoint → `lab(doc_id, cluster_id)`. Requires `WITH RECURSIVE`.
    * Composed by dedup_components and [[TrainingPipeline]]'s oracle.
    */
  private[operators] val componentsCte: String =
    s"""$simhashCte,
       |p AS (SELECT a.doc_id d1, b.doc_id d2
       |      FROM sh48 a JOIN sh48 b ON a.doc_id < b.doc_id
       |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
       |e AS (SELECT d1 u, d2 v FROM p UNION ALL SELECT d2 u, d1 v FROM p),
       |reach(node, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.u, r.label FROM reach r JOIN e ON e.v = r.node
       |),
       |lab AS (SELECT node AS doc_id, min(label) cluster_id FROM reach GROUP BY node)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "dedup_components" ->
      s"""WITH RECURSIVE $componentsCte
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) cluster_size,
         |  doc_id = cluster_id AS is_canonical
         |FROM lab""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS text_hash,
        |  count(*) OVER (PARTITION BY md5(text)) AS dup_count,
        |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
        |FROM documents""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCte
         |SELECT a.doc_id d1, b.doc_id d2,
         |  ${ExactRound.duck4("len(list_intersect(a.sh, b.sh))", "len(list_distinct(a.sh || b.sh))")} jaccard
         |FROM shg a JOIN shg b ON a.doc_id < b.doc_id
         |WHERE ${ExactRound.duck4Int("len(list_intersect(a.sh, b.sh))", "len(list_distinct(a.sh || b.sh))")} > 1000""".stripMargin,
    "dedup_ngram_jaccard_capped" ->
      s"""WITH $shingleCte,
         |ex0 AS (SELECT doc_id, unnest(sh) s FROM shg),
         |kept AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= $JaccardDfCap),
         |ex AS (SELECT doc_id, s, count(*) OVER (PARTITION BY doc_id) n_sh
         |       FROM ex0 JOIN kept USING (s)),
         |p AS (SELECT a.doc_id d1, b.doc_id d2, a.n_sh n1, b.n_sh n2, count(*) inter
         |      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2, 3, 4)
         |SELECT d1, d2, ${ExactRound.duck4("inter", "n1 + n2 - inter")} jaccard
         |FROM p WHERE ${ExactRound.duck4Int("inter", "n1 + n2 - inter")} > 1000""".stripMargin,
    // Prefix filtering is output-invariant: the oracle IS the n²
    // formulation at the same threshold — any divergence is a
    // prefix-filter bug.
    "dedup_ngram_jaccard_prefix" ->
      s"""WITH $shingleCte
         |SELECT a.doc_id d1, b.doc_id d2,
         |  ${ExactRound.duck4("len(list_intersect(a.sh, b.sh))", "len(list_distinct(a.sh || b.sh))")} jaccard
         |FROM shg a JOIN shg b ON a.doc_id < b.doc_id
         |WHERE ${ExactRound.duck4Int("len(list_intersect(a.sh, b.sh))", "len(list_distinct(a.sh || b.sh))")} > ${math.round(JaccardPrefixThreshold * 10000)}""".stripMargin,
    "dedup_substring" ->
      """WITH gs AS (SELECT unnest(generate_series(1, (SELECT max(len(text))::BIGINT FROM documents))) AS g),
        |w AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(substr(text, g::INT, 40)), 1, 8))::BIGINT AS h
        |      FROM documents CROSS JOIN gs
        |      WHERE g <= len(text) - 39 AND ('0x' || substr(md5(substr(text, g::INT, 40)), 1, 8))::BIGINT % 4 = 0)
        |SELECT a.doc_id d1, b.doc_id d2, count(*) AS shared_windows
        |FROM w a JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,
    "decontam_neardup" ->
      s"""WITH $shingleCte, $sigCte,
         |bands AS (
         |  SELECT doc_id, b AS band_id,
         |    array_to_string(sig[b*4+1 : b*4+4], ',') AS band_key
         |  FROM sig, unnest(range(0, 4)) t(b)
         |),
         |bk AS (SELECT doc_id,
         |  ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
         |  FROM documents),
         |cand AS (
         |  SELECT DISTINCT a.doc_id train_id, b.doc_id test_id
         |  FROM bands a JOIN bk ba ON a.doc_id = ba.doc_id AND ba.bucket < 80
         |  JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  JOIN bk bb ON b.doc_id = bb.doc_id AND bb.bucket >= 90
         |),
         |conf AS (
         |  SELECT test_id, count(*) n_train_matches, max(j) max_jaccard FROM (
         |    SELECT cand.test_id,
         |      ${ExactRound.duck4("len(list_intersect(x.sh, y.sh))", "len(list_distinct(x.sh || y.sh))")} j
         |    FROM cand JOIN shg x ON cand.train_id = x.doc_id
         |              JOIN shg y ON cand.test_id = y.doc_id) q
         |  WHERE j >= 0.8 GROUP BY test_id
         |)
         |SELECT s.doc_id,
         |  coalesce(conf.n_train_matches, 0)::BIGINT n_train_matches,
         |  coalesce(conf.max_jaccard, -1.0) max_jaccard,
         |  conf.test_id IS NULL is_clean
         |FROM shg s JOIN bk ON s.doc_id = bk.doc_id AND bk.bucket >= 90
         |LEFT JOIN conf ON conf.test_id = s.doc_id""".stripMargin,
    "dedup_minhash_sig" ->
      s"""WITH $shingleCte, $sigCte
         |SELECT doc_id, array_to_string(sig, ',') AS minhash_sig FROM sig""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""WITH $shingleCte, $sigCte,
         |bands AS (
         |  SELECT doc_id, b AS band_id,
         |    array_to_string(sig[b*4+1 : b*4+4], ',') AS band_key
         |  FROM sig, unnest(range(0, 4)) t(b)
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id d1, b.doc_id d2
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |)
         |SELECT d1, d2,
         |  ${ExactRound.duck4("len(list_intersect(x.sh, y.sh))", "len(list_distinct(x.sh || y.sh))")} jaccard
         |FROM cand JOIN shg x ON cand.d1 = x.doc_id JOIN shg y ON cand.d2 = y.doc_id
         |WHERE ${ExactRound.duck4Int("len(list_intersect(x.sh, y.sh))", "len(list_distinct(x.sh || y.sh))")} >= 8000""".stripMargin,
    "dedup_eval_minhash" ->
      s"""WITH $shingleCte, $sigCte,
         |bands AS (
         |  SELECT doc_id, b AS band_id,
         |    array_to_string(sig[b*4+1 : b*4+4], ',') AS band_key
         |  FROM sig, unnest(range(0, 4)) t(b)
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id d1, b.doc_id d2
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |),
         |truth AS (
         |  SELECT a.doc_id d1, b.doc_id d2
         |  FROM shg a JOIN shg b ON a.doc_id < b.doc_id
         |  WHERE ${ExactRound.duck4Int("len(list_intersect(a.sh, b.sh))", "len(list_distinct(a.sh || b.sh))")} >= 8000
         |),
         |hit AS (SELECT d1, d2 FROM cand INTERSECT SELECT d1, d2 FROM truth),
         |n AS (SELECT (SELECT count(*) FROM truth)::BIGINT n_truth,
         |             (SELECT count(*) FROM cand)::BIGINT n_cand,
         |             (SELECT count(*) FROM hit)::BIGINT n_hit)
         |SELECT n_truth, n_cand, n_hit,
         |  CASE WHEN n_cand = 0 THEN NULL
         |       ELSE ${ExactRound.duck4("n_hit", "n_cand")} END prec,
         |  CASE WHEN n_truth = 0 THEN NULL
         |       ELSE ${ExactRound.duck4("n_hit", "n_truth")} END rec
         |FROM n""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sh48""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $simhashCte
         |SELECT a.doc_id d1, b.doc_id d2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) hamming
         |FROM sh48 a JOIN sh48 b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6""".stripMargin,
    "dedup_sorted_neighborhood" ->
      s"""WITH $simhashCte,
         |nb AS (SELECT doc_id a, simhash x,
         |    lead(doc_id, 1) OVER w nd1, lead(simhash, 1) OVER w ns1,
         |    lead(doc_id, 2) OVER w nd2, lead(simhash, 2) OVER w ns2,
         |    lead(doc_id, 3) OVER w nd3, lead(simhash, 3) OVER w ns3
         |  FROM sh48
         |  WINDOW w AS (PARTITION BY simhash >> 24 ORDER BY simhash, doc_id)),
         |p AS (
         |  SELECT a, x, nd1 b, ns1 y FROM nb WHERE nd1 IS NOT NULL
         |  UNION ALL SELECT a, x, nd2, ns2 FROM nb WHERE nd2 IS NOT NULL
         |  UNION ALL SELECT a, x, nd3, ns3 FROM nb WHERE nd3 IS NOT NULL)
         |SELECT least(a, b) d1, greatest(a, b) d2,
         |  CAST(bit_count(xor(x, y)) AS INT) hamming
         |FROM p WHERE bit_count(xor(x, y)) <= 6""".stripMargin,
    "dedup_incremental" ->
      s"""WITH $simhashCte,
         |pr AS (SELECT d.doc_id did, bit_count(xor(d.simhash, b.simhash)) h
         |       FROM sh48 d JOIN sh48 b ON d.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
         |       WHERE bit_count(xor(d.simhash, b.simhash)) <= 6),
         |agg AS (SELECT did, count(*) n_dups, min(h) mh FROM pr GROUP BY did)
         |SELECT s.doc_id, coalesce(a.n_dups, 0)::BIGINT n_dups,
         |  coalesce(a.mh, -1)::INT min_hamming, a.n_dups IS NULL AS is_novel
         |FROM sh48 s LEFT JOIN agg a ON s.doc_id = a.did
         |WHERE s.doc_id % 10 = 0""".stripMargin,
    "dedup_embedding_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) emb FROM embeddings),
        |p AS (SELECT a.vec_id id1, b.vec_id id2,
        |        round(list_cosine_similarity(a.emb, b.emb), 4) cosine
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id1, id2, cosine FROM p
        |ORDER BY cosine DESC, id1, id2 LIMIT 30""".stripMargin
  )
}
