package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.sources.{Datasets, Tables}

/** Persisted SIGNATURE store for incremental dedup — the dedup analog of
  * [[AnnIndexIO]]'s build-once/serve-many index: `dedup_incremental`
  * recomputes the BASE corpus' simhashes on every run, which is exactly
  * the O(|corpus|) pass a 100 TB ingest pipeline cannot afford per batch.
  * This module banks the base signatures once:
  *
  *   <root>/sigs.parquet/band_id=N/   (band_bits, doc_id, simhash)
  *
  * one row per (doc, pigeonhole band), partitioned by `band_id` and
  * sorted by `band_bits` inside each partition, so the candidate probe is
  * an equi-join against a narrow 16-byte-row table whose row groups are
  * clustered on the join key — the base DOCUMENTS (text payloads) are
  * never read again. Serving a delta batch costs one simhash pass over
  * the DELTA plus the banded join: O(|delta|), never O(|base|).
  *
  * Publish is crash-safe in the AnnIndexIO style: build to
  * a `.build_tmp` sibling, then one atomic rename; a torn build is
  * invisible and a replayed build is a no-op (SigStoreSpec asserts the
  * file set survives a second serve untouched).
  *
  * The registered query `dedup_incremental_stored` returns byte-identical
  * rows to `dedup_incremental` (same oracle SQL) — only the base side's
  * provenance changes.
  */
object SigStore {

  /** Bump when the on-disk layout changes: the version is folded into the
    * root digest, so an old store can never be mistaken for the new
    * format (the AnnIndexIO format-version idiom). v2: band partitions
    * gained `batch_id=<n>` sub-dirs so streamed growth commits
    * exactly-once per micro-batch (base build publishes as batch_id=-1).
    */
  private val FormatVersion = 2

  private[graft] def storeRoot(d: String): String =
    Datasets.storeRoot("graft_sigstore", "", d, FormatVersion)

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private[graft] def deleteStore(s: SparkSession, d: String): Unit = {
    val p = new Path(storeRoot(d))
    fs(s, p).delete(p, true)
    val pa = new Path(storeRoot(d) + "_absorbed")
    fs(s, pa).delete(pa, true)
  }

  /** Banded (band_id, band_bits, doc_id, simhash) rows for a documents
    * frame — the store's row shape.
    */
  private[graft] def bandedSigs(docs: DataFrame): DataFrame =
    Dedup.banded7(Dedup.simhash(docs))
      .select(col("band_id"), col("band_bits"), col("doc_id"), col("simhash"))

  /** Build a store at `root` (crash-safe: staged + atomic rename) from an
    * arbitrary base documents frame. Base rows publish as `batch_id=-1`.
    */
  private[graft] def buildFrom(s: SparkSession, root: String,
      baseDocs: DataFrame): Unit = {
    val rootPath = new Path(root)
    val f = fs(s, rootPath)
    val tmp = new Path(root + ".build_tmp")
    f.delete(tmp, true)
    bandedSigs(baseDocs)
      .withColumn("batch_id", lit(-1L))
      .repartition(col("band_id"))
      .sortWithinPartitions("band_bits")
      .write.mode(SaveMode.Overwrite).partitionBy("band_id", "batch_id")
      .parquet(new Path(tmp, "sigs.parquet").toString)
    f.create(new Path(tmp, "_STORE_READY")).close()
    // the old store survives until the replacement is fully staged — a
    // crash mid-build leaves the published store untouched (torn build
    // invisible); only the instant before the rename retires it
    f.delete(rootPath, true)
    require(f.rename(tmp, rootPath), s"atomic publish failed: $root")
  }

  /** Grow a published store by one batch of banded signature rows: they
    * land under their own `batch_id=<n>` sub-dirs inside the band
    * partitions via dynamic partition overwrite, so a replayed batch
    * rewrites exactly its own dirs — the same idiom as
    * AnnIndexIO.appendBatch. [[absorbComponents]] appends the rows its
    * contraction already computed.
    */
  private[graft] def appendSigRows(s: SparkSession, root: String,
      sigRows: DataFrame, batchId: Long): Unit =
    graft.sources.Writers.writeShards(
      sigRows.withColumn("batch_id", lit(batchId)),
      new Path(root, "sigs.parquet").toString,
      partitionCols = Seq("band_id", "batch_id"),
      sortCols = Seq("band_bits"), mode = SaveMode.Overwrite,
      options = Map("partitionOverwriteMode" -> "dynamic"))

  /** Build (once per dataset, crash-safe) the banded signature store over
    * the BASE split (`doc_id % 10 =!= 0`, mirroring dedup_incremental).
    */
  private[graft] def ensureBuilt(s: SparkSession, d: String): String =
    synchronized {
      val root = storeRoot(d)
      if (!fs(s, new Path(root)).exists(new Path(root, "_STORE_READY"))) {
        graft.ColdBuilds.record("sig_store_build")
        buildFrom(s, root,
          Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0))
      }
      root
    }

  /** dedup_incremental served from the persisted store: identical output,
    * but the base side is the narrow banked table — the only access to
    * `documents` is the one delta-side simhash pass (materialized once,
    * so the serving plan itself contains NO documents scan at all).
    */
  private[graft] def serveIncremental(s: SparkSession, d: String): DataFrame =
    serveAgainst(s, ensureBuilt(s, d),
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0))

  /** Grade an arbitrary delta documents frame against the store at
    * `root` — same verdict shape as dedup_incremental.
    */
  private[graft] def serveAgainst(s: SparkSession, root: String,
      deltaDocs: DataFrame): DataFrame = {
    val store = Tables.parquet(s, s"$root/sigs.parquet")
      .select(col("doc_id").as("base_id"), col("simhash").as("bs"),
        col("band_id"), col("band_bits"))
    val deltaSh = Dedup.simhash(deltaDocs).transform(Materialize.once)
    val delta = Dedup.banded7(deltaSh)
      .select(col("doc_id").as("delta_id"), col("simhash").as("ds"),
        col("band_id"), col("band_bits"))
    // hamming verify BEFORE the distinct exchange (r16): bit_count is one
    // fused instruction inside the probe join's codegen stage, so only
    // true dup pairs shuffle — the candidate volume (Σ per-key cnt², the
    // banded key space is ≤ 7×128 values) never leaves the map side.
    // The distinct key KEEPS `bs` (self-review r16): a re-crawled doc can
    // hold several signatures in the store (append-shaped growth never
    // retires old batch rows), and the legacy key counted each stored
    // VERSION within reach — dropping bs would collapse equal-hamming
    // versions and silently shift n_dups for re-sent docs. (`ds` is
    // functionally dependent on delta_id — one signature per delta doc —
    // so dropping IT is a pure narrowing.)
    val hits = delta.join(store, Seq("band_id", "band_bits"))
      .withColumn("hamming", expr("cast(bit_count(ds ^ bs) as int)"))
      .filter(col("hamming") <= 6)
      .select("delta_id", "base_id", "bs", "hamming")
      .distinct()
      .groupBy("delta_id")
      .agg(count(lit(1)).as("n_dups"), min("hamming").as("min_hamming"))
    deltaSh.select(col("doc_id"))
      .join(hits, col("doc_id") === col("delta_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("min_hamming"), lit(-1)).as("min_hamming"),
        col("n_dups").isNull.as("is_novel"))
  }

  // ---------------------------------------------------------------------
  // Incremental connected components: persisted labels beside the sigs
  // ---------------------------------------------------------------------

  /** Build (once, crash-safe) the component-label table for the BASE
    * split beside the signature store:
    *
    *   <root>/labels.parquet   (node = base doc_id, label = component min)
    *
    * Labels derive from the STORE's own banded rows (self-join on
    * (band_id, band_bits) → exact hamming ≤ 6 pairs — the identical
    * predicate dedup_simhash_pairs proves), so the build never re-reads
    * base document text. Publish: write to `labels.tmp` → rename →
    * `_LABELS_READY`; a torn build leaves no marker and rebuilds.
    */
  private[graft] def ensureLabelsBuilt(s: SparkSession, d: String): String =
    synchronized {
      val root = ensureBuilt(s, d)
      if (!fs(s, new Path(root)).exists(new Path(root, "_LABELS_READY"))) {
        graft.ColdBuilds.record("sig_labels_build")
        buildLabels(s, root)
      }
      root
    }

  /** (Re)build labels for an arbitrary store root from the store's OWN
    * banded rows — also the recovery path after a torn absorb (the
    * missing `_LABELS_READY` marker routes here, and the store already
    * holds every absorbed batch's sigs, so the full refixpoint is
    * correct by construction).
    */
  private[graft] def buildLabels(s: SparkSession, root: String): Unit = {
    val f = fs(s, new Path(root))
    require(f.exists(new Path(root, "sigs.parquet")),
      s"no signature store at $root — run buildFrom before building labels")
    val store = Tables.parquet(s, s"$root/sigs.parquet")
    val a = store.select(col("doc_id").as("d1"), col("simhash").as("s1"),
      col("band_id"), col("band_bits"))
    val b = store.select(col("doc_id").as("d2"), col("simhash").as("s2"),
      col("band_id"), col("band_bits"))
    // hamming verify before the distinct exchange (r16) — only true
    // pairs shuffle; see Dedup.dedup_simhash_pairs for the argument
    val pairs = a.join(b, Seq("band_id", "band_bits"))
      .filter(col("d1") < col("d2"))
      .filter(expr("bit_count(s1 ^ s2) <= 6"))
      .select("d1", "d2")
      .distinct()
    val nodes = store.select(col("doc_id").as("node")).distinct()
    publishLabels(s, root, Dedup.connectedComponents(nodes, pairs))
  }

  /** Crash-safe BASE-GENERATION publish: drop the marker FIRST (a torn
    * publish falls back to [[buildLabels]]), stage, swap, fold away any
    * patch state the new generation supersedes, restore the marker.
    *
    * cluster_size rides ON the generation rows (r19, VERDICT r18 #1 —
    * the pair-head idiom applied to the label store): the size is a pure
    * function of the persisted labels, so the skew-immune groupBy+join
    * (the r18 shape, PlanShapeSpec rule 6) runs ONCE here at publish
    * time, and [[serveComponentsStored]]'s default arm becomes a scan
    * plus broadcast hops — the sf10 warm serve was paying those two
    * corpus exchanges on EVERY serve (13.7 vs 6.5 cpu-s, SCALE10_r18).
    */
  private def publishLabels(s: SparkSession, root: String,
      labels: DataFrame): Unit = {
    val f = fs(s, new Path(root))
    val ready = new Path(root, "_LABELS_READY")
    val tmp = new Path(root, "labels.tmp")
    val live = new Path(root, "labels.parquet")
    f.delete(ready, false)
    f.delete(tmp, true)
    // two consumers (the size aggregate and the join's probe side) — one
    // materialization, freed after the staged write
    val sized = labels.select("node", "label").transform(Materialize.once)
    val sizes = sized.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    sized.join(sizes, Seq("label"))
      .select("node", "label", "cluster_size")
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    Materialize.drop(sized)
    f.delete(live, true)
    require(f.rename(tmp, live), s"labels publish failed: $live")
    // the fresh generation subsumes all patches and size overrides
    f.delete(new Path(root, "label_nodes.parquet"), true)
    f.delete(new Path(root, "label_remap.parquet"), true)
    f.delete(sizeOverridePath(root), true)
    f.create(ready).close()
  }

  private def sizeOverridePath(root: String) =
    new Path(root, "size_override.parquet")

  /** `dedup_components` served incrementally: the base split's clustering
    * is READ from the persisted label table, and absorbing the delta
    * split (`doc_id % 10 === 0`) costs
    *
    *   1. one simhash pass over the DELTA only,
    *   2. delta↔store banded probe + delta↔delta banded self-join
    *      (both O(|delta|)-shaped, the dedup_incremental_stored idiom),
    *   3. a min-label fixpoint over the CONTRACTED graph — delta nodes
    *      plus the touched base components collapsed to their stored
    *      label — never a full-graph refixpoint.
    *
    * The contraction is exact: a stored label IS the min doc_id of its
    * base component, so the contracted component's min equals the global
    * merged component's min, and base/delta splits are disjoint
    * (`% 10`), so label nodes can't collide with delta ids. Base docs in
    * untouched components keep their stored label; the output is
    * row-identical to the one-shot `dedup_components` (same oracle).
    */
  /** Contracted graphs up to this many nodes run the driver union-find
    * fast path; larger deltas fall back to the distributed min-label
    * fixpoint. Heap-scaled against its OWN footprint, not
    * [[Dedup.CcDriverMaxEdges]]'s ~350 B/edge budget, which is a
    * different unit and made this gate ~20× too conservative on small
    * heaps (ADVICE r9). The per-entry budget is ~256 B — not the ~24 B
    * of settled primitive longs, because the PEAK is the transient
    * `collect()` of boxed 2-field Rows plus the union-find's boxed
    * HashMap entries (self-review r10 caught the 24 B estimate
    * re-admitting the small-heap OOM the gate exists to prevent). An
    * operator-set `GRAFT_CC_DRIVER_MAX_EDGES` can only LOWER this gate
    * (min with the heap cap, second self-review pass): the knob is
    * calibrated in Dedup's ~350 B/edge units, so a value RAISED to widen
    * that path's collect must not transitively lift this one past its
    * own safe budget — 0 still forces the distributed fixpoint
    * everywhere.
    */
  private def SmallGraphNodes: Long = {
    val heapCap = math.min(2000000L, Runtime.getRuntime.maxMemory / 3 / 256)
    Dedup.CcDriverMaxEdgesEnv.fold(heapCap)(math.min(_, heapCap))
  }

  /** The store's CURRENT effective labels: the immutable base
    * generation, plus per-batch node patches, with every stored label
    * run through the tiny cumulative remap (broadcast left join — a
    * corpus-sized SCAN, never a shuffle). The remap is kept FLAT by
    * [[absorbComponents]]'s composition, so one hop resolves any label.
    *
    * PATCHES WIN over the base generation (anti-join on the patch node
    * set, bounded by absorbed-batch volume):
    * after a crash mid-absorb, the self-heal refixpoint may fold the
    * torn batch's partially-appended sigs into a new BASE generation,
    * and the replayed absorb then re-lands the same docs as a patch —
    * newest-wins is what keeps that doc single-rowed and correctly
    * labeled (the heal's labels can be under-merged if only some of a
    * doc's band dirs survived the crash).
    */
  private[graft] def effectiveLabels(s: SparkSession, root: String): DataFrame = {
    val f = fs(s, new Path(root))
    val base = Tables.parquet(s, s"$root/labels.parquet").select("node", "label")
    val nodesDir = new Path(root, "label_nodes.parquet")
    val all = if (f.exists(nodesDir)) {
      // Newest batch wins WITHIN the patches too: a doc re-sent under a
      // new batch_id lands a second patch row (the anti-join below only
      // shadows BASE rows), and serving both would double the doc with a
      // possibly-stale label. max_by(label, batch_id) keeps exactly the
      // latest absorb's verdict; the aggregation is bounded by absorbed
      // patch volume, never the corpus.
      val patches = Tables.parquet(s, nodesDir.toString)
        .groupBy("node").agg(expr("max_by(label, batch_id)").as("label"))
      base.join(patches.select("node"), Seq("node"), "left_anti")
        .unionByName(patches)
    } else base
    val remapPath = new Path(root, "label_remap.parquet")
    if (f.exists(remapPath)) {
      val remap = Tables.parquet(s, remapPath.toString)
      all.join(broadcast(remap), all("label") === remap("old_label"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("label")).as("label"))
    } else all
  }

  /** [[effectiveLabels]] WITH the persisted per-cluster size — the
    * zero-corpus-exchange read behind [[serveComponentsStored]]'s
    * default arm (r19, VERDICT r18 #1). Resolution order per row:
    *
    *   1. generation rows carry the size baked at publish time;
    *   2. patch rows (absorbed docs) carry NO size — every live patch
    *      label is in the override by construction (its batch touched
    *      it), so they resolve in step 4;
    *   3. the label runs through the flat remap (broadcast hop);
    *   4. the POST-remap label looks up `size_override.parquet` — the
    *      latest recomputed size of every cluster any absorb ever
    *      touched (|Σ delta|-bounded like the node patches, pruned of
    *      merged-away labels each absorb) — and coalesces over the
    *      generation size.
    *
    * Correct because a cluster's size changes ONLY when an absorb
    * touches it (a delta doc joins, or a merge lands on it), and every
    * such label is re-counted into the override that same absorb;
    * merged-AWAY labels never survive the remap hop, so their stale
    * entries are unreachable (and pruned anyway). Plan shape: narrow
    * scans + broadcast joins + a patch-sized aggregate — the corpus is
    * never shuffled.
    */
  private[graft] def effectiveSizedLabels(s: SparkSession, root: String): DataFrame = {
    val f = fs(s, new Path(root))
    val base = Tables.parquet(s, s"$root/labels.parquet")
      .select("node", "label", "cluster_size")
    val nodesDir = new Path(root, "label_nodes.parquet")
    val all = if (f.exists(nodesDir)) {
      val patches = Tables.parquet(s, nodesDir.toString)
        .groupBy("node").agg(expr("max_by(label, batch_id)").as("label"))
        .withColumn("cluster_size", lit(null).cast("long"))
      base.join(patches.select("node"), Seq("node"), "left_anti")
        .unionByName(patches.select("node", "label", "cluster_size"))
    } else base
    val remapPath = new Path(root, "label_remap.parquet")
    val remapped = if (f.exists(remapPath)) {
      val remap = Tables.parquet(s, remapPath.toString)
      all.join(broadcast(remap), all("label") === remap("old_label"), "left")
        .select(col("node"),
          coalesce(col("new_label"), col("label")).as("label"),
          col("cluster_size"))
    } else all
    val ovPath = sizeOverridePath(root)
    if (f.exists(ovPath)) {
      val ov = Tables.parquet(s, ovPath.toString)
        .select(col("label").as("ov_label"), col("cluster_size").as("ov_size"))
      remapped.join(broadcast(ov), remapped("label") === ov("ov_label"), "left")
        .select(col("node"), col("label"),
          coalesce(col("ov_size"), col("cluster_size")).as("cluster_size"))
    } else remapped
  }

  /** Contracted-fixpoint core shared by the incremental serve and
    * [[absorbComponents]]: clusters a delta documents frame against the
    * store's effective labels and returns
    *
    *   (relabel: (old_label, new_label) for TOUCHED stored labels whose
    *             component merged — |delta|-bounded, identity-free;
    *    deltaOut: (node, label) final labels for every delta doc).
    *
    * A doc present both in the store and the delta (an absorb replay)
    * resolves to its already-stored label, making relabel empty and
    * deltaOut a rewrite of identical rows.
    */
  private def contractDelta(s: SparkSession, root: String,
      deltaDocs: DataFrame): (DataFrame, DataFrame) = {
    val (sh, stats) = materializeShWithStats(Dedup.simhash(deltaDocs))
    val result = contractDeltaSh(s, root, sh, stats)
    // both returned frames are self-contained (local relations on the
    // driver fast path, their own checkpoints on the distributed one), so
    // this call-local signature checkpoint is dead — free its files
    // (ADVICE r11: serve loops must not accrete checkpoints per call)
    Materialize.drop(sh)
    result
  }

  /** Materialize a delta's (doc_id, simhash) frame, harvesting the
    * router's (row count, distinct-signature estimate) from the SAME
    * pass via `observe()` — the eager checkpoint IS the action that
    * computes the metrics, so the collapse-factor routing decision
    * costs no separate Spark job (r19, VERDICT r18 #2: the +10% sf0.1
    * incremental residual WAS the router's own ~0.1 s count+HLL job
    * per absorb; AB_r18 route_cost_note).
    *
    * NAME-based observe, deliberately NOT the `Observation` helper: the
    * helper lazily initializes the session's ObservationManager — a
    * non-serializable field that, once initialized, poisons every later
    * closure that transitively serializes the SparkSession (found in
    * THIS round's suite: the fraud ML model's scoring UDF captures its
    * training summary → DataFrame → session, and fraud_ml_score died
    * with NotSerializableException(ObservationManager) in any JVM that
    * had served an incremental dedup first). The name-based variant
    * only plants a CollectMetrics node; the metrics are read back
    * synchronously from the executed plan's accumulators
    * (`queryExecution.observedMetrics`) — no listener, no manager, no
    * extra thread. The thunk yields None only if the metrics row is
    * somehow absent, which the router answers with the legacy explicit
    * aggregate; decision inputs are identical on both paths (exact
    * count; same HLL++ at the default rsd).
    */
  private def materializeShWithStats(sh: DataFrame)
      : (DataFrame, () => Option[(Long, Long)]) = {
    val observed = sh.observe("graft_sh_stats", count(lit(1)).as("n"),
      approx_count_distinct(col("simhash")).as("nsig"))
    val m = observed.transform(Materialize.once)
    val stats = () =>
      observed.queryExecution.observedMetrics.get("graft_sh_stats")
        .map(row => (row.getLong(0), row.getLong(1)))
    (m, stats)
  }

  /** [[contractDelta]] over an already-checkpointed (doc_id, simhash)
    * frame — absorb computes the signatures ONCE and shares them with
    * the sig-bank write.
    */
  private def contractDeltaSh(s: SparkSession, root: String,
      deltaSh: DataFrame,
      shStats: () => Option[(Long, Long)] = () => None): (DataFrame, DataFrame) = {
    val baseLabels = effectiveLabels(s, root)
    val store = Tables.parquet(s, s"$root/sigs.parquet")
      .select(col("doc_id").as("base_id"), col("simhash").as("bs"),
        col("band_id"), col("band_bits"))
    // SIGNATURE CONTRACTION before the banded probe (r17, VERDICT r16
    // #1): docs with IDENTICAL simhash are interchangeable in every
    // hamming test (sig(a)=sig(rep) ⇒ hamming(a,x)=hamming(rep,x) for
    // all x), so the probe and the delta self-join run over one
    // REPRESENTATIVE per distinct signature (min doc_id), and every
    // other member rides a star edge to its rep — itself a true pair
    // (hamming 0 ≤ 6), so the contracted graph's components are exactly
    // the full graph's. On a dup-heavy crawl batch (the streaming
    // maintain workload: 50× replicated docs) this collapses the
    // edge pipeline from Σ clique² pairwise edges to |delta| star edges
    // plus the rep-graph — measured on the 25 k-doc maintain batch:
    // 2.98 M → ~30 k edges, edges-checkpoint 12.8 → sub-second — and
    // at 100 TB byte-identical re-crawls are the COMMON case.
    // `-Dgraft.cc.sigdedup=off` pins the all-docs arm for
    // interleaved A/Bs, "on" pins the contraction; UNSET routes on the
    // DELTA's measured collapse factor (r18, VERDICT r17 #1): one
    // map-side count+HLL pass over the checkpointed deltaSh decides
    // per absorb — never a cached constant (the r14 stale-gate lesson).
    // A mostly-distinct delta (collapse ≈ 1, e.g. a first crawl of new
    // content) skips the groupBy/rep-checkpoint/star-join machinery
    // whose node reduction would be ~zero; a re-crawl-heavy delta (the
    // maintain workload: collapse 50) keeps the 13×-fewer-edges win.
    // Outputs are label-identical on every arm (spec-pinned); threshold
    // + estimator-error argument at [[Dedup.CcSigDedupMinCollapse]].
    val sigDedup = sys.props.get("graft.cc.sigdedup") match {
      case Some("off") => false
      case Some(_) => true
      case None =>
        // measured stats ride the checkpoint pass when the caller
        // materialized via [[materializeShWithStats]] (r19 — zero-job
        // routing); a miss (or a legacy caller) pays the explicit
        // aggregate exactly as before
        val (n, nSig) = shStats().getOrElse {
          val row = deltaSh.agg(count(lit(1)),
            approx_count_distinct(col("simhash"))).head()
          (row.getLong(0), row.getLong(1))
        }
        val rep = nSig > 0 && n.toDouble / nSig >= Dedup.CcSigDedupMinCollapse
        if (sys.props.get("graft.banded.probe").contains("volume"))
          graft.PlanVolume.record("cc.sigdedup.route",
            if (rep) "rep" else "all", nSig)
        rep
    }
    // MATERIALIZED (r17 fix, same round): four consumers read the rep
    // frame (store probe, both self-join sides, the star join) — left
    // as a live aggregate each re-ran the groupBy AND, worse, the
    // post-aggregate plan shape cost the probe/self-join the
    // broadcast-side size estimate a checkpointed leaf gives them
    // (measured at sf10, where the serve delta is mostly-distinct sigs:
    // warm serve 9 → 88 s wall before this checkpoint)
    // REPARTITION BEFORE THE CHECKPOINT (r17, the one-shot's measured
    // sf1 lesson applied at the right layer): AQE coalesces this small
    // groupBy to ONE partition, and a 1-partition checkpointed leaf
    // serializes every downstream band join whose other side broadcasts
    // (the probe side keeps source partitioning — measured 6× wall on
    // the one-shot at sf1, CPU equal, pure serialization). Spreading
    // INSIDE the materialization stores a parallel leaf once; spreading
    // per-consumer (the first fix attempt) re-ran the shuffle in each of
    // the three banded consumers and cost the maintain row ~20% cpu
    // (measured 35-40 vs 29-32 cpu-s same-box).
    val repSh =
      if (!sigDedup) deltaSh
      else deltaSh.groupBy("simhash").agg(min("doc_id").as("doc_id"))
        .select("doc_id", "simhash")
        .repartition(s.sparkContext.defaultParallelism)
        .transform(Materialize.once)
    // star edges: member → its signature's rep (absent under the
    // all-docs arm, where every member probes for itself). NO broadcast hint
    // (self-review r17): repSh is |distinct sigs|-bounded, which on a
    // micro-batch is tiny but on the large one-shot deltas this same
    // function routes to the distributed fixpoint can be delta-sized —
    // a forced broadcast there is a driver collect of the delta. The
    // checkpointed leaf carries accurate size stats, so AQE broadcasts
    // exactly when it fits and sort-merge-joins when it would not.
    val starEdges =
      if (!sigDedup) None
      else Some(deltaSh
        .join(repSh.select(col("doc_id").as("rep_id"), col("simhash")),
          Seq("simhash"))
        .filter(col("doc_id") =!= col("rep_id"))
        .select(col("doc_id").as("d1"), col("rep_id").as("d2")))
    // banded form recomputes from the checkpointed simhash per use — a
    // posexplode is cheaper than a materialization job; repSh's leaf is
    // already spread (see its repartition above), so every banded
    // consumer gets a parallel probe side for free
    val delta = Dedup.banded7(repSh)
      .select(col("doc_id").as("delta_id"), col("simhash").as("ds"),
        col("band_id"), col("band_bits"))
    // delta↔base edges, contracted: the base endpoint becomes its label.
    // The hits side is |delta|-bounded — broadcast it so the label lookup
    // streams the corpus-sized label table instead of shuffling it.
    // hamming verify before the distinct exchange (r16): on a dup-heavy
    // delta the banded probe joins candidate volume ≈ |delta| × |store| /
    // 896 (the 7×128-value key space saturates); with the one-instruction
    // bit_count applied inside the join's codegen stage, only true pairs
    // reach the shuffle — measured on the components_maintain workload
    // (25 k-doc batch, identical 2.98 M-edge output): edge-pipeline
    // checkpoint 16.3 → 10.8 s, row 938 → 1449 docs/s, 80.6 → 64.6 cpu-s
    // (AB_r16).
    val hits = delta.join(store, Seq("band_id", "band_bits"))
      .filter(expr("bit_count(ds ^ bs) <= 6"))
      .select("delta_id", "base_id")
      .distinct()
    // distinct AFTER contraction to label space: a delta doc hitting a
    // k-member dup family produces k raw hits but ONE (delta, label)
    // edge — without this the edge set is |delta|×|family|, which a
    // 4000-doc family turns into millions of redundant edges.
    //
    // The raw hits are that |delta|×|family| shape, so they are NEVER
    // broadcast (ADVICE r8: a dense-family delta could exceed the
    // broadcast limit / driver heap). Checkpoint them once (so the store
    // probe runs exactly once), broadcast only the DISTINCT touched base
    // ids — bounded by docs-in-touched-families, not pairs — against the
    // corpus-sized label scan, then map pairs→labels through that small
    // projected table. The corpus label table is still only streamed.
    val hitsCk = hits.transform(Materialize.once)
    val touchedLabels = baseLabels
      .join(broadcast(hitsCk.select("base_id").distinct()),
        col("node") === col("base_id"))
      .select("base_id", "label")
    val db = hitsCk.join(touchedLabels, Seq("base_id"))
      .select(col("delta_id").as("d1"), col("label").as("d2"))
      .distinct()
    // delta↔delta edges (banded self-join, exact by pigeonhole)
    val da = delta.select(col("delta_id").as("d1"), col("ds").as("s1"),
      col("band_id"), col("band_bits"))
    val dbb = delta.select(col("delta_id").as("d2"), col("ds").as("s2"),
      col("band_id"), col("band_bits"))
    val dd = da.join(dbb, Seq("band_id", "band_bits"))
      .filter(col("d1") < col("d2"))
      .filter(expr("bit_count(s1 ^ s2) <= 6"))
      .select("d1", "d2")
      .distinct()
    // ONE materialization of the whole edge pipeline, tagged by origin so
    // nothing downstream re-derives from the store scan (the untagged
    // formulation recomputed the banded probe to find touched labels —
    // a second full store scan per absorb, measured)
    val edges = starEdges.foldLeft(
        db.withColumn("from_store", lit(true))
          .unionByName(dd.withColumn("from_store", lit(false))))(
        (acc, star) => acc.unionByName(star.withColumn("from_store", lit(false))))
      .transform(Materialize.once)
    if (sys.props.get("graft.banded.probe").contains("volume"))
      graft.PlanVolume.record("cc.sigdedup",
        if (sigDedup) "rep" else "all", edges.count())
    // The contracted graph is |delta|-bounded BY CONSTRUCTION (delta ids
    // + touched labels), so for micro-batch-sized deltas the whole
    // cluster step runs DRIVER-SIDE: one edges collect + one delta-id
    // collect feed a path-halving union-find, and relabel/deltaOut come
    // back as local relations — zero further joins, zero checkpoints
    // (local relations are immutable, so they are safe to use after the
    // store mutates). The count guard keeps huge one-shot deltas on the
    // distributed fixpoint; the collects are O(|delta|), never O(corpus).
    val nDelta = deltaSh.count()
    val nEdges = edges.count()
    val result =
      if (nDelta + nEdges <= SmallGraphNodes) {
        val edgeRows = edges.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        val deltaIds = deltaSh.select("doc_id").collect().map(_.getLong(0))
        val nodeIds = (deltaIds ++ edgeRows.map(_._2)).distinct
        val find = Dedup.driverFindMin(nodeIds, edgeRows.map(e => (e._1, e._2)))
        import s.implicits._
        val relabel = edgeRows.filter(_._3).map(_._2).distinct
          .map(l => (l, find(l))).filter(p => p._1 != p._2)
          .toSeq.toDF("old_label", "new_label")
        val deltaOut = deltaIds.map(n => (n, find(n)))
          .toSeq.toDF("node", "label")
        (relabel, deltaOut)
      } else {
        val nodes = deltaSh.select(col("doc_id").as("node"))
          .union(edges.select(col("d2").as("node")))
          .distinct()
        val contracted = Dedup.connectedComponents(
          nodes, edges.select("d1", "d2"))
        // relabel rows only for nodes that ARE stored labels (db's d2
        // side) — delta-node entries would never match a stored label
        // and would only bloat the persisted remap
        val touchedLabels = edges.filter(col("from_store"))
          .select(col("d2").as("node")).distinct()
        val relabel = contracted.join(touchedLabels, Seq("node"))
          .select(col("node").as("old_label"), col("label").as("new_label"))
          .filter(col("old_label") =!= col("new_label"))
        val deltaOut = contracted
          .join(deltaSh.select(col("doc_id")), col("node") === col("doc_id"))
          .select(col("doc_id").as("node"), col("label"))
        (relabel.transform(Materialize.once), deltaOut.transform(Materialize.once))
      }
    // the contraction's intermediates are fully consumed: `result` is
    // either driver-local relations or its own checkpoints — free the
    // per-absorb probe/edge files so a maintained store's checkpoint dir
    // stays O(1) per batch, not O(batches) (ADVICE r11). The residual is
    // the distributed branch's final fixpoint checkpoint inside
    // connectedComponents (unreachable from here) — one file-set per
    // LARGE-delta absorb, vs O(iterations) before.
    Materialize.drop(hitsCk)
    Materialize.drop(edges)
    if (sigDedup) Materialize.drop(repSh)
    result
  }

  /** Merged (doc_id, cluster_id) of effective labels plus a delta
    * documents frame — [[contractDelta]] applied without persisting.
    */
  private def mergedLabels(s: SparkSession, root: String,
      deltaDocs: DataFrame): DataFrame = {
    val (relabel, deltaOut) = contractDelta(s, root, deltaDocs)
    // relabel is |delta|-shaped, so it BROADCASTS — without the hint
    // Spark sort-merge-joins and shuffles the corpus-sized label table
    // by label per serve (plan-audited)
    val baseOut = effectiveLabels(s, root)
      .join(broadcast(relabel), col("label") === col("old_label"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("new_label"), col("label")).as("cluster_id"))
    baseOut.unionByName(
      deltaOut.select(col("node").as("doc_id"), col("label").as("cluster_id")))
  }

  /** The dedup_components output shape over a (doc_id, cluster_id)
    * frame — groupBy-count + equi-join, not a cluster_id window (r18,
    * VERDICT r17 #6: a window funnels a mega-dup family through one
    * task; the join's skewed probe partitions split under AQE, and the
    * count side is map-side-combined to |clusters| rows).
    */
  private def withClusterShape(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
  }

  private[graft] def serveComponentsIncremental(s: SparkSession, d: String): DataFrame = {
    val root = ensureLabelsBuilt(s, d)
    withClusterShape(mergedLabels(s, root,
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0)))
  }

  /** Absorb a delta batch INTO the store at O(|delta|) WRITE cost — the
    * base label generation is never rewritten. Three artifacts change:
    *
    *   1. the signature bank grows by the batch's banded rows
    *      (exactly-once `batch_id=<n>` dirs, the appendBatch idiom);
    *   2. the batch's final labels land under
    *      `label_nodes.parquet/batch_id=<n>/` (same exactly-once shape);
    *   3. the tiny cumulative `label_remap.parquet` (old_label →
    *      new_label for every component ever merged) republishes via
    *      tmp-swap, COMPOSED flat: old entries are run through this
    *      batch's relabel, so serving resolves any label in ONE hop.
    *
    * The composition stays flat because a relabel target is a component
    * min over current labels ∪ delta ids — never a label that was
    * previously remapped away (those are no longer current) — so
    * ran(remap) ∩ dom(remap) = ∅ is invariant.
    *
    * Replay of the LAST batch (the structured-streaming recovery case)
    * is idempotent: sig and node dirs rewrite identically, the delta
    * resolves to its stored labels, relabel comes out empty, and the
    * remap recomposes to itself. A crash anywhere leaves no
    * `_LABELS_READY` marker; recovery refixpoints from the sig bank —
    * which already carries every absorbed batch — via [[buildLabels]].
    */
  private[graft] def absorbComponents(s: SparkSession, root: String,
      deltaDocs: DataFrame, batchId: Long): Unit = synchronized {
    val f = fs(s, new Path(root))
    val ready = new Path(root, "_LABELS_READY")
    // self-heal instead of require: after a crash mid-absorb the marker
    // is down, and the REPLAYED batch (structured-streaming recovery)
    // lands right here — refixpoint from the sig bank (which holds any
    // partially-appended dirs; the replay's dynamic overwrite rewrites
    // them wholesale) and carry on. A require would wedge the stream.
    if (!f.exists(ready)) buildLabels(s, root)
    // ONE simhash pass over the delta, shared by the contraction and the
    // sig-bank write (the router's collapse stats ride it via observe —
    // r19, VERDICT r18 #2); materialize the contraction BEFORE mutating
    // the state it reads
    val (deltaSh, shStats) = materializeShWithStats(Dedup.simhash(deltaDocs))
    val (relabel, deltaOut) = contractDeltaSh(s, root, deltaSh, shStats)
    val remapPath = new Path(root, "label_remap.parquet")
    val oldRemap =
      if (f.exists(remapPath)) Tables.parquet(s, remapPath.toString)
      else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("old_label",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("new_label",
            org.apache.spark.sql.types.LongType, nullable = false))))
    // compose: run existing targets through this batch's relabel, then
    // add the batch's fresh entries (dom(oldRemap) can't re-enter: those
    // labels are no longer current, so relabel never keys on them)
    val composed = oldRemap.alias("o")
      .join(broadcast(relabel.alias("r")),
        col("o.new_label") === col("r.old_label"), "left")
      .select(col("o.old_label"),
        coalesce(col("r.new_label"), col("o.new_label")).as("new_label"))
    val newRemap = composed.unionByName(relabel).transform(Materialize.once)
    // marker drops BEFORE any mutation: a crash mid-absorb must route
    // recovery to the full refixpoint, never leave stale labels looking
    // authoritative over a store that already holds the delta's sigs
    f.delete(ready, false)
    appendSigRows(s, root,
      Dedup.banded7(deltaSh)
        .select(col("band_id"), col("band_bits"), col("doc_id"), col("simhash")),
      batchId)
    graft.sources.Writers.writeShards(
      deltaOut.withColumn("batch_id", lit(batchId)),
      new Path(root, "label_nodes.parquet").toString,
      partitionCols = Seq("batch_id"), sortCols = Seq("node"),
      mode = SaveMode.Overwrite,
      options = Map("partitionOverwriteMode" -> "dynamic"))
    val remapTmp = new Path(root, "label_remap.tmp")
    f.delete(remapTmp, true)
    newRemap.write.mode(SaveMode.Overwrite).parquet(remapTmp.toString)
    f.delete(remapPath, true)
    require(f.rename(remapTmp, remapPath), s"remap publish failed: $remapPath")
    // SIZE OVERRIDE (r19, VERDICT r18 #1): re-count exactly the clusters
    // this batch touched — relabel targets (merged-into labels) plus
    // every label a delta doc landed on — against the store's
    // POST-mutation effective labels, so the recorded sizes are correct
    // by construction under replays, patch-shadowed rewrites, and
    // multi-way merges alike. The count is a broadcast-semi-join-pruned
    // aggregate: one narrow label scan (absorb already pays one inside
    // the contraction), a |touched|-row shuffle, never a corpus
    // exchange. Compose = prune entries whose label this batch merged
    // away (dom(remap) never re-becomes current) or re-touched, then
    // union the fresh counts; publish via the remap's tmp-swap idiom
    // (materialized first — the compose READS the file it replaces).
    val touched = relabel.select(col("new_label").as("label"))
      .unionByName(deltaOut.select(col("label")))
      .distinct()
    val newSizes = effectiveLabels(s, root)
      .join(broadcast(touched), Seq("label"))
      .groupBy("label").agg(count(lit(1)).as("cluster_size"))
    val ovPath = sizeOverridePath(root)
    val oldOv =
      if (f.exists(ovPath)) Tables.parquet(s, ovPath.toString)
      else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("label",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("cluster_size",
            org.apache.spark.sql.types.LongType, nullable = false))))
    val newOv = oldOv
      .join(broadcast(newRemap.select(col("old_label").as("label"))),
        Seq("label"), "left_anti")
      .join(broadcast(touched), Seq("label"), "left_anti")
      .unionByName(newSizes)
      .transform(Materialize.once)
    val ovTmp = new Path(root, "size_override.tmp")
    f.delete(ovTmp, true)
    newOv.write.mode(SaveMode.Overwrite).parquet(ovTmp.toString)
    f.delete(ovPath, true)
    require(f.rename(ovTmp, ovPath), s"size override publish failed: $ovPath")
    f.create(ready).close()
    // every frame this absorb checkpointed is now persisted in the store
    // (sig bank, label_nodes, label_remap, size_override) — free the
    // checkpointed state (files or blocks, per flavor) so a long run of
    // absorbs holds O(1) checkpoints, not O(batches)
    // (ADVICE r11; r15: the local flavor now unpersists eagerly too).
    // relabel/deltaOut are local relations on the small-graph path; drop
    // no-ops on those.
    Seq(deltaSh, relabel, deltaOut, newRemap, newOv).foreach(Materialize.drop)
  }

  /** Components served straight from the persisted label state — the
    * post-absorb read path: narrow scans of base + patches with the
    * broadcast remap hop, zero fixpoint, zero document reads. The
    * marker check is BEST-EFFORT fail-fast at DataFrame construction
    * (the marker is down for exactly the mutation window); the frame is
    * lazy, so a collect that races a concurrent same-store absorb can
    * still observe mid-swap state — interleaving absorbs and serves on
    * one store needs external coordination (the intended deployment is
    * a single maintainComponents writer, with serves between batches).
    */
  private[graft] def serveComponentsStored(s: SparkSession, root: String): DataFrame = {
    require(fs(s, new Path(root)).exists(new Path(root, "_LABELS_READY")),
      s"label state not published (absorb in flight or torn): $root")
    // reads the PERSISTED sizes — a scan plus broadcast hops, zero
    // corpus exchanges per serve (the r18 per-serve groupBy+join lost,
    // AB_r19)
    ensureSized(s, root)
    effectiveSizedLabels(s, root)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"),
        (col("node") === col("label")).as("is_canonical"))
  }

  /** Legacy self-upgrade gate for the persisted sizes: a store published
    * before r19 either lacks the cluster_size column on its generation
    * rows, or carries node patches from absorbs that predate the
    * override file — both fold into a fresh sized generation via
    * [[publishLabels]], paid at most once per legacy store. New-code
    * absorbs ALWAYS publish the override (even empty), so
    * patches-without-override can only mean legacy state.
    */
  private def ensureSized(s: SparkSession, root: String): Unit = synchronized {
    val f = fs(s, new Path(root))
    val hasSizes = Tables.parquet(s, s"$root/labels.parquet")
      .schema.fieldNames.contains("cluster_size")
    val legacyPatches = f.exists(new Path(root, "label_nodes.parquet")) &&
      !f.exists(sizeOverridePath(root))
    if (!hasSizes || legacyPatches) {
      graft.ColdBuilds.record("sig_labels_size_upgrade")
      publishLabels(s, root, effectiveLabels(s, root))
    }
  }

  /** Build-absorb-serve, end to end, as a pure function of the dataset
    * dir: a SEPARATE store (own digest suffix — the shared serve store
    * must stay base-only or [[mergedLabels]] would double-count) gets
    * the base split, then absorbs the `% 10` delta as one batch, and
    * serving reads ONLY the persisted label state. Hash-matching the
    * full-corpus recursive-CTE oracle makes the entire absorb pipeline
    * (patch dirs + flat remap + union-find contraction) DuckDB-gated,
    * not just spec-gated. Any torn state rebuilds from scratch.
    */
  private[graft] def serveComponentsAbsorbed(s: SparkSession, d: String): DataFrame =
    synchronized {
      val root = storeRoot(d) + "_absorbed"
      val f = fs(s, new Path(root))
      if (!f.exists(new Path(root, "_ABSORBED"))) {
        // FIRST-TIME INDEX CONSTRUCTION, phase-attributed (VERDICT r15
        // #2): the fixture forces a from-scratch build — base sig bank
        // (one simhash pass over the 90% split), base label fixpoint
        // (the one-shot clustering of the base split; inherently
        // ~corpus-shaped ONCE), then the O(|delta|) absorb. A deployment
        // restart against an EXISTING store pays none of this: the
        // `_ABSORBED` marker short-circuits straight to the label scan
        // below — there is no per-JVM cache in that path, so the warm
        // serve_sec the scale artifact reports IS the fresh-process
        // restart cost. The timed phase tags land in the row's
        // cold_builds field so the build figure self-attributes.
        graft.ColdBuilds.record("sig_store_absorb")
        f.delete(new Path(root), true)
        graft.ColdBuilds.timed("sig_absorb_base_sigs")(buildFrom(s, root,
          Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0)))
        graft.ColdBuilds.timed("sig_absorb_base_labels")(buildLabels(s, root))
        graft.ColdBuilds.timed("sig_absorb_delta")(absorbComponents(s, root,
          Tables.documents(s, d).filter(col("doc_id") % 10 === 0), batchId = 0L))
        f.create(new Path(root, "_ABSORBED")).close()
      }
      serveComponentsStored(s, root)
    }

  /** The RAW (doc_id, cluster_id) label frame from the absorbed store —
    * for consumers that never read cluster_size (r18, measured): the
    * leakage-safe split buckets on cluster_id alone and the manifest's
    * cluster_canonical is the pure projection doc_id === cluster_id, so
    * serving them through [[withClusterShape]] paid the size
    * aggregation's two exchanges over the full corpus for columns that
    * were immediately dropped (split_assign_leakage_safe_stored warm
    * floor 11.1–12.7 cpu-s at sf10 vs ~4.6 before the r18 window→join
    * rewrite; the size join is the one shape piece that needs an
    * aggregation at all). dedup_components_stored itself — whose OUTPUT
    * contract includes cluster_size — still serves the full shape.
    */
  private[graft] def serveComponentsLabels(s: SparkSession, d: String): DataFrame = {
    serveComponentsAbsorbed(s, d): Unit // ensure the store is built
    val root = storeRoot(d) + "_absorbed"
    effectiveLabels(s, root)
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental_stored" -> ((s, d) => serveIncremental(s, d)),
    "dedup_components_incremental" -> ((s, d) => serveComponentsIncremental(s, d)),
    "dedup_components_stored" -> ((s, d) => serveComponentsAbsorbed(s, d))
  )

  /** Output is identical to dedup_incremental by construction, so the
    * oracle is the same SQL — the store only changes where the base
    * signatures come from.
    */
  def oracleSql: Map[String, String] = Map(
    "dedup_incremental_stored" -> Dedup.oracleSql("dedup_incremental"),
    // identical output to the one-shot clustering over the FULL corpus —
    // the incremental path only changes where base labels come from
    "dedup_components_incremental" -> Dedup.oracleSql("dedup_components"),
    // same oracle again: after the absorb, the persisted label state must
    // BE the full-corpus clustering
    "dedup_components_stored" -> Dedup.oracleSql("dedup_components")
  )
}
