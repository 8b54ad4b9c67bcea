package graft

import org.apache.spark.sql.SparkSession

/** Warm-restart harness for every persisted store (r19, VERDICT r18 #3):
  * the SemAssignStoreSpec teardown footgun silently invalidated the sf10
  * assignment store for a full round of "warm" captures, and the 58 s /
  * 419 cpu-s rebuilds it caused were only caught by a cpu anomaly — this
  * class of regression is SILENT because a store rebuild serves correct
  * rows, just at cold-build cost. The harness makes it loud:
  *
  *   1. `runMain graft.WarmServe build <sfDir>`  — runs every
  *      store-backed query once, building + publishing all stores;
  *   2. (fresh JVM) `runMain graft.WarmServe serve <sfDir> [out.json]` —
  *      serves the same queries and asserts the ColdBuilds trace
  *      contains ONLY load-class entries (zero trainer/assign/build/
  *      absorb/upgrade), emitting each query's cold-build tags as a JSON
  *      artifact and exiting non-zero on any violation.
  *
  * Each query runs to its full result ([[SparkEntry.runFull]]), so the
  * gate sees every store read of the plan Verify checks; the harness
  * gates rebuilds and does not time anything.
  *
  * A deliberately torn marker (or any other silent store invalidation)
  * surfaces as the rebuild tag it causes — WarmServeSpec tears one and
  * asserts the harness fails loudly.
  */
object WarmServe {

  /** The store-backed serve surface. Curated (names change rarely and a
    * typo must fail fast — [[main]] requires every name to resolve), with
    * a completeness guard in [[servedNames]]: any registered query whose
    * name says `_stored`/`_served` must be in this list, so a new store
    * query cannot silently dodge the harness.
    */
  private[graft] val Served: Seq[String] = Seq(
    "dedup_incremental_stored",
    "dedup_components_incremental",
    "dedup_components_stored",
    "split_assign_leakage_safe_stored",
    "corpus_train_manifest_stored",
    "dedup_semantic",
    "embedding_kmeans",
    "embedding_prototypicality",
    "ann_ivfpq_served_topk",
    "ann_ivfpq_incremental",
    "ann_recall_incremental",
    "text_bm25_served_topk",
    "text_bm25_incremental",
    "ann_hybrid_served_rrf",
    "ann_hybrid_served_rerank",
    // r20: flagged by the mechanical calibration (calib-a/calib-b) —
    // plain-named but cold-builds the persisted bm + ann stores; the
    // rerank twin reads the same stores (first-touch attribution hides
    // it behind this one in a single-JVM sweep)
    "ann_hybrid_agreement",
    "ann_hybrid_rerank_agreement",
    // r20: the aggstate family was a LIVE instance of the reader-guard
    // residual — store-backed (persisted incremental partials keyed on
    // dataset + format version) but emitting no tags, so it dodged both
    // the builder and reader derivations. The v1→v2 format bump then
    // booked an unattributed one-time rebuild into SCALE10's
    // corpus_mixture_incremental row. ensureBuilt/readState now carry
    // aggstate_build/aggstate_load tags and the gate covers both.
    "corpus_stats_incremental",
    "corpus_mixture_incremental")

  private[graft] def servedNames(all: Set[String]): Seq[String] = {
    val missing = Served.filterNot(all)
    require(missing.isEmpty, s"WarmServe list names unknown queries: $missing")
    val dodged = all.filter(n => (n.contains("_stored") || n.contains("_served"))
      && !Served.contains(n))
    require(dodged.isEmpty,
      s"store-backed queries missing from WarmServe.Served: $dodged")
    Served
  }

  /** Load-class ColdBuilds tags — acceptable on a warm restart because
    * they read persisted/bounded state: explicit `_load`s, store metadata
    * reads, and per-JVM probes bounded by the query set or a parquet
    * footer (never a corpus pass or a trainer). Everything else on a
    * warm serve means a store was silently invalidated.
    */
  private val WarmOk = Set(
    "bm_meta", "bm_frozen_stats", "emb_count", "emb_dim",
    "jaccard_df_stats", "dsir_model",
    // r21 frozen-query caches: both are IN-pushed O(query-set) collects
    // (20 standing query docs' tokens / embeddings), never a corpus pass
    // — the bm_frozen_stats class, rebuilt per JVM by design
    "bm25_standing_queries", "hybrid_query_embs")

  private[graft] def violations(tags: Seq[String]): Seq[String] =
    tags.filterNot { t =>
      val base = t.takeWhile(_ != ':')
      base.endsWith("_load") || WarmOk.contains(base)
    }

  /** Serve each named query once to its full result, returning
    * (name, cold tags).
    */
  private[graft] def serveOnce(spark: SparkSession, sfDir: String,
      names: Seq[String],
      qs: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
        SparkEntry.queries): Seq[(String, Seq[String])] =
    names.map { name =>
      val m = ColdBuilds.mark()
      SparkEntry.runFull(qs(name)(spark, sfDir))
      (name, ColdBuilds.since(m))
    }

  // ---- mechanical completeness calibration (r20, VERDICT r19 #2) ----
  //
  // The Served list used to be hand-curated past the `_stored`/`_served`
  // naming guard — dedup_semantic/embedding_kmeans/embedding_
  // prototypicality were added by inspection, and a future store-backed
  // query with a plain name could silently skip the fresh-JVM gate. The
  // calibration derives the list from BEHAVIOR: run every registered
  // query twice, in two separate JVMs. A query that emits build-class
  // ColdBuilds tags in sweep A but is silent in the fresh-JVM sweep B
  // built state that PERSISTED — exactly the class whose warm-restart
  // cost WarmServe exists to pin. A query that pays the build in BOTH
  // sweeps is a deliberate per-JVM oracle anchor (ann_*_topk re-trains
  // in-JVM by design) and is legitimately absent from Served.
  //
  // Pure READERS are gated too (r20 follow-up): a plain-named query that
  // only reads another query's persisted store emits no BUILD tags in
  // either sweep, but in the fresh calib-b JVM its first touch of the
  // store pays a LOAD — an unambiguous store-read tag (`*_load`, or the
  // bm store's meta/frozen-stats reads; never WarmOk's benign per-JVM
  // probes). Any such query outside Served fails the gate: it is serving
  // out of a persisted store whose warm-restart cost nothing tracks.
  // Queries that emit build-class tags in calib-b are per-JVM anchors
  // and stay exempt even if they also read.
  //
  // Remaining residual (narrower than before): two plain-named readers
  // of the SAME store family in one sweep — the second hits the in-JVM
  // cache the first warmed and is invisible to single-JVM first-touch
  // attribution. Sweep order puts non-Served names first so first touch
  // lands on potential dodgers, not on the queries already under the
  // gate; a shadowed reader still cannot cause a silent rebuild.

  /** All registered query names, non-Served first (alphabetical within
    * each half) — the calibration sweep order.
    */
  private[graft] def calibOrder(all: Set[String]): Seq[String] =
    (all -- Served).toSeq.sorted ++ Served.filter(all)

  /** One calibration sweep with RAW tags (load-class included) — calib-b
    * derives both builders ([[buildTagsByQuery]]) and readers (load tags)
    * from the same single pass; a second pass would observe pre-warmed
    * caches.
    */
  private[graft] def rawTagsByQuery(spark: SparkSession, sfDir: String,
      qs: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
        SparkEntry.queries): Map[String, Seq[String]] =
    serveOnce(spark, sfDir, calibOrder(qs.keySet), qs).toMap

  /** A sweep's BUILD-CLASS tags per query (load-class filtered out by the
    * same classifier the serve gate uses).
    */
  private[graft] def buildTagsByQuery(raw: Map[String, Seq[String]]): Map[String, Seq[String]] =
    raw.map { case (n, tags) => n -> violations(tags) }

  /** Queries whose builds PERSISTED across the JVM boundary: build tags
    * in sweep A, silent in fresh-JVM sweep B.
    */
  private[graft] def persistedBuilders(a: Map[String, Seq[String]],
      b: Map[String, Seq[String]]): Seq[String] =
    a.collect { case (n, tags) if tags.nonEmpty &&
      b.getOrElse(n, Seq.empty).isEmpty => n }.toSeq.sorted

  /** Unambiguous persisted-store READ tags: explicit `_load`s plus the
    * bm store's metadata/frozen-stats reads. Deliberately excludes the
    * rest of [[WarmOk]] (emb_count/emb_dim/jaccard_df_stats/dsir_model
    * are per-JVM probes bounded by a footer or the query set — emitting
    * one does not mean a persisted store was touched).
    */
  private[graft] def storeReads(tags: Seq[String]): Seq[String] =
    tags.filter { t =>
      val base = t.takeWhile(_ != ':')
      base.endsWith("_load") || base == "bm_meta" || base == "bm_frozen_stats"
    }

  /** Queries that served out of a persisted store in the FRESH JVM
    * (sweep B): store-read tags present, zero build-class tags (a query
    * that also builds in the fresh JVM is a per-JVM anchor — exempt).
    */
  private[graft] def freshReaders(rawB: Map[String, Seq[String]]): Seq[String] =
    rawB.collect { case (n, tags) if violations(tags).isEmpty &&
      storeReads(tags).nonEmpty => n }.toSeq.sorted

  /** The mechanical guard: every persisted-store builder AND every
    * fresh-JVM store reader must be under the WarmServe gate.
    */
  private[graft] def calibrationGuard(persisted: Seq[String],
      readers: Seq[String] = Seq.empty): Unit = {
    val dodged = persisted.filterNot(Served.contains)
    require(dodged.isEmpty,
      s"store-backed queries (observed persisted cold builds) missing from " +
        s"WarmServe.Served: $dodged")
    val readerDodged = readers.filterNot(Served.contains)
    require(readerDodged.isEmpty,
      s"store-READING queries (fresh-JVM store loads, no builds) missing " +
        s"from WarmServe.Served: $readerDodged")
  }

  private def writeTagsTsv(path: String, dataDir: String,
      tags: Map[String, Seq[String]]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println(s"#data=$dataDir")
      tags.toSeq.sortBy(_._1).foreach { case (n, ts) =>
        w.println(s"$n\t${ts.mkString(",")}")
      }
    } finally w.close()
  }

  private def readTagsDataDir(path: String): String = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().collectFirst {
      case l if l.startsWith("#data=") => l.stripPrefix("#data=")
    }.getOrElse(sys.error(s"no #data= header in $path — rerun calib-a"))
    finally src.close()
  }

  /** The calibration sweeps run against a FRESH COPY of the dataset:
    * every store root keys on the canonical dataset path, so a copy at a
    * new path starts with pristine (cold) stores — without it, a machine
    * whose /tmp stores are already warm would observe zero builds in
    * sweep A and the guard would pass vacuously. The copy path must be
    * UNIQUE per calibration (stores keyed on a REUSED copy path survive
    * in /tmp past the copy's deletion and would pre-warm the next run),
    * so calib-a mints it and records it as the tsv's `#data=` header for
    * calib-b to reuse.
    */
  private def mintCalibDataDir(tsvPath: String): String =
    s"$tsvPath.data.${System.nanoTime()}"

  private def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val paths = Files.walk(from).iterator().asScala.toSeq
    paths.foreach { p =>
      val dest = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dest): Unit
      else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  private def deleteDir(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f): Unit)
    }
  }

  private def readTagsTsv(path: String): Map[String, Seq[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map { line =>
      val parts = line.split("\t", 2)
      val ts = if (parts.length > 1 && parts(1).nonEmpty)
        parts(1).split(",").toSeq else Seq.empty[String]
      parts(0) -> ts
    }.toMap
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty &&
      Set("build", "serve", "calib-a", "calib-b", "gc").contains(args(0)),
      "usage: WarmServe build|serve [sfDir] [outJson] | " +
        "calib-a <sfDir> <tags.tsv> | calib-b <sfDir> <a-tags.tsv> | " +
        "gc <liveDir1,liveDir2,...> [minAgeHours] [--dry-run]")
    val mode = args(0)
    if (mode == "gc") { // maintenance subcommand; StoreGc builds its session
      StoreGc.main(args.drop(1))
      return
    }
    val sfDir = if (args.length > 1) args(1) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = if (args.length > 2) args(2) else "/tmp/graft_warmserve.json"
    val spark = Session.local()
    if (mode == "calib-a" || mode == "calib-b") {
      // the mechanical completeness calibration: sweep EVERY registered
      // query against a fresh COPY of the dataset (cold stores by
      // construction); calib-a persists its build-tag observations,
      // calib-b (a fresh JVM) re-sweeps the same copy and gates
      // persisted builders against Served
      val dataDir = if (mode == "calib-a") mintCalibDataDir(out)
        else readTagsDataDir(out)
      val dataPath = java.nio.file.Paths.get(dataDir)
      if (mode == "calib-a") {
        copyDir(java.nio.file.Paths.get(sfDir), dataPath)
      } else require(java.nio.file.Files.isDirectory(dataPath),
        s"calib-b needs calib-a's dataset copy at $dataDir — run calib-a first")
      val raw = rawTagsByQuery(spark, dataDir)
      val tags = buildTagsByQuery(raw)
      if (mode == "calib-a") {
        writeTagsTsv(out, dataDir, tags)
        val builders = tags.collect { case (n, ts) if ts.nonEmpty => n }.toSeq.sorted
        println(s"""{"metric":"warmserve_calib_a","queries":${tags.size},"builders":${builders.size},"builder_names":${builders.map("\"" + _ + "\"").mkString("[", ",", "]")},"tags_tsv":"$out","sf":"$sfDir"}""")
      } else {
        val a = readTagsTsv(out)
        val persisted = persistedBuilders(a, tags)
        val readers = freshReaders(raw)
        val perJvm = tags.collect { case (n, ts) if ts.nonEmpty => n }.toSeq.sorted
        val guard = scala.util.Try(calibrationGuard(persisted, readers))
        val gate = if (guard.isSuccess) "pass" else "fail"
        println(s"""{"metric":"warmserve_calib","gate":"$gate","queries":${tags.size},"persisted_builders":${persisted.map("\"" + _ + "\"").mkString("[", ",", "]")},"fresh_readers":${readers.map("\"" + _ + "\"").mkString("[", ",", "]")},"per_jvm_anchors":${perJvm.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}""")
        deleteDir(dataPath)
        try spark.stop() catch { case _: Throwable => }
        guard.failed.foreach { e =>
          System.err.println(s"[warmserve] CALIB FAIL — ${e.getMessage}")
          sys.exit(1)
        }
      }
      return
    }
    val names = servedNames(SparkEntry.queries.keySet)
    val rows = serveOnce(spark, sfDir, names)
    if (mode == "build") {
      val built = rows.flatMap(_._2)
      System.err.println(s"[warmserve] build phase cold builds: ${built.mkString(", ")}")
      println(s"""{"metric":"warmserve_build","queries":${names.size},"cold_builds":${built.size},"sf":"$sfDir"}""")
    } else {
      val bad = rows.map { case (n, tags) => n -> violations(tags) }.filter(_._2.nonEmpty)
      val qJson = rows.map { case (n, tags) =>
        "\"" + n + "\":{\"cold_builds\":" +
          tags.map("\"" + _ + "\"").mkString("[", ",", "]") + "}"
      }.mkString("{", ",", "}")
      val vJson = bad.map { case (n, v) =>
        "\"" + n + "\":" + v.map("\"" + _ + "\"").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val gate = if (bad.isEmpty) "pass" else "fail"
      val line = s"""{"metric":"warmserve","gate":"$gate","queries":$qJson,"violations":$vJson,"sf":"$sfDir"}"""
      Bench.writeDetail("GRAFT_WARMSERVE_DETAIL", out, Seq(line)): Unit
      try spark.stop()
      catch { case e: Throwable => System.err.println(s"[warmserve] spark.stop failed: $e") }
      println(line)
      if (bad.nonEmpty) {
        System.err.println(s"[warmserve] FAIL — warm serve paid store builds: $bad")
        sys.exit(1)
      }
    }
  }
}
