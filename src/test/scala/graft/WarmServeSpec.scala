package graft

import org.scalatest.funsuite.AnyFunSuite

/** The warm-restart harness must catch SILENT store invalidation (r19,
  * VERDICT r18 #3): a torn marker makes the next serve rebuild — correct
  * rows at cold-build cost — and nothing failed before this harness. The
  * integration test tears a real marker and asserts the harness flags
  * the rebuild loudly.
  */
class WarmServeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("violation classifier: loads pass, builds/trainers/absorbs/upgrades fail") {
    assert(WarmServe.violations(Seq(
      "sem_pairs_load", "kmeans_centroids_load", "perc_standing_load",
      "aggstate_load", "bm_meta", "bm_frozen_stats", "emb_count",
      "emb_dim")).isEmpty)
    val bad = Seq("sem_assign_build", "kmeans_trainer", "sig_store_build",
      "sig_labels_build", "sig_store_absorb", "sig_labels_size_upgrade",
      "ann_index_train", "bm_store_build", "sig_absorb_base_sigs:61.2s",
      "aggstate_build:12.3s")
    assert(WarmServe.violations(bad) == bad)
    assert(WarmServe.violations(Seq("sem_pairs_load", "kmeans_trainer"))
      == Seq("kmeans_trainer"))
  }

  test("served-name completeness guard: unknown and dodging names both fail fast") {
    val all = SparkEntry.queries.keySet
    assert(WarmServe.servedNames(all) == WarmServe.Served)
    intercept[IllegalArgumentException] {
      WarmServe.servedNames(all - "dedup_components_stored")
    }
    intercept[IllegalArgumentException] {
      WarmServe.servedNames(all + "q_new_thing_stored")
    }
  }

  test("calibration guard: a plain-named store-backed query is caught mechanically") {
    // (r20, VERDICT r19 #2) register a store-backed query whose name has
    // no _stored/_served hint: it records a build-class tag on FIRST run
    // (persisting a marker) and is silent on the re-sweep — the
    // persisted-builder derivation must flag it without any curation.
    val markerDir = java.nio.file.Files.createTempDirectory("ws_calib").toFile
    val marker = new java.io.File(markerDir, "_PLAIN_STORE_READY")
    val plainStoreQuery: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = { (s, _) =>
      if (!marker.exists()) {
        ColdBuilds.record("plain_store_build")
        marker.createNewFile(): Unit
      }
      s.range(1).toDF("x")
    }
    val perJvmAnchor: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = { (s, _) =>
      ColdBuilds.record("anchor_train") // every run: in-JVM by design
      s.range(1).toDF("x")
    }
    val servedLike: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = { (s, _) => s.range(1).toDF("x") }
    val qs = Map(
      "my_plainly_named_query" -> plainStoreQuery,
      "my_anchor_query" -> perJvmAnchor,
      "my_pure_query" -> servedLike)
    val sweepA = WarmServe.buildTagsByQuery(WarmServe.rawTagsByQuery(spark, "unused", qs))
    // "fresh JVM": marker persists
    val sweepB = WarmServe.buildTagsByQuery(WarmServe.rawTagsByQuery(spark, "unused", qs))
    val persisted = WarmServe.persistedBuilders(sweepA, sweepB)
    assert(persisted == Seq("my_plainly_named_query"),
      s"derivation must flag exactly the persisted builder, got $persisted")
    val err = intercept[IllegalArgumentException] {
      WarmServe.calibrationGuard(persisted)
    }
    assert(err.getMessage.contains("my_plainly_named_query"))
    // every CURRENT Served name passes the guard by construction
    WarmServe.calibrationGuard(WarmServe.Served)
    marker.delete(); markerDir.delete(): Unit
  }

  test("calibration guard: a plain-named pure READER of a persisted store is caught") {
    // (r20 follow-up) a reader emits no build tags in either sweep, but
    // its first touch in the fresh calib-b JVM pays an unambiguous
    // store-read tag — the derivation must flag it; per-JVM anchors that
    // also read stay exempt, and WarmOk's benign probes never count.
    val rawB = Map(
      "plain_reader" -> Seq("sem_pairs_load"),
      "anchor_that_also_reads" -> Seq("ann_index_train", "kmeans_centroids_load"),
      "probe_only" -> Seq("emb_count", "jaccard_df_stats", "dsir_model"),
      "silent" -> Seq.empty[String])
    assert(WarmServe.freshReaders(rawB) == Seq("plain_reader"))
    val err = intercept[IllegalArgumentException] {
      WarmServe.calibrationGuard(Seq.empty, Seq("plain_reader"))
    }
    assert(err.getMessage.contains("plain_reader"))
    WarmServe.calibrationGuard(Seq.empty, Seq("dedup_semantic")) // gated reader passes
    // the read classifier: explicit loads + bm meta/stats only
    assert(WarmServe.storeReads(Seq("bm_meta", "bm_frozen_stats", "emb_dim",
      "dsir_model", "x_load:1.2s", "kmeans_trainer"))
      == Seq("bm_meta", "bm_frozen_stats", "x_load:1.2s"))
  }

  test("calibration sweep order puts potential dodgers before gated names") {
    val all = SparkEntry.queries.keySet
    val order = WarmServe.calibOrder(all)
    assert(order.toSet == all)
    val servedIdx = WarmServe.Served.filter(all).map(order.indexOf)
    val plainIdx = order.zipWithIndex
      .collect { case (n, i) if !WarmServe.Served.contains(n) => i }
    assert(plainIdx.forall(_ < servedIdx.min))
  }

  test("a deliberately torn marker makes the warm serve fail loudly") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    // warm pass over an already-published store: zero violations
    graft.operators.Similarity.queries("dedup_semantic")(spark, sf).count(): Unit
    val warm = WarmServe.serveOnce(spark, sf, Seq("dedup_semantic"))
    assert(warm.flatMap(r => WarmServe.violations(r._2)).isEmpty,
      s"published store must serve warm: ${warm.flatMap(_._2)}")
    // tear THIS dataset's assignment-store marker (scoped to its own
    // root — the r18 teardown lesson) and clear the JVM model caches to
    // simulate the silent-invalidation-then-restart sequence
    val (root, _) = graft.operators.Similarity.semStoreRoot(spark, sf)
    val marker = new java.io.File(root.toString, "_READY")
    assert(marker.exists() && marker.delete(), s"fixture marker tear failed: $marker")
    graft.JvmCache.clearAll()
    val torn = WarmServe.serveOnce(spark, sf, Seq("dedup_semantic"))
    val flagged = torn.flatMap(r => WarmServe.violations(r._2))
    assert(flagged.exists(_.startsWith("sem_assign_build")),
      s"torn marker must surface as a flagged rebuild, got: $flagged")
    // the rebuild republished the store — later suites see a valid root
    assert(marker.exists(), "the flagged serve must still have healed the store")
  }
}
