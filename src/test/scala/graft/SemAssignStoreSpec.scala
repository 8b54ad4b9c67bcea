package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The persisted k-means assignment store behind dedup_semantic /
  * embedding_kmeans / embedding_prototypicality (r15, VERDICT r14 #6):
  * the stored assignment must be row-identical to the computed one, the
  * stored pair head to the head composed from the in-plan pair
  * enumeration, and a torn write (missing _READY marker) must rebuild
  * rather than serve partial state.
  */
class SemAssignStoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def rows(q: String): Seq[String] =
    Similarity.queries(q)(spark, sf)
      .collect().map(_.toString).sorted.toSeq

  /** dedup_semantic composed in-plan: the ranked head of the
    * intra-cluster pair enumeration, with the served `is_dup` column.
    */
  private def composedHead(): Seq[String] = {
    import org.apache.spark.sql.functions.col
    Similarity.topPairsHead(StoreFixtures.semanticPairs(spark, sf))
      .withColumn("is_dup", col("cosine") >= Similarity.SemanticDupThreshold)
      .select("cluster_id", "rank", "id1", "id2", "cosine", "is_dup")
      .collect().map(_.toString).sorted.toSeq
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }

  /** THIS fixture's store root only (r18): tearing every root under the
    * shared tmp dir — the previous idiom — invalidated OTHER fixtures'
    * stores (the sf10 one) on every suite run, so later warm-restart
    * captures silently paid full rebuilds.
    */
  private def ownRoot(): java.io.File =
    new java.io.File(Similarity.semStoreRoot(spark, sf)._1.toString)

  private def publishedOwnRoot(withFile: String): Seq[java.io.File] = {
    val r = ownRoot()
    if (new java.io.File(r, "_READY").exists() &&
      new java.io.File(r, withFile).exists()) Seq(r)
    else Nil
  }

  test("stored assignment == computed assignment, and dedup_semantic == the in-plan pair head") {
    Seq("dedup_semantic", "embedding_kmeans", "embedding_prototypicality")
      .foreach(q => assert(rows(q).nonEmpty, q)) // publishes the store
    val roots = publishedOwnRoot("assign.parquet")
    assert(roots.nonEmpty, "expected a published assignment store")
    val stored = spark.read.parquet(new java.io.File(roots.head, "assign.parquet").toString)
      .collect().map(_.toString).sorted.toSeq
    val computed = Similarity.computeAssignment(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(stored == computed && stored.nonEmpty,
      "assign.parquet diverges from the computed assignment")
    assert(rows("dedup_semantic") == composedHead(),
      "pair-head store and in-plan pair enumeration diverge")
  }

  test("warm restart serves centroid VALUES from the store, no trainer (VERDICT r16 #4)") {
    val viaTrainer = rows("embedding_prototypicality") // publishes the store
    // simulate a fresh JVM against the published store: drop every
    // in-memory model cache but keep the persisted root
    JvmCache.clearAll()
    val mark = graft.ColdBuilds.mark()
    val viaStore = rows("embedding_prototypicality")
    val builds = graft.ColdBuilds.since(mark)
    assert(builds.contains("kmeans_centroids_load"),
      s"restart must read centroids.parquet, got: $builds")
    assert(!builds.contains("kmeans_trainer"),
      s"restart must NOT re-run the Lloyd trainer, got: $builds")
    assert(viaStore == viaTrainer,
      "store-loaded centroids diverge from trained centroids")
    // a store published BEFORE centroids existed (centroids.parquet
    // absent, _READY present) must fall back to the trainer and still
    // serve identical rows
    val legacy = publishedOwnRoot("centroids.parquet")
    assert(legacy.nonEmpty, "expected a published store with centroids")
    legacy.foreach(r => rmTree(new java.io.File(r, "centroids.parquet")))
    JvmCache.clearAll()
    val mark2 = graft.ColdBuilds.mark()
    val viaFallback = rows("embedding_prototypicality")
    assert(graft.ColdBuilds.since(mark2).contains("kmeans_trainer"),
      "a legacy store without centroids must fall back to the trainer")
    assert(viaFallback == viaTrainer)
  }

  test("pair-head store: warm serve is an O(output) scan, row-identical to inline enumeration (VERDICT r17 #4)") {
    val stored = rows("dedup_semantic") // publishes the store incl. the head
    val mark = graft.ColdBuilds.mark()
    val again = rows("dedup_semantic")
    val builds = graft.ColdBuilds.since(mark)
    assert(builds.contains("sem_pairs_load"),
      s"warm serve must read the persisted head, got: $builds")
    assert(!builds.contains("sem_pairs_build"),
      s"warm serve must NOT re-enumerate intra-cluster pairs, got: $builds")
    assert(again == stored)
    assert(stored.nonEmpty)
    assert(stored == composedHead(),
      "pair-head store and in-plan pair enumeration diverge")
  }

  test("a store published before the pair head existed self-upgrades once") {
    rows("dedup_semantic"): Unit // ensure a published store with a head
    val legacy = publishedOwnRoot(Similarity.topPairsFileName)
    assert(legacy.nonEmpty, "expected a published store with a pair head")
    legacy.foreach(r => rmTree(new java.io.File(r, Similarity.topPairsFileName)))
    val mark = graft.ColdBuilds.mark()
    val upgraded = rows("dedup_semantic")
    assert(graft.ColdBuilds.since(mark).contains("sem_pairs_build"),
      "a legacy store without the head must self-upgrade")
    val mark2 = graft.ColdBuilds.mark()
    assert(rows("dedup_semantic") == upgraded) // upgrade is paid at most once
    assert(!graft.ColdBuilds.since(mark2).contains("sem_pairs_build"))
    assert(upgraded == composedHead())
  }

  test("pair-head name encodes K + format version: a head under other params is a miss, never served (ADVICE r18)") {
    rows("dedup_semantic"): Unit // ensure a published store with a head
    val published = publishedOwnRoot(Similarity.topPairsFileName)
    assert(published.nonEmpty, "expected a published store with a pair head")
    // the name must carry the parameters the rows bake in — the whole
    // staleness defense is that changing either changes the cache key
    assert(Similarity.topPairsFileName
      .contains(s"k${Similarity.SemanticTopK}"), Similarity.topPairsFileName)
    assert(Similarity.topPairsFileName
      .contains(s"v${Similarity.PairHeadVersion}"), Similarity.topPairsFileName)
    // simulate a store published under a DIFFERENT K/version: rename the
    // real head to a mismatched name — a serve must self-upgrade (rebuild
    // under the correct name) and never read the mismatched file
    published.foreach { r =>
      val good = new java.io.File(r, Similarity.topPairsFileName)
      val stale = new java.io.File(r, "toppairs_k999_v0.parquet")
      assert(good.renameTo(stale), s"fixture rename failed: $good")
    }
    val mark = graft.ColdBuilds.mark()
    val upgraded = rows("dedup_semantic")
    assert(graft.ColdBuilds.since(mark).contains("sem_pairs_build"),
      "a parameter-mismatched head must be a miss that self-upgrades")
    assert(upgraded == composedHead())
    published.foreach(r => rmTree(new java.io.File(r, "toppairs_k999_v0.parquet")))
  }

  test("torn write rebuilds: a store without its _READY marker is never served") {
    rows("embedding_kmeans") // ensure the store exists
    val roots = publishedOwnRoot("assign.parquet")
    assert(roots.nonEmpty, "expected a published assignment store")
    // simulate a crash between the parquet write and the marker create
    roots.foreach(r => assert(new java.io.File(r, "_READY").delete()))
    val mark = graft.ColdBuilds.mark()
    val after = rows("embedding_kmeans")
    assert(graft.ColdBuilds.since(mark).contains("sem_assign_build"),
      "a torn store must trigger a rebuild, not a partial-state serve")
    assert(after == rows("embedding_kmeans")) // rebuilt store serves stably
  }
}
