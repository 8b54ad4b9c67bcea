package graft

import org.scalatest.funsuite.AnyFunSuite

/** The store reaper (r20, VERDICT r19 #5): liveness derives from the
  * SAME key derivations the serving code resolves through, orphans
  * outside the safety window are deleted with byte accounting, and a
  * LIVE store is never touched.
  */
class StoreGcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def mkStore(root: java.io.File, name: String,
      ageMs: Long = 0L): java.io.File = {
    val d = new java.io.File(root, name)
    assert(d.mkdirs())
    val f = new java.io.File(d, "part-00000.parquet")
    val w = new java.io.FileWriter(f); w.write("x" * 1024); w.close()
    if (ageMs > 0) {
      val t = System.currentTimeMillis() - ageMs
      assert(f.setLastModified(t) && d.setLastModified(t))
    }
    d
  }

  test("sweep reaps old orphans, keeps live and young dirs, reports bytes") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val tmpRoot = java.nio.file.Files.createTempDirectory("gc_tmp").toFile
    val famRoot = new java.io.File(tmpRoot, "graft_sigstore")
    val liveName = new java.io.File(
      graft.operators.SigStore.storeRoot(spark, sf)).getName
    val live = mkStore(famRoot, liveName, ageMs = 10L * 24 * 3600 * 1000)
    val orphanOld = mkStore(famRoot, "deadbeef0000", ageMs = 10L * 24 * 3600 * 1000)
    val orphanYoung = mkStore(famRoot, "deadbeef1111")
    val sweeps = StoreGc.sweep(spark, Seq(sf), minAgeMs = 24L * 3600 * 1000,
      tmpRoot = tmpRoot.toString, families = Seq("graft_sigstore"))
    val s = sweeps.head
    assert(s.reaped == Seq("deadbeef0000"))
    assert(s.bytes >= 1024)
    assert(live.isDirectory, "live store must survive even when old")
    assert(orphanYoung.isDirectory, "young orphan stays inside the safety window")
    assert(!orphanOld.exists(), "old orphan must be deleted")
    assert(s.kept == 2)
  }

  test("dry run deletes nothing but reports what it would reap") {
    val tmpRoot = java.nio.file.Files.createTempDirectory("gc_tmp").toFile
    val famRoot = new java.io.File(tmpRoot, "graft_semassign")
    val orphan = mkStore(famRoot, "feedface2222", ageMs = 10L * 24 * 3600 * 1000)
    val s = StoreGc.sweep(spark, Seq.empty, minAgeMs = 1000L, dryRun = true,
      tmpRoot = tmpRoot.toString, families = Seq("graft_semassign")).head
    assert(s.reaped == Seq("feedface2222") && orphan.isDirectory)
  }

  test("liveness derivation matches every family's real key scheme") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val names = StoreGc.liveNames(spark, sf)
    assert(names.keySet == StoreGc.Families.toSet)
    // spot-pin two derivations against the owning modules
    assert(names("graft_aggstate").head ==
      new java.io.File(graft.operators.IncrementalStats.stateRoot(spark, sf)).getName)
    assert(names("graft_semassign").head ==
      graft.operators.Similarity.semStoreKey(spark, sf))
    assert(names("graft_bmstore").exists(_.startsWith("full_")))
    assert(names("graft_ann_index").exists(_.startsWith("stream_")))
    assert(names("graft_sigstore").exists(_.endsWith("_absorbed")))
  }

  test("registry-known dataset dirs are live undeclared; deleted datasets are not") {
    // (r20, the SCALE_r20 cold-capture lesson) the resolvers record every
    // dataset dir they key a store for; a sweep whose DECLARED list
    // forgets one must still keep its stores as long as the dataset is on
    // disk — and must reap them, and compact the registry line, once the
    // dataset itself is gone.
    val tmpRoot = java.nio.file.Files.createTempDirectory("gc_tmp").toFile
    val famRoot = new java.io.File(tmpRoot, "graft_sigstore")
    val ds = java.nio.file.Files.createTempDirectory("gc_ds").toFile
    val deadDs = java.nio.file.Files.createTempDirectory("gc_dead").toFile
    val liveName = new java.io.File(graft.operators.SigStore.storeRoot(spark, ds.toString)).getName
    val deadName = new java.io.File(graft.operators.SigStore.storeRoot(spark, deadDs.toString)).getName
    val live = mkStore(famRoot, liveName, ageMs = 10L * 24 * 3600 * 1000)
    val dead = mkStore(famRoot, deadName, ageMs = 10L * 24 * 3600 * 1000)
    val reg = graft.operators.StoreRegistry.registryFile(tmpRoot.toString)
    val w = new java.io.FileWriter(reg)
    w.write(ds.getCanonicalPath + "\n" + deadDs.getCanonicalPath + "\n")
    w.close()
    assert(deadDs.delete(), "dead dataset dir teardown failed")
    val s = StoreGc.sweep(spark, Seq.empty, minAgeMs = 24L * 3600 * 1000,
      tmpRoot = tmpRoot.toString, families = Seq("graft_sigstore")).head
    assert(live.isDirectory,
      "registry-known store reaped despite its dataset existing")
    assert(!dead.exists() && s.reaped == Seq(deadName),
      s"dead dataset's store must be reaped, got ${s.reaped}")
    // the non-dry sweep compacted the dead registry line away
    assert(graft.operators.StoreRegistry.liveDirs(tmpRoot.toString)
      == Seq(ds.getCanonicalPath))
    // teardown: the resolver calls above registered these temp dirs in
    // the REAL registry too — delete them so the next real sweep
    // compacts the lines instead of tracking phantom datasets
    assert(ds.delete()): Unit
  }

  test("a freshly published live store is never a reap candidate on the real tmp") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    // integration (DRY run — other datasets' stores under the real tmp
    // are someone else's live state): ensure the fixture's sig store
    // exists, then verify a zero-age sweep classifies it LIVE
    val root = graft.operators.SigStore.ensureBuilt(spark, sf)
    assert(new java.io.File(root, "_STORE_READY").exists())
    val sweeps = StoreGc.sweep(spark, Seq(sf), minAgeMs = 0L, dryRun = true,
      families = Seq("graft_sigstore"))
    assert(new java.io.File(root, "_STORE_READY").exists())
    assert(!sweeps.head.reaped.contains(new java.io.File(root).getName),
      "live store classified as orphan by its own GC")
  }
}
