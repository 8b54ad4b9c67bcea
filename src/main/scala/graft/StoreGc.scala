package graft

import org.apache.spark.sql.SparkSession

/** Garbage collector for the persisted store families under the system
  * temp dir (r20, VERDICT r19 #5). Stores have publish policies but had
  * no reaper: superseded format generations (the aggstate v1 → v2
  * bump), pre-canonicalization orphans (the r19 relative-path-keyed
  * semassign stores), and spec-fixture stores keyed by long-deleted
  * temp datasets accrete forever.
  *
  * Liveness is derived the same way the stores are KEYED: for each
  * DECLARED live dataset dir, recompute every family's current store
  * dir name (canonical path + table fingerprint + format version —
  * exactly the derivation the serving code uses) and keep exactly
  * those. Everything else in a family root is an orphan, reaped once it
  * is older than the safety window (default 24 h — a store a concurrent
  * run just built is never swept out from under it).
  *
  * Reaping a live store by mistake is CORRECTNESS-safe (stores are
  * caches of the dataset; the next serve cold-builds), which is why a
  * liveness-from-declared-roots policy is acceptable — but the declared
  * list should still name every dataset in active use, or warm-restart
  * cost regresses.
  *
  * `sbt "runMain graft.StoreGc <dir1,dir2,...> [minAgeHours] [--dry-run]"`
  * — also wired as `WarmServe gc`. Prints one JSON line per family with
  * kept/reaped counts and reclaimed bytes.
  */
object StoreGc {

  final case class FamilySweep(family: String, kept: Int,
      reaped: Seq[String], bytes: Long, missing: Boolean)

  /** The store families this GC owns. Bench scratch (graft_bench*,
    * graft_merge, layout fixtures) is per-run temp, not a store — out of
    * scope.
    */
  private[graft] val Families = Seq(
    "graft_sigstore", "graft_aggstate", "graft_bmstore",
    "graft_ann_index", "graft_semassign")

  private def tmpDir = sys.props.getOrElse("java.io.tmpdir", "/tmp")

  private def base(p: String) = new java.io.File(p).getName

  /** The live store-dir names per family for ONE dataset dir — the same
    * derivations the serving code resolves through, so a format-version
    * bump automatically orphans the old generation.
    */
  private[graft] def liveNames(s: SparkSession, d: String): Map[String, Set[String]] = Map(
    "graft_sigstore" -> {
      val k = base(graft.operators.SigStore.storeRoot(s, d))
      Set(k, k + "_absorbed")
    },
    "graft_aggstate" ->
      Set(base(graft.operators.IncrementalStats.stateRoot(s, d))),
    "graft_bmstore" -> Set("full", "incr")
      .map(v => base(graft.operators.BmStore.storeRoot(s, d, v))),
    "graft_ann_index" -> Set("full", "incr", "stream")
      .map(v => base(graft.operators.AnnIndexIO.indexRoot(s, d, v))),
    "graft_semassign" ->
      Set(graft.operators.Similarity.semStoreKey(s, d)))

  private def newestMtime(f: java.io.File): Long = {
    val own = f.lastModified()
    val kids = Option(f.listFiles()).getOrElse(Array.empty)
    (own +: kids.map(newestMtime)).max
  }

  private def sizeOf(f: java.io.File): Long = {
    val kids = Option(f.listFiles()).getOrElse(Array.empty)
    (if (f.isFile) f.length() else 0L) + kids.map(sizeOf).sum
  }

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }

  /** One GC pass. `liveDirs` that don't exist are skipped (their keys
    * can't be derived without the table fingerprints) — a WARNING, not
    * silent, since a typo'd path would otherwise orphan a live store.
    */
  def sweep(s: SparkSession, liveDirs: Seq[String], minAgeMs: Long,
      dryRun: Boolean = false, tmpRoot: String = tmpDir,
      families: Seq[String] = Families): Seq[FamilySweep] = {
    // Provenance-derived liveness (r20, the SCALE_r20 cold-capture
    // lesson): the declared list is the caller's memory, and forgetting
    // one root — target/sf1, that round — silently reaps a serving
    // dataset's stores. Every store-root resolver records its dataset
    // dir in StoreRegistry, so any registered dir STILL ON DISK is live
    // without being declared; deleted datasets (spec fixtures, calib
    // copies) drop out of liveness the moment the dir is gone. Non-dry
    // sweeps compact dead registry lines away.
    val registered = graft.operators.StoreRegistry.liveDirs(tmpRoot)
      .filterNot(liveDirs.contains)
    if (registered.nonEmpty)
      System.err.println(s"[storegc] registry adds ${registered.size} " +
        s"undeclared live dataset dir(s): ${registered.mkString(", ")}")
    if (!dryRun) graft.operators.StoreRegistry.compact(tmpRoot)
    val (present, absent) = (liveDirs ++ registered).partition(d =>
      new java.io.File(d, "documents.parquet").isDirectory ||
        new java.io.File(d).isDirectory)
    absent.foreach(d =>
      System.err.println(s"[storegc] WARNING: declared live dir missing, " +
        s"its stores will look orphaned: $d"))
    val live: Map[String, Set[String]] = families.map { fam =>
      fam -> present.flatMap(d => liveNames(s, d).getOrElse(fam, Set.empty)).toSet
    }.toMap
    val now = System.currentTimeMillis()
    families.map { fam =>
      val root = new java.io.File(tmpRoot, fam)
      if (!root.isDirectory) FamilySweep(fam, 0, Seq.empty, 0L, missing = true)
      else {
        val kids = Option(root.listFiles()).getOrElse(Array.empty)
          .filter(_.isDirectory)
        val (keep, candidates) = kids.partition(k => live(fam).contains(k.getName))
        val (young, reapable) = candidates.partition(
          k => now - newestMtime(k) < minAgeMs)
        val bytes = reapable.map(sizeOf).sum
        if (!dryRun) reapable.foreach(deleteRec)
        FamilySweep(fam, keep.length + young.length,
          reapable.map(_.getName).toSeq.sorted, bytes, missing = false)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--"))
    val pos = args.filterNot(_.startsWith("--"))
    require(pos.nonEmpty,
      "usage: StoreGc <liveDir1,liveDir2,...> [minAgeHours] [--dry-run]")
    val liveDirs = pos(0).split(",").toSeq.filter(_.nonEmpty)
    val minAgeH = if (pos.length > 1) pos(1).toDouble else 24.0
    val dry = flags.contains("--dry-run")
    // the store keys fingerprint each dataset through the session's
    // Hadoop configuration, the same derivation the serving code uses
    val spark = Session.local()
    val sweeps =
      try sweep(spark, liveDirs, (minAgeH * 3600 * 1000).toLong, dryRun = dry)
      finally spark.stop()
    sweeps.foreach { s =>
      println(s"""{"metric":"store_gc","family":"${s.family}","kept":${s.kept},"reaped":${s.reaped.size},"bytes":${s.bytes},"dry_run":$dry,"missing_root":${s.missing}}""")
    }
    val total = sweeps.map(_.bytes).sum
    val regDirs = graft.operators.StoreRegistry.liveDirs()
    println(s"""{"metric":"store_gc_total","families":${sweeps.size},"reaped_dirs":${sweeps.map(_.reaped.size).sum},"bytes":$total,"dry_run":$dry,"live_dirs":${liveDirs.map("\"" + _ + "\"").mkString("[", ",", "]")},"registry_live_dirs":${regDirs.map("\"" + _ + "\"").mkString("[", ",", "]")},"min_age_hours":$minAgeH}""")
  }
}
