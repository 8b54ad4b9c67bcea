package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, SigStore}

/** The persisted signature store serves dedup_incremental's exact rows
  * without re-reading the base corpus: build once (crash-safe publish),
  * serve many (store files untouched across serves), and the serving
  * plan's only parquet scan is the store itself.
  */
class SigStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def fileSet(root: String): Set[(String, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(root)).map(f => (f.getAbsolutePath, f.lastModified)).toSet
  }

  test("stored incremental == recomputed incremental; store reused, not rebuilt") {
    SigStore.deleteStore(spark, sf)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3))).toSet

    val stored = canon(SigStore.queries("dedup_incremental_stored")(spark, sf))
    val recomputed = canon(Dedup.queries("dedup_incremental")(spark, sf))
    assert(stored == recomputed && stored.nonEmpty)
    assert(stored.exists(!_._4), "the sf corpus has duplicate deltas")

    // second serve: same answer, store files byte-identical (no rebuild)
    val before = fileSet(SigStore.storeRoot(sf))
    assert(canon(SigStore.queries("dedup_incremental_stored")(spark, sf)) == stored)
    assert(fileSet(SigStore.storeRoot(sf)) == before,
      "a second serve must not touch the published store")
  }

  test("incremental components == one-shot components; base labels untouched by absorb") {
    SigStore.deleteStore(spark, sf)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet

    val inc = canon(SigStore.queries("dedup_components_incremental")(spark, sf))
    val oneShot = canon(Dedup.queries("dedup_components")(spark, sf))
    assert(inc == oneShot && inc.nonEmpty,
      "incremental clustering must equal the full-graph one-shot result")
    assert(inc.exists(t => t._3 > 1), "the sf corpus has non-trivial clusters")

    // absorbing the same delta again must not rewrite the persisted labels
    val labelsBefore = fileSet(SigStore.storeRoot(sf) + "/labels.parquet")
    assert(labelsBefore.nonEmpty)
    assert(canon(SigStore.queries("dedup_components_incremental")(spark, sf)) == inc)
    assert(fileSet(SigStore.storeRoot(sf) + "/labels.parquet") == labelsBefore,
      "a delta absorb must read stored labels, never rebuild them")
  }

  test("signature contraction: rep arm label-identical to all-docs arm, observably fewer edges (VERDICT r16 #1)") {
    import spark.implicits._
    // dup-heavy delta: six %10 docs share ONE text (identical simhash →
    // one rep + five star edges) against a base holding the same text —
    // the all-docs arm materializes the full C(6,2) clique plus six store
    // edges; the contracted arm one rep probe plus the stars.
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tZ = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec papa oscar"
    val dir = java.nio.file.Files.createTempDirectory("cc_sigdedup").toString
    val docs =
      Seq(1L, 2L, 3L).map(id => (id, tA)) ++ // base clique (labels to 1)
        Seq((5L, tZ)) ++                     // isolated base doc
        Seq(10L, 20L, 30L, 40L, 50L, 60L).map(id => (id, tA)) // dup delta
    docs.map { case (id, t) => (id, t, "en", "crawl", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SigStore.deleteStore(spark, dir)

    def run(legacy: Boolean): (Set[(Long, Long, Long, Boolean)], Long) = {
      // pin the arm explicitly (r18: unset now routes on the measured
      // collapse factor; this test is the pinned-arm A/B)
      sys.props("graft.cc.sigdedup") = if (legacy) "off" else "on"
      sys.props("graft.banded.probe") = "volume"
      graft.PlanVolume.reset()
      try {
        SigStore.deleteStore(spark, dir) // fresh store per arm: same work
        val out = SigStore.queries("dedup_components_incremental")(spark, dir)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
          .toSet
        val vol = graft.PlanVolume.records("cc.sigdedup")
        assert(vol.nonEmpty &&
          vol.forall(_._1 == (if (legacy) "all" else "rep")))
        (out, vol.map(_._2).sum)
      } finally {
        sys.props.remove("graft.cc.sigdedup")
        sys.props.remove("graft.banded.probe")
      }
    }
    val (repOut, repEdges) = run(legacy = false)
    val (allOut, allEdges) = run(legacy = true)
    assert(repOut == allOut && repOut.nonEmpty,
      "signature contraction must be label-identical to the all-docs arm")
    // every text-A doc (base + delta) lands in the min-label component
    assert(repOut.filter(_._2 == 1L).map(_._1) ==
      Set(1L, 2L, 3L, 10L, 20L, 30L, 40L, 50L, 60L), s"$repOut")
    assert(repEdges < allEdges,
      s"contracted arm must materialize strictly fewer edges ($repEdges vs $allEdges)")
  }

  test("maintain routing: delta collapse factor picks the contraction arm per absorb (r18, VERDICT r17 #1)") {
    // With graft.cc.sigdedup UNSET, contractDeltaSh measures the DELTA's
    // docs-per-distinct-simhash and contracts only when it pays: the
    // dup-heavy delta (6 docs, 1 sig) must route "rep", a
    // disjoint-vocabulary delta (every sig unique) must route "all" —
    // both observable on the PlanVolume route channel, both
    // label-identical to the pinned arms.
    import spark.implicits._
    def fixture(delta: Seq[(Long, String)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("cc_route_inc").toString
      val tB = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
      (Seq((1L, tB), (3L, tB), (7L, tB)) ++ delta)
        .map { case (id, t) => (id, t, "en", "crawl", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def run(dir: String, arm: Option[String]): (Set[(Long, Long)], Seq[(String, Long)]) = {
      arm.foreach(sys.props("graft.cc.sigdedup") = _)
      sys.props("graft.banded.probe") = "volume"
      graft.PlanVolume.reset()
      try {
        SigStore.deleteStore(spark, dir)
        val out = SigStore.queries("dedup_components_incremental")(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (out, graft.PlanVolume.records("cc.sigdedup.route"))
      } finally {
        sys.props.remove("graft.cc.sigdedup")
        sys.props.remove("graft.banded.probe")
      }
    }
    val tA = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec papa oscar"
    val dupDir = fixture((1L to 6L).map(i => (i * 10L, tA)))
    val (dupOut, dupRoute) = run(dupDir, None)
    assert(dupRoute.map(_._1) == Seq("rep"), s"dup-heavy delta must route rep: $dupRoute")
    assert(dupOut == run(dupDir, Some("on"))._1 && dupOut == run(dupDir, Some("off"))._1)
    val distinctDir = fixture((1L to 6L).map(i =>
      (i * 10L, (0 until 12).map(j => s"w${i}x$j").mkString(" "))))
    val (dOut, dRoute) = run(distinctDir, None)
    assert(dRoute.map(_._1) == Seq("all"), s"distinct delta must route all: $dRoute")
    assert(dOut == run(distinctDir, Some("on"))._1 && dOut == run(distinctDir, Some("off"))._1)
  }

  test("a delta doc MERGES two stored base components into one min label") {
    import spark.implicits._
    // Crafted topology (token simhash distances verified offline):
    //   E↔B = 3, E↔C = 5 (both ≤ 6)  but  B↔C = 8 (> 6)
    // so base docs 1=B and 3=C are SEPARATE stored components, and delta
    // doc 10=E bridges them — the merge case a seeded fixpoint must get
    // right. Isolated base 5 / delta 20 are > 6 from everything.
    val tB = "hotel charlie kilo alpha sierra romeo zulu victor tango whiskey hotel lima"
    val tC = "charlie charlie kilo alpha sierra romeo zulu victor tango whiskey yankee lima"
    val tE = "hotel charlie kilo alpha sierra romeo zulu victor tango whiskey yankee lima"
    val tI1 = "november oscar papa quebec golf india mike foxtrot uniform bravo delta echo"
    val tI2 = "echo delta bravo uniform foxtrot mike india golf quebec papa oscar november xray"
    val dir = java.nio.file.Files.createTempDirectory("cc_merge").toString
    Seq((1L, tB, "en", "crawl", tB.length.toLong),
      (3L, tC, "en", "crawl", tC.length.toLong),
      (5L, tI1, "en", "crawl", tI1.length.toLong),
      (10L, tE, "en", "crawl", tE.length.toLong),
      (20L, tI2, "en", "crawl", tI2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SigStore.deleteStore(spark, dir)

    val got = SigStore.queries("dedup_components_incremental")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got == Set(
      (1L, 1L, 3L, true), (3L, 1L, 3L, false), (10L, 1L, 3L, false),
      (5L, 5L, 1L, true), (20L, 20L, 1L, true)),
      s"merged cluster must carry the global min label: $got")
  }

  test("absorbComponents persists merged labels; stored serve == one-shot; replay idempotent") {
    import spark.implicits._
    // same crafted topology as the merge test: base {1=B},{3=C},{5=iso1};
    // delta batch {10=E bridges B and C, 20=iso2}
    val tB = "hotel charlie kilo alpha sierra romeo zulu victor tango whiskey hotel lima"
    val tC = "charlie charlie kilo alpha sierra romeo zulu victor tango whiskey yankee lima"
    val tE = "hotel charlie kilo alpha sierra romeo zulu victor tango whiskey yankee lima"
    val tI1 = "november oscar papa quebec golf india mike foxtrot uniform bravo delta echo"
    val tI2 = "echo delta bravo uniform foxtrot mike india golf quebec papa oscar november xray"
    def docsOf(rows: (Long, String)*) = rows
      .map { case (id, t) => (id, t, "en", "crawl", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("cc_absorb").toString + "/store"
    SigStore.buildFrom(spark, root, docsOf(1L -> tB, 3L -> tC, 5L -> tI1))
    SigStore.buildLabels(spark, root)

    val delta = docsOf(10L -> tE, 20L -> tI2)
    val baseGenBefore = fileSet(s"$root/labels.parquet")
    SigStore.absorbComponents(spark, root, delta, batchId = 0L)

    def stored = SigStore.serveComponentsStored(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    val expected = Set(
      (1L, 1L, 3L, true), (3L, 1L, 3L, false), (10L, 1L, 3L, false),
      (5L, 5L, 1L, true), (20L, 20L, 1L, true))
    assert(stored == expected, s"post-absorb stored clustering wrong: $stored")
    // O(|delta|) write contract: the base label generation is untouched —
    // the batch's labels live in its own patch dir, merges in the remap
    assert(fileSet(s"$root/labels.parquet") == baseGenBefore,
      "an absorb must never rewrite the base label generation")
    assert(new java.io.File(s"$root/label_nodes.parquet/batch_id=0").isDirectory)
    // the remap carries exactly the merged component: 3 → 1
    assert(spark.read.parquet(s"$root/label_remap.parquet")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 1L)))
    // the absorbed batch's sigs are in the bank under its own batch dir
    assert(spark.read.parquet(s"$root/sigs.parquet")
      .filter(org.apache.spark.sql.functions.col("batch_id") === 0L)
      .select("doc_id").distinct().count() == 2)

    // replayed absorb (same batch id, same rows) must change nothing
    SigStore.absorbComponents(spark, root, delta, batchId = 0L)
    assert(stored == expected, "absorb replay must be idempotent")

    // a second batch glues nothing new but must extend the clustering
    // (text verified offline at simhash distance ≥ 25 from every fixture doc)
    val t30 = "five two six ten zero one eight nine thirteen four eleven seven"
    SigStore.absorbComponents(spark, root, docsOf(30L -> t30), batchId = 1L)
    val expected2 = expected + ((30L, 30L, 1L, true))
    assert(stored == expected2,
      s"second absorb must keep prior clusters and add the new singleton: $stored")

    // torn-absorb recovery: kill the marker, rebuild from the store alone
    val f = new java.io.File(s"$root/_LABELS_READY")
    assert(f.delete())
    SigStore.buildLabels(spark, root)
    assert(stored == expected2,
      "full refixpoint from the sig bank must reproduce the absorbed labels")
  }

  test("heal-then-replay after a mid-absorb crash yields no duplicate rows") {
    import spark.implicits._
    // crash window: marker dropped, batch sigs (partially) appended,
    // label patch NOT yet written. The restart replays the batch; the
    // self-heal folds the crashed batch's sigs into a NEW base
    // generation, and the replayed patch must WIN over those base rows
    // (effectiveLabels anti-join) — without it every batch doc serves
    // twice with inflated cluster sizes.
    val t1 = "hotel charlie kilo alpha sierra romeo zulu victor tango whiskey hotel lima"
    val t2 = "november oscar papa quebec golf india mike foxtrot uniform bravo delta echo"
    def docsOf(rows: (Long, String)*) = rows
      .map { case (id, t) => (id, t, "en", "crawl", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val root = java.nio.file.Files.createTempDirectory("cc_crash").toString + "/store"
    SigStore.buildFrom(spark, root, docsOf(1L -> t1, 5L -> t2))
    SigStore.buildLabels(spark, root)
    // simulate the torn absorb of batch 0 = {10 -> t1 (dup of 1)}: sigs
    // appended, marker down, NO patch/remap written
    StoreFixtures.appendSigBatch(spark, root, docsOf(10L -> t1), 0L)
    assert(new java.io.File(s"$root/_LABELS_READY").delete())
    // the streaming replay
    SigStore.absorbComponents(spark, root, docsOf(10L -> t1), batchId = 0L)

    val rows = SigStore.serveComponentsStored(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.length == 3, s"every doc exactly once: ${rows.toSeq}")
    assert(rows.toSet == Set(
      (1L, 1L, 2L, true), (10L, 1L, 2L, false), (5L, 5L, 1L, true)),
      s"healed clustering wrong: ${rows.toSeq}")
  }

  test("dedup_components_stored warm serve reads persisted labels only") {
    SigStore.deleteStore(spark, sf)
    // first call builds base + absorbs the delta split; the second call's
    // plan must be a pure label-state read — no document scan, no sigs
    assert(SigStore.queries("dedup_components_stored")(spark, sf).count() > 0)
    val plan = SigStore.queries("dedup_components_stored")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("labels.parquet"), s"expected a label scan:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"warm serve must not rescan documents:\n$plan")
    assert(!plan.contains("sigs.parquet"),
      s"warm serve must not rescan signatures:\n$plan")
  }

  test("serving plan scans the store, not the base documents") {
    val df = SigStore.queries("dedup_incremental_stored")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_sigstore"), s"expected a store scan:\n$plan")
    // the delta side is localCheckpointed during construction — the
    // SERVING plan itself reads no document payloads at all
    assert(!plan.contains("documents.parquet"),
      s"base documents must not be rescanned at serve time:\n$plan")
  }
}
