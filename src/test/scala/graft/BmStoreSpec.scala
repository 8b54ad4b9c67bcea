package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BmStore, Retrieval}
import graft.operators.Retrieval.FrozenIndexStats
import org.apache.spark.sql.expressions.Window

/** The persisted BM25 postings store must serve bit-identical rankings to
  * the in-memory scorer, from a plan that never touches the documents
  * table, with the postings scan statically pruned to the query
  * vocabulary's buckets; growth must be exactly-once per batch and leave
  * base files untouched; and the frozen statistics drawn from the store
  * must equal the full-recompute freeze.
  */
class BmStoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  /** The exhaustive plan's scored pairs through the ranking every serve
    * plan shares — the reference a routed serve must equal.
    */
  private def exhaustiveRanked(root: String, frozen: FrozenIndexStats, k: Int) =
    BmStore.rankTopK(BmStore.servedScored(spark, root, frozen), k)
      .collect().map(_.toSeq).sortBy(_.toString)

  test("served top-k == the in-memory text_bm25_topk, exactly") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val want = Retrieval.queries("text_bm25_topk")(spark, sf)
      .collect().map(_.toSeq).sortBy(_.toString)
    val got = BmStore.queries("text_bm25_served_topk")(spark, sf)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(want.nonEmpty && got.toSeq === want.toSeq)
  }

  test("the serving plan contains NO documents scan") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val root = BmStore.ensureFullBuilt(spark, sf)
    val frozen = BmStore.frozenStats(spark, root, sf)
    val served = BmStore.servedRanked(spark, root, frozen, Retrieval.BmTopK)
    val scans = TestSpark.executedScans(served)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.nonEmpty)
    assert(scans.forall(!_.contains("documents.parquet")),
      s"documents scanned in serving plan: $scans")
    // either persisted index satisfies "no corpus re-read": the flat
    // fixture's whole-doc standing set routes to the forward index
    assert(scans.exists(p =>
      p.contains("postings.parquet") || p.contains("docvec.parquet")))
  }

  test("postings scan statically prunes to the query vocabulary's buckets") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val root = BmStore.ensureFullBuilt(spark, sf)
    // a 2-term standing vocabulary: the scan must touch at most 2 of the
    // NumBuckets partition dirs (the full 20-doc union vocab covers all
    // buckets, which would make this assertion vacuous)
    val full = BmStore.frozenStats(spark, root, sf)
    val terms = full.unionTerms.take(2).toArray
    val tiny = Retrieval.assembleFrozen(
      terms.map(t => (0L, t, full.queries.head.terms.find(_.term == t)
        .map(_.df).getOrElse(1L))),
      full.nDocs, full.sumDl)
    val served = BmStore.servedScored(spark, root, tiny)
    val scan = TestSpark.executedScans(served)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("postings.parquet")))
      .get
    val parts = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters)
    assert(parts.length <= 2 && parts.length < BmStore.NumBuckets,
      s"expected <=2 pruned bucket partitions, got ${parts.length}")
  }

  test("store-frozen statistics == the full-recompute freeze") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val root = BmStore.ensureFullBuilt(spark, sf)
    val fromStore = BmStore.frozenStats(spark, root, sf)
    val recompute = Retrieval.frozenStats(spark, sf)
    assert(fromStore.nDocs === recompute.nDocs)
    assert(fromStore.sumDl === recompute.sumDl)
    assert(fromStore.unionTerms === recompute.unionTerms)
    // per-query term lists with df, element-wise (sorted construction)
    assert(fromStore.queries.map(_.query_id) === recompute.queries.map(_.query_id))
    fromStore.queries.zip(recompute.queries).foreach { case (a, b) =>
      assert(a.terms === b.terms, s"query ${a.query_id}")
    }
  }

  test("append is exactly-once and leaves base postings untouched") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    // private store on a temp root so mutation can't disturb the shared
    // dataset-keyed stores other tests serve from
    val root = java.nio.file.Files.createTempDirectory("bm_grow").toString + "/store"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    BmStore.buildFrom(spark, root, docs.filter(col("doc_id") % 10 =!= 0))
    def listing(): Seq[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        if (f.isDirectory) kids.flatMap(walk) else Seq(f)
      }
      walk(new java.io.File(root, "postings.parquet"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getAbsolutePath, f.length, f.lastModified))
        .sortBy(_._1)
    }
    val base = listing()
    assert(base.nonEmpty && base.forall(_._1.contains("batch_id=-1")))
    val delta = docs.filter(col("doc_id") % 10 === 0)
    BmStore.appendBatch(spark, root, delta, 7L)
    val grown = listing()
    // base generation byte-identical; new files all under batch_id=7
    assert(grown.filter(_._1.contains("batch_id=-1")) === base)
    assert(grown.exists(_._1.contains("batch_id=7")))
    // replaying the same batch rewrites exactly its own dirs -> the same
    // (directory, size) SET (part files re-land under fresh UUID names)
    BmStore.appendBatch(spark, root, delta, 7L)
    val replayed = listing()
    def dirSizes(l: Seq[(String, Long, Long)]) =
      l.map(t => (t._1.substring(0, t._1.lastIndexOf('/')), t._2)).sorted
    assert(dirSizes(replayed) === dirSizes(grown))
    assert(replayed.filter(_._1.contains("batch_id=-1")) === base)
  }

  test("served fusion reads only persisted indexes: no corpus scan, no BNLJ") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val df = BmStore.queries("ann_hybrid_served_rrf")(spark, sf)
    val nodes = TestSpark.executedNodes(df)
    // the brute-force fusion's cosine leg is a BroadcastNestedLoopJoin
    // over the whole embeddings table — the served fusion must have
    // neither that join shape nor any corpus-table scan
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "BroadcastNestedLoopJoin in the served fusion plan")
    val scans = nodes.collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.mkString(",") }
    assert(scans.nonEmpty)
    assert(scans.forall(p =>
      !p.contains("documents.parquet") && !p.contains("embeddings.parquet")),
      s"corpus table scanned in served fusion plan: $scans")
    assert(scans.exists(p =>
      p.contains("postings.parquet") || p.contains("docvec.parquet")) &&
      scans.exists(_.contains("codes.parquet")))
  }

  test("doc-vector serving == exhaustive serving, full frame, and auto-select picks it here") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val root = BmStore.ensureFullBuilt(spark, sf)
    val frozen = BmStore.frozenStats(spark, root, sf)
    // the fixture's whole-document queries are wide (gate #1 passes) over
    // a FLAT synthetic vocabulary (gate #2 fails) — auto-select must route
    // them to the doc-vector plan, which this test pins value-identical
    assert(frozen.queries.map(_.terms.size).max > BmStore.WideQueryMinTerms)
    val exhaustive = BmStore.servedScored(spark, root, frozen)
      .collect().map(_.toSeq).sortBy(_.toString)
    val docvec = BmStore.servedDocVec(spark, root, frozen)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(docvec.nonEmpty && docvec.toSeq === exhaustive.toSeq)
    // ranked plan: no documents scan, and the percolation expression is in it
    val ranked = BmStore.servedRanked(spark, root, frozen, Retrieval.BmTopK)
    val scans = TestSpark.executedScans(ranked)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.nonEmpty && scans.forall(!_.contains("documents.parquet")))
    assert(TestSpark.executedNodes(ranked).exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.PercolateHitsDl]))),
      "auto-select did not route the flat-vocabulary wide queries to the doc-vector plan")
  }

  test("WAND serving: lossless on a skewed corpus, actually prunes, auto-selected there") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    import spark.implicits._
    // Zipf-ish synthetic corpus: 10 stopwords in every doc, rare terms
    // with df=8 — the regime MaxScore exists for (the sf fixture's flat
    // 31-word vocabulary cannot prune: every doc matches every query
    // with near-equal idf, and that shape routes to docvec instead)
    val common = (0 until 10).map(i => s"common$i")
    val docs = (0L until 400L).map { i =>
      val rare = Seq(s"rare_${i % 50}", s"rare_${(i + 13) % 50}_b", s"tail_$i")
      (i, (common ++ rare ++ Seq(s"common${i % 10}", s"common${(i * 3) % 10}"))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("bm_wand").toString + "/store"
    BmStore.buildFrom(spark, root, docs)
    // wide standing queries (gate #1) mixing all stopwords + rare terms
    val standing = (0 until 6).map { q =>
      (5000L + q, common ++ (0 until 8).map(j => s"rare_${(q * 7 + j) % 50}") ++
        (0 until 4).map(j => s"rare_${(q * 5 + j) % 50}_b"))
    }
    val frozen = StoreFixtures.frozenStatsForQueries(spark, root, standing)
    assert(frozen.queries.map(_.terms.size).max > BmStore.WideQueryMinTerms)
    val k = Retrieval.BmTopK
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sum_q").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .collect().map(_.toSeq).sortBy(_.toString)
    val exhaustive = topk(BmStore.servedScored(spark, root, frozen))
    val wand = topk(BmStore.wandScored(spark, root, frozen, k))
    assert(wand.nonEmpty && wand.toSeq === exhaustive.toSeq)
    // non-vacuity: most docs match ONLY stopwords for a given query and
    // must be pruned before the final aggregation
    val full = BmStore.servedScored(spark, root, frozen).count()
    val kept = BmStore.wandScored(spark, root, frozen, k).count()
    assert(kept < full / 2, s"WAND barely pruned: kept $kept of $full pairs")
    // auto-select: skewed wide queries take the WAND plan — its final
    // DAG reads the postings twice (candidate build + candidates-first
    // scoring join), where exhaustive/docvec read them once
    val scans = TestSpark.executedScans(BmStore.servedRanked(spark, root, frozen, k))
      .map(_.relation.location.rootPaths.mkString(","))
      .count(_.contains("postings.parquet"))
    assert(scans >= 2, s"skewed wide queries did not take the WAND plan ($scans postings scans)")
  }

  test("verdict-boundary counter-tripwire: the routed arm's volume differs observably from the alternative") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    import spark.implicits._
    // The PlanVolume idiom (VERDICT r14 #9) demonstrated on the BM25
    // wand/docvec verdict boundary: the r14 jaccard gate shipped
    // inverted for four rounds because its arms were only checked for
    // output equality (which an inverted gate preserves). Here the
    // ROUTER's executed arm reports its scored-row volume; on the
    // skewed corpus the auto route must be wand AND must process
    // strictly fewer rows than the docvec arm computes over the same
    // standing set — an inverted verdict fails BOTH assertions.
    val common = (0 until 10).map(i => s"common$i")
    val docs = (0L until 400L).map { i =>
      val rare = Seq(s"rare_${i % 50}", s"rare_${(i + 13) % 50}_b", s"tail_$i")
      (i, (common ++ rare ++ Seq(s"common${i % 10}", s"common${(i * 3) % 10}"))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("bm_tripwire").toString + "/store"
    BmStore.buildFrom(spark, root, docs)
    val standing = (0 until 6).map { q =>
      (7000L + q, common ++ (0 until 8).map(j => s"rare_${(q * 7 + j) % 50}") ++
        (0 until 4).map(j => s"rare_${(q * 5 + j) % 50}_b"))
    }
    val frozen = StoreFixtures.frozenStatsForQueries(spark, root, standing)
    val k = Retrieval.BmTopK
    graft.PlanVolume.reset()
    sys.props("graft.bm.probe") = "volume"
    try BmStore.servedRanked(spark, root, frozen, k).count() // auto route
    finally sys.props.remove("graft.bm.probe")
    val recs = graft.PlanVolume.records("bm.serve")
    assert(recs.size === 1, s"expected 1 probe record, got $recs")
    val (autoArm, autoRows) = recs(0)
    val dvRows = BmStore.servedDocVec(spark, root, frozen).count()
    assert(autoArm === "wand", s"skewed wide set must route to wand ($recs)")
    assert(autoRows < dvRows / 2,
      s"routed wand arm must prune observably: $autoRows vs docvec $dvRows")
  }

  test("docvec serve scans the persisted forward index: zero shuffles, no per-serve re-aggregation") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val root = BmStore.ensureFullBuilt(spark, sf)
    val frozen = BmStore.frozenStats(spark, root, sf)
    val dv = BmStore.servedDocVec(spark, root, frozen)
    val nodes = TestSpark.executedNodes(dv)
    // r14: the doc vectors are BUILT ONCE into docvec.parquet — the
    // steady-state serve is scan → percolation expression → explode,
    // with no groupBy(doc_id) exchange rebuilt per serve call
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
      "docvec serve still shuffles — the forward index is being re-aggregated")
    val scans = TestSpark.executedScans(dv)
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.exists(_.contains("docvec.parquet")))
    assert(scans.forall(p =>
      !p.contains("postings.parquet") && !p.contains("documents.parquet")))
  }

  test("mixed short+wide batch routes per width class in ONE serve call; verdict caches per standing-set fingerprint") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    import spark.implicits._
    // the Zipf-ish skewed corpus again: wide queries genuinely prune
    // there, so the wide class must take WAND while the short class
    // takes exhaustive — in the same servedRanked call (VERDICT r13 #4)
    val common = (0 until 10).map(i => s"common$i")
    val docs = (0L until 400L).map { i =>
      val rare = Seq(s"rare_${i % 50}", s"rare_${(i + 13) % 50}_b", s"tail_$i")
      (i, (common ++ rare ++ Seq(s"common${i % 10}", s"common${(i * 3) % 10}"))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("bm_mixed").toString + "/store"
    BmStore.buildFrom(spark, root, docs)
    val wide = (0 until 4).map { q =>
      (5000L + q, common ++ (0 until 8).map(j => s"rare_${(q * 7 + j) % 50}") ++
        (0 until 4).map(j => s"rare_${(q * 5 + j) % 50}_b"))
    }
    val short = (0 until 3).map { q =>
      (6000L + q, Seq(s"rare_${q * 3}", s"rare_${(q * 3 + 1) % 50}", s"common$q"))
    }
    val frozen = StoreFixtures.frozenStatsForQueries(spark, root, short ++ wide)
    val k = Retrieval.BmTopK
    val p0 = BmStore.wandProbeCount.get()
    val ranked = BmStore.servedRanked(spark, root, frozen, k)
    val got = ranked.collect().map(_.toSeq).sortBy(_.toString)
    // exactly ONE θ probe: the wide class's; the short class never probes
    assert(BmStore.wandProbeCount.get() === p0 + 1)
    // exactness: identical to the exhaustive plan over the whole batch
    val want = exhaustiveRanked(root, frozen, k)
    assert(got.nonEmpty && got.toSeq === want.toSeq)
    // both sub-plans ran: the wide class's WAND DAG reads postings twice,
    // the short class's exhaustive read adds a third
    val scans = TestSpark.executedScans(BmStore.servedRanked(spark, root, frozen, k))
      .map(_.relation.location.rootPaths.mkString(","))
      .count(_.contains("postings.parquet"))
    assert(scans >= 3, s"mixed batch did not run both class sub-plans ($scans postings scans)")
    // steady state: a REPEAT serve of the same standing set re-probes nothing
    val p1 = BmStore.wandProbeCount.get()
    BmStore.servedRanked(spark, root, frozen, k)
    assert(BmStore.wandProbeCount.get() === p1)
    // ADVICE r13: a DIFFERENT wide standing set against the SAME root has
    // its own prunability profile — it must get its own probe, not the
    // cached first-batch verdict
    val wide2 = (0 until 4).map { q =>
      (7000L + q, common ++ (0 until 9).map(j => s"rare_${(q * 11 + j) % 50}"))
    }
    val frozen2 = StoreFixtures.frozenStatsForQueries(spark, root, wide2)
    BmStore.servedRanked(spark, root, frozen2, k)
    assert(BmStore.wandProbeCount.get() === p1 + 1,
      "a changed standing set did not re-probe (stale per-root verdict)")
  }

  test("flat-vocab wide class verdicts docvec JOB-FREE; a mixed batch rides one forward-index pass") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    import spark.implicits._
    // the driver-side minEssentialRatio bound: on a flat vocabulary no
    // θ can prune the essential volume below the WAND gate, so the
    // verdict must cost ZERO θ-probe jobs — the probe used to cost
    // nearly a full serve on exactly this corpus shape (r14)
    val dir = java.nio.file.Files.createTempDirectory("bm_flatfree").toString
    val root = dir + "/store"
    BmStore.buildFrom(spark, root, spark.read.parquet(s"$sf/documents.parquet"))
    val docRows = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").limit(80).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val wide = docRows.filter(_._2.distinct.size > BmStore.WideQueryMinTerms)
    val short = docRows.filter(_._2.distinct.size <= BmStore.WideQueryMinTerms)
    assert(wide.length >= 10 && short.length >= 3,
      "fixture lacks a mixed width profile for this spec")
    val mixed = (short.take(3) ++ wide.take(12)).toSeq
      .map { case (id, ts) => (7000000L + id, ts) }
    val frozen = StoreFixtures.frozenStatsForQueries(spark, root, mixed)
    val p0 = BmStore.wandProbeCount.get()
    val ranked = BmStore.servedRanked(spark, root, frozen, Retrieval.BmTopK)
    val got = ranked.collect().map(_.toSeq).sortBy(_.toString)
    assert(BmStore.wandProbeCount.get() === p0,
      "flat-vocab verdict ran a θ-probe job — the driver-side bound did not engage")
    // the whole MIXED batch (short class included) rides the single
    // docvec pass: no postings/documents scan anywhere in the plan
    val scans = TestSpark.executedScans(
        BmStore.servedRanked(spark, root, frozen, Retrieval.BmTopK))
      .map(_.relation.location.rootPaths.mkString(","))
    assert(scans.exists(_.contains("docvec.parquet")))
    assert(scans.forall(p =>
      !p.contains("postings.parquet") && !p.contains("documents.parquet")),
      s"mixed flat batch still runs a postings sub-plan: $scans")
    // and it is exact vs the exhaustive plan
    val want = exhaustiveRanked(root, frozen, Retrieval.BmTopK)
    assert(got.nonEmpty && got.toSeq === want.toSeq)
  }

  test("crash-heal adopts a READY tmp only when built from the same input (ADVICE r13)") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val dir = java.nio.file.Files.createTempDirectory("bm_heal").toString
    val root = dir + "/store"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val docsA = docs.filter(col("doc_id") % 10 =!= 0)
    val docsB = docs.filter(col("doc_id") % 10 === 0)
    def crashIntoTmp(): Unit = {
      // simulate a crash inside the publish swap window: the finished
      // build sits READY-marked at the tmp path, no root
      val r = new java.io.File(root)
      val t = new java.io.File(root + ".build_tmp")
      def rmrf(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
      }
      if (t.exists()) rmrf(t)
      assert(r.renameTo(t))
    }
    def nDocs(): Long =
      spark.read.parquet(s"$root/meta.parquet").head().getLong(0)
    def listing(): Seq[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
        if (f.isDirectory) kids.flatMap(walk) else Seq(f)
      }
      walk(new java.io.File(root)).map(f =>
        (f.getAbsolutePath.stripPrefix(root), f.length)).sortBy(_._1)
    }
    BmStore.buildFrom(spark, root, docsA)
    val aCount = nDocs()
    crashIntoTmp()
    // rebuild with DIFFERENT docs: the stale READY tmp must NOT be adopted
    BmStore.buildFrom(spark, root, docsB)
    assert(nDocs() !== aCount, "stale tmp adopted for a different input")
    val bListing = listing()
    crashIntoTmp()
    // rebuild with the SAME input: adoption replays the finished build
    // byte-for-byte (a real rebuild would re-land part files under fresh
    // UUID names)
    BmStore.buildFrom(spark, root, docsB)
    assert(listing() === bListing, "same-input heal rebuilt instead of adopting")
  }

  test("WAND == exhaustive at fusion depth; short queries take the exhaustive plan") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val root = BmStore.ensureFullBuilt(spark, sf)
    val frozen = BmStore.frozenStats(spark, root, sf)
    // losslessness holds on the flat corpus too (it just prunes little
    // there) — pin it at the hybrid fusion's depth
    val k = Retrieval.FuseDepth
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sum_q").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .collect().map(_.toSeq).sortBy(_.toString)
    val exhaustive = topk(BmStore.servedScored(spark, root, frozen))
    val wand = topk(BmStore.wandScored(spark, root, frozen, k))
    assert(wand.toSeq === exhaustive.toSeq)
    // a narrow standing set (synthetic 5-term queries) must take the
    // exhaustive plan: ONE postings scan, no percolation expression
    val short = StoreFixtures.frozenStatsForQueries(spark, root,
      StoreFixtures.syntheticStandingQueries(spark, root, "wandgate", 5, termsPerQuery = 5))
    val ranked = BmStore.servedRanked(spark, root, short, Retrieval.BmTopK)
    val shortScans = TestSpark.executedScans(ranked)
      .map(_.relation.location.rootPaths.mkString(","))
      .count(_.contains("postings.parquet"))
    assert(shortScans === 1, "short queries unexpectedly took the WAND plan")
    assert(!TestSpark.executedNodes(ranked).exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.PercolateHitsDl]))),
      "short queries unexpectedly took the doc-vector plan")
  }
}
