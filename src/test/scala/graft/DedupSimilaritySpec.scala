package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Dedup + ANN semantics against the planted near-duplicates in the
  * sf0.001 testdata (28 pairs with 3-gram Jaccard ≥ 0.8).
  */
class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def pairs(name: String): Set[(Long, Long)] =
    Dedup.queries(name)(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Hand-built ann_recall_production hit counts over 10 queries — hits1
    * of 10, hits5 and hits5c of 50 — with every arm healthy.
    */
  private val healthySweep = Seq(4, 8, 16).flatMap(np =>
    Seq((np, false, 10L, 40L, 40L), (np, true, 10L, 40L, 40L)))

  private def componentRows(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Long, Boolean)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet

  private def gradeSweep(rows: Seq[(Int, Boolean, Long, Long, Long)]) = {
    import spark.implicits._
    Similarity.gradeProdSweep(
      rows.toDF("np", "reranked", "hits1", "hits5", "hits5c"), 10, 64, 64)
      .collect()
  }

  test("minhash-LSH finds exactly the planted near-dup pairs (vs exact jaccard >= 0.8)") {
    val exact = Dedup.queries("dedup_ngram_jaccard")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairs("dedup_minhash_pairs")
    assert(exact.nonEmpty)
    assert(lsh == exact, s"lsh-only=${lsh -- exact}, missed=${exact -- lsh}")
  }

  test("prefix truth is threshold-invariant above the filter: t=0.79 and t=0.6 runs agree with exact at >= 0.8") {
    // the eval's truth arm runs jaccardPrefixPairs at t=0.79 (r16) — a
    // LOSSLESS choice only if any t < 0.8 yields the same ≥ 0.8 set as
    // the exact inverted-index plan; pin all three against each other
    import org.apache.spark.sql.functions.col
    def at(t: Double): Set[(Long, Long, Double)] =
      Dedup.jaccardPrefixPairs(spark, sf, t)
        .filter(col("jaccard") >= 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Dedup.queries("dedup_ngram_jaccard")(spark, sf)
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val t79 = at(0.79)
    assert(t79 == at(Dedup.JaccardPrefixThreshold))
    assert(t79 == exact && t79.nonEmpty)
  }

  test("dedup_embedding_topk fence trips beyond the all-pairs row budget") {
    // at the fence: fine; one past it: fail fast instead of running O(n²)
    Dedup.requireAllPairsSafe(Dedup.EmbTopkMaxRows)
    val ex = intercept[IllegalArgumentException] {
      Dedup.requireAllPairsSafe(Dedup.EmbTopkMaxRows + 1)
    }
    assert(ex.getMessage.contains("dedup_embedding_lsh"))
    // the registered query still runs under the fence
    assert(Dedup.queries("dedup_embedding_topk")(spark, sf).count() == 30)
  }

  test("ANN top-k is two-stage: salt-group rank feeds the per-query rank") {
    val df = Similarity.queries("ann_bruteforce_topk")(spark, sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 2, s"expected 2 window stages, got ${windows.size}")
    // stage 1 partitions on (query_id, salt) — reducer parallelism is
    // 64 × |queries|, not |queries|; stage 2 re-ranks per query over ≤ 64·k
    assert(windows.exists(_.partitionSpec.size == 2))
    assert(windows.exists(_.partitionSpec.size == 1))
  }

  test("dedup_ngram_jaccard_capped matches a driver-local reference over the capped shingle universe") {
    // independent oracle: shingle, cap, and score entirely in local Scala
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val sh = docs.flatMap { case (id, t) =>
      val ws = t.split(" ", -1)
      if (ws.length < 3) None
      else Some(id -> ws.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val dfreq = sh.values.flatten.groupBy(identity).view.mapValues(_.size)
    val keep = dfreq.filter(_._2 <= Dedup.JaccardDfCap).keySet
    val capped = sh.view.mapValues(_.intersect(keep)).filter(_._2.nonEmpty).toMap
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ids = capped.keys.toSeq.sorted
    val expected = (for {
      i <- ids; j <- ids if i < j
      inter = capped(i).intersect(capped(j)).size if inter > 0
      jac = r4(inter.toDouble / (capped(i).size + capped(j).size - inter)) if jac > 0.1
    } yield (i, j, jac)).toSet
    val got = Dedup.queries("dedup_ngram_jaccard_capped")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"extra=${got -- expected}, missed=${expected -- got}")
  }

  test("ANN index trains ONCE per dataset dir across ivf/pq/ivfpq/kmeans") {
    // the r5 design note: a real 100 TB deployment builds the index once
    // and serves from it — 4 queries must share 1 train-step corpus pass
    JvmCache.clearAll()
    val m = ColdBuilds.mark()
    Seq("ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk", "embedding_kmeans")
      .foreach(q => Similarity.queries(q)(spark, sf).count())
    val cold = ColdBuilds.since(m)
    assert(cold.count(_ == "ann_index_train") == 1, s"cold builds: $cold")
  }

  test("ann_recall: one row per method, recall in (0,1], deterministic") {
    val rows = Similarity.queries("ann_recall")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows.map(_._1) == Set("lsh", "ivf", "pq", "ivfpq"))
    rows.foreach { case (m, hits, rec) =>
      assert(hits > 0 && hits <= 250, s"$m hits=$hits")
      assert(rec > 0.0 && rec <= 1.0, s"$m recall=$rec")
      assert(rec == math.rint(hits / 250.0 * 10000) / 10000, s"$m $hits $rec")
    }
    val again = Similarity.queries("ann_recall")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again == rows)
  }

  test("ann_recall_production: cos floor binds re-rank arms only (VERDICT r16 #6)") {
    // the tie-robust column must dominate the id-graded one (an id hit is
    // by definition at least as close as the 5th-best), and every
    // re-ranked arm must clear the standing floor
    val rows = Similarity.queries("ann_recall_production")(spark, sf).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val (rr, rec5, rec5c) = (r.getBoolean(2),
        r.getDouble(5), r.getDouble(6))
      assert(rec5c >= rec5, s"cos-graded recall below id-graded: $r")
      if (rr) assert(rec5c >= Similarity.RerankCosRecall5Floor, s"$r")
    }
    // the gates on hand-built counts: one arm at a time pushed under a bound
    def withArm(np: Int, rr: Boolean, hits: (Long, Long, Long)) =
      healthySweep.map(r =>
        if (r._1 == np && r._2 == rr) (np, rr, hits._1, hits._2, hits._3) else r)
    assert(gradeSweep(healthySweep).length == 6)
    // a NON-production re-ranked arm under the cos floor trips it...
    intercept[Exception](gradeSweep(withArm(4, rr = true, (10L, 40L, 10L))))
    // ...an ADC-only arm is exempt from the cos floor by design...
    assert(gradeSweep(withArm(4, rr = false, (0L, 0L, 0L))).length == 6)
    // ...and the production bounds do not bind a curve row: a re-ranked
    // np4 row at hit@1 0 and id-recall 0 passes while its cos column holds
    assert(gradeSweep(withArm(4, rr = true, (0L, 0L, 40L))).length == 6)
    // the production row is held to ProdHitBound and ProdRecall5Bound
    intercept[Exception](gradeSweep(withArm(8, rr = true, (8L, 40L, 40L))))
    intercept[Exception](gradeSweep(withArm(8, rr = true, (10L, 20L, 40L))))
  }

  test("production sweep grading keeps an arm that graded nothing, at 0") {
    // an arm with no graded rows has no hit-count row: it must still be
    // reported (at 0) and still be held to its gate, not vanish
    val noAdc4 = gradeSweep(healthySweep.filterNot(r => r._1 == 4 && !r._2))
    assert(noAdc4.length == 6)
    val adc4 = noAdc4.find(r => r.getInt(1) == 4 && !r.getBoolean(2)).get
    assert(adc4.getString(0) == "ivf64.nprobe4.pq8x64.adc" &&
      adc4.getDouble(4) == 0.0 && adc4.getDouble(5) == 0.0 &&
      adc4.getDouble(6) == 0.0, s"$adc4")
    // an empty re-ranked arm reports recall 0, so the cos floor fires
    intercept[Exception](
      gradeSweep(healthySweep.filterNot(r => r._1 == 4 && r._2)))
  }

  test("simhash hamming pairs cover the planted near-dups") {
    val planted = pairs("dedup_minhash_pairs")
    val simhash = pairs("dedup_simhash_pairs")
    val covered = planted.intersect(simhash)
    assert(covered.size >= (planted.size * 0.9).toInt,
      s"simhash covered ${covered.size}/${planted.size}")
  }

  test("connected components: chain graph needs >1 iteration, labels = component min") {
    import spark.implicits._
    // path 1-2-3-4 (diameter 3 forces multiple propagation rounds),
    // pair 10-11, singleton 20
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("d1", "d2")
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connected components frontier fixpoint: labels equal the driver union-find, late rounds feed measured frontiers") {
    // VERDICT r14 #2 + #9: the frontier (delta) propagation must be
    // output-identical to an independent reference — the driver-side
    // union-find fast path on the same graph — AND its late rounds must
    // be seen, through the rounds the run returns, to feed shrunken
    // measured frontiers. driverMaxEdges=0 forces the distributed
    // fixpoint; a diameter-9 chain plus a clique forces multiple rounds
    // so the frontier actually shrinks.
    import spark.implicits._
    val chain = (0 until 9).map(i => (100L + i, 101L + i))
    val clique = for (a <- 0 until 6; b <- a + 1 until 6) yield (a.toLong, b.toLong)
    val edges = (chain ++ clique).toDF("d1", "d2")
    val nodes = ((0 until 6).map(_.toLong) ++ (100 to 109).map(_.toLong) ++
      Seq(999L)).toDF("node")
    def labels(run: Dedup.CcRun): Map[Long, Long] =
      run.labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val front = Dedup.connectedComponents(nodes, edges, 0L)
    val frontLabels = labels(front)
    val frontRounds = front.rounds
    val driver = Dedup.connectedComponents(nodes, edges, Long.MaxValue)
    assert(frontLabels == labels(driver))
    assert(driver.rounds.isEmpty && front.edges == edges.count() &&
      driver.edges == front.edges)
    assert(frontLabels(109L) == 100L && frontLabels(5L) == 0L &&
      frontLabels(999L) == 999L)
    // observability: the fixpoint ran multiple rounds, and its message
    // joins after round 1 fed measured, shrunken frontiers (recorded
    // sizes ≥ 0) rather than every touched node
    assert(frontRounds.size >= 2)
    assert(frontRounds.head._1 == -1L) // round 1 is full-frontier by design
    assert(frontRounds.tail.map(_._1).forall(s => s >= 0L && s < 16L),
      s"frontier rounds after the first should be tiny measured frontiers: $frontRounds")
  }

  test("banded verify placement: dedup_simhash_pairs equals a driver-side all-pairs hamming scan, verify runs before the distinct") {
    // r16 (VERDICT r15 #6 plan audit): the pigeonhole band join plus the
    // bit_count verify must find exactly the all-pairs hamming ≤ 6 set
    // over the dedup_simhash signatures (500 docs ≈ 125 k pairs, scanned
    // on the driver), and the verify must sit BELOW the distinct so only
    // true pairs reach its exchange.
    import org.apache.spark.sql.catalyst.expressions.BitwiseCount
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join}
    val sigs = Dedup.queries("dedup_simhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expected = (for {
      i <- sigs.indices.iterator; j <- (i + 1 until sigs.length).iterator
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) if h <= 6
    } yield (sigs(i)._1, sigs(j)._1, h)).toSet
    val df = Dedup.queries("dedup_simhash_pairs")(spark, sf)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected, s"extra=${got -- expected}, missed=${expected -- got}")
    assert(got.nonEmpty)
    val aggs = df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }
    // the verify predicate may stay a Filter or be folded into the band
    // join's condition; either way it must be under the Aggregate
    def hasVerify(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.exists(_.isInstanceOf[BitwiseCount])
    assert(aggs.nonEmpty && aggs.forall(_.child.exists {
      case f: Filter => hasVerify(f.condition)
      case j: Join => j.condition.exists(hasVerify)
      case _ => false
    }), s"the hamming verify must run below the distinct:\n${df.queryExecution.optimizedPlan}")
  }

  test("connected components under power-law skew: giant component stays correct, rounds bounded") {
    // Skew probe (VERDICT_r04 §8): the relaxation join keys on node ids
    // (uniform), but the pointer-jumping join keys on `label` — a giant
    // near-dup component concentrates ONE label value, so all its rows
    // land in one shuffle partition of that join. Probe: a power-law edge
    // set — one 30k-spoke star (the giant component) + 2000 two-node
    // chains — against a same-size uniform graph of 16k chains.
    import spark.implicits._
    val spokes = 30000
    val hub = (1 to spokes).map(i => (0L, i.toLong))
    val chains = (0 until 2000).map(c => (200000L + 2 * c, 200001L + 2 * c))
    val skewEdges = (hub ++ chains).toDF("d1", "d2")
    val skewNodes = ((0 to spokes).map(_.toLong) ++
      (0 until 4000).map(i => 200000L + i)).toDF("node")
    val uniformEdges = (0 until 16000).map(c => (2L * c, 2L * c + 1)).toDF("d1", "d2")
    val uniformNodes = (0L until 32000L).toDF("node")

    def timed(nodes: org.apache.spark.sql.DataFrame,
        edges: org.apache.spark.sql.DataFrame): (Double, Array[(Long, Long)]) = {
      val t0 = System.nanoTime()
      val out = Dedup.connectedComponents(nodes, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      ((System.nanoTime() - t0) / 1e9, out)
    }
    val (skewSecs, skewLabels) = timed(skewNodes, skewEdges)
    val (uniSecs, uniLabels) = timed(uniformNodes, uniformEdges)
    // correctness: every star member labels 0; every chain labels its even end
    val m = skewLabels.toMap
    assert((0 to spokes).forall(i => m(i.toLong) == 0L))
    assert((0 until 2000).forall(c => m(200001L + 2 * c) == 200000L + 2 * c))
    assert(uniLabels.forall { case (n, l) => l == n - (n % 2) })
    // measurement on record (local[*] at this scale): the star converges in
    // the seeded first relaxation + 1 confirm round, same as the uniform
    // graph — the single-label pointer-jump probe is a hash-lookup fan-out,
    // not extra rounds. The residual 100 TB risk is shuffle-partition size
    // of the label-keyed jump join, mitigated there by AQE skew splitting
    // (the join is a plain equi-join, AQE-eligible); at probe scale the
    // skewed graph must not be catastrophically slower than uniform.
    // Timing is REPORTED, not asserted (ADVICE r5): a wall-clock ratio
    // between two local Spark jobs flakes under CI load / JIT variance;
    // the correctness asserts above are the gate, the number below is the
    // on-record probe measurement.
    info(f"skewed star: $skewSecs%.2fs, uniform chains: $uniSecs%.2fs" +
      f" (ratio ${skewSecs / math.max(uniSecs, 1e-9)}%.2f)")
  }

  test("dedup_components clusters the planted near-dups around min doc_id") {
    val comp = Dedup.queries("dedup_components")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // every simhash pair must land in one cluster
    pairs("dedup_simhash_pairs").foreach { case (d1, d2) =>
      val c1 = comp.find(_._1 == d1).get._2
      val c2 = comp.find(_._1 == d2).get._2
      assert(c1 == c2, s"pair ($d1,$d2) split across clusters $c1/$c2")
    }
    // exactly one canonical per cluster, and it is the min doc_id
    comp.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._4) == 1)
      assert(members.filter(_._4).head._1 == members.map(_._1).min)
      assert(cid == members.map(_._1).min)
      assert(members.forall(_._3 == members.length))
    }
  }

  test("one-shot components contraction: rep arm label-identical to legacy, observably fewer CC edges (r17)") {
    // r17 extends the maintain path's signature contraction (VERDICT r16
    // #1) to the one-shot dedup_components: CC runs over one rep per
    // distinct simhash, members inherit the rep's label via the signature
    // join. Two fixtures pin the claim: (a) the sf corpus with REAL
    // planted near-dups (rep pairs non-trivial) — full 4-column output
    // must be identical across arms; (b) a dup-heavy temp corpus
    // (identical texts → identical sigs) — identical labels AND the
    // returned edge count proving the rep arm feeds CC strictly fewer
    // edges (the r14 stale-gate mandate: arms must differ observably).
    import spark.implicits._
    // arm: "rep" pins the contraction, "all" the all-docs plan (the
    // routed default has its own spec below)
    def runComponents(dir: String, arm: String)
        : (Set[(Long, Long, Long, Boolean)], Long) = {
      val (df, run) = Dedup.components(spark, dir, arm)
      assert(run.arm == arm && run.measured.isEmpty,
        s"a pinned arm runs unmeasured: $run")
      (componentRows(df), run.ccEdges)
    }
    // (a) real near-dup structure: output identity is the gate
    val (repSf, _) = runComponents(sf, arm = "rep")
    val (allSf, _) = runComponents(sf, arm = "all")
    assert(repSf == allSf && repSf.nonEmpty,
      "contracted one-shot must be row-identical to the all-docs arm on the sf corpus")
    // (b) dup-heavy corpus: 6-member identical-text clique + isolated doc
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tZ = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec papa oscar"
    val dir = java.nio.file.Files.createTempDirectory("cc_oneshot_sigdedup").toString
    (Seq(3L, 7L, 11L, 40L, 50L, 60L).map(id => (id, tA)) ++ Seq((5L, tZ)))
      .map { case (id, t) => (id, t, "en", "crawl", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (repOut, repEdges) = runComponents(dir, arm = "rep")
    val (allOut, allEdges) = runComponents(dir, arm = "all")
    assert(repOut == allOut, s"arms disagree: $repOut vs $allOut")
    // the clique labels to its min doc_id; the isolated doc to itself
    assert(repOut == Set(
      (3L, 3L, 6L, true), (7L, 3L, 6L, false), (11L, 3L, 6L, false),
      (40L, 3L, 6L, false), (50L, 3L, 6L, false), (60L, 3L, 6L, false),
      (5L, 5L, 1L, true)), s"$repOut")
    assert(repEdges < allEdges,
      s"rep arm must feed CC strictly fewer edges ($repEdges vs $allEdges)")
  }

  test("components boundary corpora: empty, single doc, all-identical — both arms agree") {
    // degenerate shapes the contracted rep arm must survive: an EMPTY
    // corpus (empty groupBy, empty banded join, CC over zero edges), a
    // single doc (one rep, zero pairs, label = self), and an all-identical
    // corpus (the rep graph is ONE node — the whole corpus rides the
    // member join; the all-docs arm runs a C(n,2) clique through the
    // fixpoint). Both arms must produce identical rows on each.
    import spark.implicits._
    val t = "november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee"
    def fixture(rows: Seq[(Long, String)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("cc_boundary").toString
      rows.map { case (id, tx) => (id, tx, "en", "crawl", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    // three arms per fixture (r18): pinned contraction ("rep"), pinned
    // all-docs ("all"), and the ROUTED default ("route" — takes whichever
    // arm the measured collapse factor picks, including the degenerate
    // n=0/nSig=0 empty-corpus route)
    def run(dir: String, arm: String): Set[(Long, Long, Long, Boolean)] =
      componentRows(Dedup.components(spark, dir, arm)._1)
    val arms = Seq("rep", "all", "route")
    val empty = fixture(Seq.empty)
    arms.foreach(a => assert(run(empty, a).isEmpty, s"arm $a on empty"))
    val single = fixture(Seq((42L, t)))
    val expectSingle = Set((42L, 42L, 1L, true))
    arms.foreach(a => assert(run(single, a) == expectSingle, s"arm $a on single"))
    val allSame = fixture((1L to 9L).map(id => (id, t)))
    val expectAll = (1L to 9L).map(id => (id, 1L, 9L, id == 1L)).toSet
    arms.foreach(a => assert(run(allSame, a) == expectAll, s"arm $a on all-same"))
  }

  test("contraction routing: measured collapse factor picks the arm per run (r18, VERDICT r17 #1)") {
    // The rep arm is no longer an unconditional default: routed, the
    // one-shot measures docs-per-distinct-simhash on the corpus at hand
    // and takes the contraction only past CcSigDedupMinCollapse. Two
    // fixtures pin both routes OBSERVABLY (the r14 stale-gate mandate —
    // the returned run carries the chosen arm and the measured
    // statistics, and its CC edge count must match the pinned run of the
    // same arm), and each routed output must equal both pinned arms'.
    import spark.implicits._
    def fixture(rows: Seq[(Long, String)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("cc_route").toString
      rows.map { case (id, tx) => (id, tx, "en", "crawl", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def run(dir: String, arm: String)
        : (Set[(Long, Long, Long, Boolean)], Dedup.ContractionRun) = {
      val (df, r) = Dedup.components(spark, dir, arm)
      (componentRows(df), r)
    }
    def runRouted(dir: String): (Set[(Long, Long, Long, Boolean)], String) = {
      val (out, r) = run(dir, "route")
      val measured = r.measured.getOrElse(fail(s"a routed run is measured: $r"))
      assert(Dedup.contractionArm("route", measured)._1 == (r.arm == "rep"),
        s"executed arm must match the routed decision: $r")
      assert(r.ccEdges == run(dir, r.arm)._2.ccEdges,
        s"routed run must feed CC what the pinned ${r.arm} arm feeds: $r")
      (out, r.arm)
    }
    def runPinned(dir: String, arm: String): Set[(Long, Long, Long, Boolean)] =
      run(dir, arm)._1
    // dup-heavy corpus (12 docs, 2 distinct texts → collapse 6): routes REP
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tZ = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec papa oscar"
    val dupDir = fixture(
      (1L to 6L).map(id => (id, tA)) ++ (11L to 16L).map(id => (id, tZ)))
    val (dupOut, dupArm) = runRouted(dupDir)
    assert(dupArm == "rep", s"collapse-6 corpus must route to the rep arm")
    assert(dupOut == runPinned(dupDir, "rep") && dupOut == runPinned(dupDir, "all"))
    // mostly-distinct corpus (disjoint per-doc vocabularies → independent
    // ~uniform 48-bit sigs, collapse ≈ 1): routes ALL
    val distinctDir = fixture((0L until 16L).map(id =>
      (id, (0 until 12).map(j => s"w${id}x$j").mkString(" "))))
    val (dOut, dArm) = runRouted(distinctDir)
    assert(dArm == "all", s"collapse-1 corpus must route to the all-docs arm")
    assert(dOut == runPinned(distinctDir, "rep") && dOut == runPinned(distinctDir, "all"))
  }

  test("contraction router decides at CcSigDedupMinCollapse: just under, at, and no signatures") {
    def routes(n: Long, nSig: Long) = Dedup.contractionArm("route", (n, nSig))
    val nSig = 1000L
    val at = math.round(nSig * Dedup.CcSigDedupMinCollapse)
    assert(routes(at - 1, nSig) == ((false, Some((at - 1, nSig)))))
    assert(routes(at, nSig) == ((true, Some((at, nSig)))))
    // an empty input has no signatures: all-docs, never a divide by zero
    assert(routes(0L, 0L) == ((false, Some((0L, 0L)))))
    // a pinned arm never measures
    assert(Dedup.contractionArm("rep", fail("pinned arms do not measure")) == ((true, None)))
    assert(Dedup.contractionArm("all", fail("pinned arms do not measure")) == ((false, None)))
    intercept[IllegalArgumentException](Dedup.contractionArm("on", (1L, 1L)))
  }

  test("sorted-neighborhood pairs are a sound subset of the exact simhash pairs") {
    val exact = Dedup.queries("dedup_simhash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val snm = Dedup.queries("dedup_sorted_neighborhood")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(snm.nonEmpty)
    // soundness: every SNM pair is a true hamming<=6 pair with the same distance
    snm.foreach { case (p, h) =>
      assert(exact.get(p).contains(h), s"SNM pair $p (hamming $h) not in exact set")
    }
    // the window only sees 3 sort-neighbors per doc inside a prefix block,
    // so recall is partial by design — but it must find SOMETHING real
    assert(snm.size <= exact.size)
  }

  test("incremental dedup verdicts match pair counts derived from the exact pair set") {
    val exact = Dedup.queries("dedup_simhash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // expected per-delta stats from the full pair set restricted to delta-base
    val expected = exact
      .flatMap { case (d1, d2, h) =>
        Seq((d1, d2, h), (d2, d1, h)) // both orientations
      }
      .filter { case (a, b, _) => a % 10 == 0 && b % 10 != 0 }
      .groupBy(_._1)
      .map { case (id, g) => id -> (g.length.toLong, g.map(_._3).min) }
    val got = Dedup.queries("dedup_incremental")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getBoolean(3))).toMap
    got.foreach { case (id, (n, mh, novel)) =>
      expected.get(id) match {
        case Some((en, emh)) =>
          assert(n == en && mh == emh && !novel, s"delta $id: got ($n,$mh,$novel), want ($en,$emh,false)")
        case None =>
          assert(n == 0L && mh == -1 && novel, s"delta $id should be novel, got ($n,$mh,$novel)")
      }
    }
  }

  test("bloom-prefiltered decontam output is identical to the exact overlap join") {
    import graft.operators.TrainingPipeline
    val bloom = TrainingPipeline.queries("decontam_bloom")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    // re-derive the exact semantics without the bloom stage: n_hits from
    // the plain fingerprint join
    graft.functions.GraftFunctions.register(spark)
    val fps = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("sh", org.apache.spark.sql.functions.expr("word_shingles(text)"))
      .filter("sh is not null")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.col("sh")).as("s"))
      .withColumn("fp", org.apache.spark.sql.functions.expr(
        "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)"))
    val ev = fps.filter("doc_id % 20 = 0").select("fp").distinct()
    val hits = fps.filter("doc_id % 20 != 0").join(ev, "fp")
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    bloom.foreach { case (id, n, contaminated) =>
      assert(n == hits.getOrElse(id, 0L), s"doc $id: bloom path n_hits=$n, exact=${hits.getOrElse(id, 0L)}")
      assert(contaminated == (n >= 1))
    }
  }

  test("exact dedup marks exactly one canonical doc per hash group") {
    val df = Dedup.queries("dedup_exact")(spark, sf)
    val byHash = df.groupBy("text_hash")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("is_canonical"), 1).otherwise(0)).as("n_canon"))
      .collect()
    assert(byHash.forall(_.getLong(1) == 1L))
  }

  test("brute-force ANN matches a locally computed top-1") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expTop1 = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(emb(0L), v)) }
      .maxBy { case (id, c) => (c, -id) }._1
    val got = Similarity.queries("ann_bruteforce_topk")(spark, sf)
      .filter("query_id = 0 AND rank = 1").collect().head.getLong(2)
    assert(got == expTop1)
  }

  test("kmeans: total coverage, bounded clusters, deterministic, locally optimal") {
    val rows = Similarity.queries("embedding_kmeans")(spark, sf).collect()
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.length == corpus) // every vector assigned exactly once
    val clusters = rows.map(_.getAs[Int]("cluster_id")).toSet
    assert(clusters.nonEmpty && clusters.size <= Similarity.kmeansKFor(corpus))
    // sizes are consistent with the actual partition
    rows.groupBy(_.getAs[Int]("cluster_id")).foreach { case (_, g) =>
      assert(g.map(_.getAs[Long]("cluster_size")).toSet == Set(g.length.toLong))
    }
    // deterministic: a second full run yields the identical assignment
    val again = Similarity.queries("embedding_kmeans")(spark, sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq ==
      again.map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq)
  }

  test("PQ ADC: structure, determinism, and exact match vs a local reference") {
    val rows = Similarity.queries("ann_pq_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // structure: 5 ranked rows per query, distance non-decreasing in rank
    rows.groupBy(_._1).foreach { case (q, g) =>
      assert(g.map(_._2).sorted.toSeq == (1 to 5), s"query $q ranks ${g.map(_._2).toSeq}")
      val byRank = g.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b }, s"query $q not sorted")
    }
    // local reference (plain Scala, no Spark expressions): same codebook
    // sample, encode, and ADC — top-1 for query 0 must agree exactly
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val sample = emb.keys.toSeq
      .sortBy(id => (graft.functions.PortableHash.md5Int8(id.toString), id))
      .take(4).map(emb)
    def sqd(q: Array[Double], c: Array[Double], off: Int): Double = {
      var acc = 0.0
      var i = 0
      while (i < 8) { val d = q(off + i) - c(off + i); acc += d * d; i += 1 }
      acc
    }
    def encode(v: Array[Double]): Array[Int] =
      Array.tabulate(8) { m =>
        (0 until 4).minBy(k => (sqd(v, sample(k), m * 8), k))
      }
    val q0 = emb(0L)
    val expTop1 = emb.toSeq.filter(_._1 != 0L).map { case (id, v) =>
      val codes = encode(v)
      val adist = (0 until 8).map(m => sqd(q0, sample(codes(m)), m * 8)).sum
      (id, adist)
    }.minBy { case (id, a) => (a, id) }._1
    val gotTop1 = rows.filter(r => r._1 == 0L && r._2 == 1).head._3
    assert(gotTop1 == expTop1)
    // deterministic across full re-runs (fresh codebook collect + encode)
    val again = Similarity.queries("ann_pq_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.sortBy(r => (r._1, r._2)).toSeq == again.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("LSH ANN reaches useful recall vs brute force") {
    def topSets(name: String): Map[Long, Set[Long]] =
      Similarity.queries(name)(spark, sf)
        .select("query_id", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val brute = topSets("ann_bruteforce_topk")
    val lsh = topSets("ann_lsh_topk")
    val recalls = brute.map { case (q, bs) =>
      lsh.get(q).map(ls => ls.intersect(bs).size.toDouble / bs.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.2, s"mean recall@5 = $mean")
  }

  test("prefix-filtered ngram jaccard is EXACTLY the n^2 output at its threshold") {
    // the whole point of the AllPairs prefix filter: candidate pruning
    // with ZERO recall loss — any divergence here is a filter bug.
    // Ground truth = the unfiltered inverted-index query (exact, already
    // oracle-matched at 0.1) filtered to the prefix query's threshold.
    def pairs(name: String): Set[(Long, Long, Double)] =
      Dedup.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val truth = pairs("dedup_ngram_jaccard").filter(_._3 > 0.6)
    val pref = pairs("dedup_ngram_jaccard_prefix")
    assert(truth.nonEmpty, "fixture should contain high-confidence near-dup pairs")
    assert(pref == truth,
      s"prefix filter changed output: missing=${truth.diff(pref).take(3)}" +
        s" extra=${pref.diff(truth).take(3)}")
  }

  test("PPJoin positional+length filters are lossless at the 0.6 boundary (r14)") {
    // Constructed corpus hitting both new candidate filters exactly at
    // their bounds: docs built from unique word vocabularies sharing a
    // 25-word block (23 shared 3-gram shingles).
    //  - (1,2): jaccard 23/38 = .6053 — qualifies, and its first-match
    //    row sits EXACTLY on the positional bound (1 + min slack = 23 =
    //    ⌊t/(1+t)·(n1+n2)⌋ + 1), so an off-by-one in the filter drops it;
    //  - (1,3): 23/39 = .5897 — just below threshold, must stay out;
    //  - (4,5): 3 shared shingles between a 3-shingle doc and a
    //    53-shingle doc — the length filter's target shape.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ppjoin").toString
    def words(p: String, n: Int) = (1 to n).map(i => f"$p$i%03d")
    val shared = words("s", 25)
    val docs = Seq(
      (1L, shared.mkString(" ")),
      (2L, (shared ++ words("fa", 15)).mkString(" ")),
      (3L, (shared ++ words("fb", 16)).mkString(" ")),
      (4L, (words("fc", 50) ++ shared.take(5)).mkString(" ")),
      (5L, shared.take(5).mkString(" "))
    ).toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text")))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val viaPrefix = pairsOf(Dedup.queries("dedup_ngram_jaccard_prefix")(spark, dir))
    val viaIndex = invertedIndexAboveThreshold(dir)
    assert(viaPrefix === viaIndex,
      s"PPJoin filters changed output: prefixOnly=${viaPrefix.diff(viaIndex)}" +
        s" indexOnly=${viaIndex.diff(viaPrefix)}")
    assert(viaPrefix.exists(p => p._1 == 1L && p._2 == 2L),
      "boundary pair (1,2) at jaccard .6053 lost by a filter")
    assert(!viaPrefix.exists(p => p._1 == 1L && p._2 == 3L),
      "sub-threshold pair (1,3) at jaccard .5897 leaked through")
    assert(!viaPrefix.exists(p => Set(p._1, p._2) == Set(4L, 5L)))
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** The prefix plan's reference: dedup_ngram_jaccard (the exact
    * inverted-index aggregate, oracle-checked at its 0.1 threshold)
    * restricted to jaccard > [[Dedup.JaccardPrefixThreshold]].
    */
  private def invertedIndexAboveThreshold(dir: String): Set[(Long, Long, Double)] =
    pairsOf(Dedup.queries("dedup_ngram_jaccard")(spark, dir))
      .filter(_._3 > Dedup.JaccardPrefixThreshold)

  test("prefix auto-select: both plan branches produce identical output") {
    // r10 picked direct-aggregate vs prefix-pipeline from the df
    // histogram; r14 retired the gate and the direct branch is gone. The
    // prefix plan must still equal that branch's shape: the inverted-index
    // aggregate (dedup_ngram_jaccard) at the same threshold.
    val prefixDf = Dedup.queries("dedup_ngram_jaccard_prefix")(spark, sf)
    // the prefix pipeline's window hides behind its checkpoint, but its
    // two-stage verify's fingerprint screen (sorted_inter_count) is in
    // the returned plan
    assert(prefixDf.queryExecution.optimizedPlan.toString.contains("sorted_inter_count"),
      "dedup_ngram_jaccard_prefix did not take the prefix pipeline")
    val viaPrefix = pairsOf(prefixDf)
    val viaIndex = invertedIndexAboveThreshold(sf)
    assert(viaPrefix.nonEmpty, "fixture should contain high-confidence pairs")
    assert(viaPrefix == viaIndex,
      s"plans diverge: prefixOnly=${viaPrefix.diff(viaIndex).take(3)}" +
        s" indexOnly=${viaIndex.diff(viaPrefix).take(3)}")
  }

  test("asymmetric indexing prefix keeps a pair whose first shared shingle sits AT the bound (r14)") {
    // The r14 indexing-prefix filter joins side 1 (the smaller doc) from
    // its first n − ⌊2t/(1+t)·n⌋ positions only. Construct a qualifying
    // pair whose globally-smallest shared shingle ranks EXACTLY at that
    // bound in the smaller doc, so a one-tighter cut loses the pair:
    // docs of 19 words = 17 shingles each — 4 unique ones (df=1, so they
    // sort FIRST in the (df, s) canonical order) + 13 shared. First
    // shared rank = 5 = 17 − ⌊0.75·17⌋; jaccard = 13/21 ≈ .6190 > .6.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("idxprefix").toString
    def words(p: String, n: Int) = (1 to n).map(i => f"$p$i%03d")
    val shared = words("sx", 15)
    val docs = Seq(
      (6L, (words("ga", 4) ++ shared).mkString(" ")),
      (7L, (words("hb", 4) ++ shared).mkString(" "))
    ).toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text")))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = pairsOf(Dedup.queries("dedup_ngram_jaccard_prefix")(spark, dir))
    assert(out == Set((6L, 7L, 0.619)),
      s"boundary-rank pair lost or distorted by the indexing prefix: $out")
  }

  test("substring dedup finds planted verbatim spans, content-defined (alignment-free)") {
    import spark.implicits._
    val span = (1 to 40).map(i => s"sharedword$i").mkString(" ") // ~600 chars
    val docs = Seq(
      (1L, s"alpha beta gamma $span delta epsilon", "en", "t", 0L),
      // same span at a very different offset: content-defined sampling
      // must still align the windows
      (2L, s"zeta $span", "en", "t", 0L),
      (3L, "totally unrelated text with nothing shared at all beyond forty characters of filler", "en", "t", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("substr").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("dedup_substring")(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out.contains((1L, 2L)), s"planted span pair not found: $out")
    assert(out((1L, 2L)) >= 10, "long shared span should share many sampled windows")
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L)),
      "unrelated doc must not pair")
    // d1 < d2 canonical ordering
    assert(out.keys.forall { case (a, b) => a < b })
  }

  test("fine-banded embedding LSH finds planted near-dups (sf fixture has none at 0.99)") {
    import spark.implicits._
    // the sf0.001 embeddings are random (max pairwise cosine ≈ 0.48), so
    // plant the regime the operator exists for: 10 pairs at cosine ≈ 1
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 50).map(i => (i.toLong, vec()))
    val dups = bases.take(10).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.001f * rnd.nextGaussian().toFloat))
    }
    val dir = java.nio.file.Files.createTempDirectory("lshfine").toString
    (bases ++ dups).map { case (id, v) => (id, "x", v) }
      .toDF("vec_id", "label", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = (0 until 10).map(i => (i.toLong, i + 1000L)).toSet
    def top(name: String): Seq[(Long, Long, Double)] =
      Similarity.queries(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val coarse = top("dedup_embedding_lsh")
    val fine = top("dedup_embedding_lsh_fine")
    // every planted near-identical pair survives BOTH bandings and
    // dominates the top-20 head
    Seq("coarse" -> coarse, "fine" -> fine).foreach { case (label, out) =>
      val found = out.filter(_._3 >= 0.99).map(p => (p._1, p._2)).toSet
      assert(planted.subsetOf(found),
        s"$label lost planted pairs: ${planted.diff(found)}")
    }
    // determinism of the fine path
    assert(fine == top("dedup_embedding_lsh_fine"))
  }

  test("prefix filter exactness holds on randomized adversarial corpora") {
    import spark.implicits._
    // seeded random corpora with heavy word reuse (small vocab → shared
    // shingles, df ties, near-identical docs, minimum-size docs) — the
    // shapes where an off-by-one in the prefix-length bound would bite
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val vocab = (0 until 12).map(i => s"w$i")
      val words = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      (0 until 30).foreach { id =>
        val w =
          if (id % 3 == 2 && words.nonEmpty) {
            // light mutation of the predecessor → pairs spanning the whole
            // jaccard range, including just-above/below the 0.6 threshold
            val prev = words(id - 1).toArray
            prev(rnd.nextInt(prev.length)) = vocab(rnd.nextInt(vocab.size))
            prev.toSeq
          } else {
            val len = 3 + rnd.nextInt(15)
            Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
          }
        words += w
      }
      val docs = words.zipWithIndex.map { case (w, id) =>
        (id.toLong, w.mkString(" "), "en", "t", 0L)
      }.toSeq
      val dir = java.nio.file.Files.createTempDirectory(s"pfx$trial").toString
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def pairs(name: String): Set[(Long, Long, Double)] =
        Dedup.queries(name)(spark, dir).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val truth = pairs("dedup_ngram_jaccard").filter(_._3 > 0.6)
      val pref = pairs("dedup_ngram_jaccard_prefix")
      assert(truth.nonEmpty, s"trial $trial vacuous: no high-jaccard pairs planted")
      assert(pref == truth,
        s"trial $trial: missing=${truth.diff(pref).take(3)} extra=${pref.diff(truth).take(3)}")
    }
  }

  test("dedup_semantic surfaces planted near-dups inside their cluster with is_dup") {
    import spark.implicits._
    // same planted regime as the LSH fine test: pairs at cosine ≈ 1 on
    // an otherwise-random corpus. SemDeDup's cluster scoping must not lose
    // them: a planted near-identical pair lands in the SAME kmeans cluster
    // (cosine assignment; the two vectors are ~identical so they rank the
    // same centroid first), so each must surface in its cluster's ranked
    // head with is_dup = true at the 0.9 threshold. FOUR planted pairs,
    // not ten: the head is SemanticTopK = 5 per cluster, so with ≤ 4
    // planted pairs the subset assertion is structurally safe even if
    // k-means puts every planted pair in ONE cluster — planted pairs
    // outrank all random pairs (cosine ≈ 1 vs ≤ ~0.5), so all 4 fit
    // (second self-review pass: 10 pairs over 4 clusters could pigeonhole
    // > 5 into one head and fail spuriously on an unrelated reseed).
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0 until 50).map(i => (i.toLong, vec()))
    val dups = bases.take(4).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.001f * rnd.nextGaussian().toFloat))
    }
    val dir = java.nio.file.Files.createTempDirectory("semdedup").toString
    (bases ++ dups).map { case (id, v) => (id, "x", v) }
      .toDF("vec_id", "label", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.queries("dedup_semantic")(spark, dir).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5)))
    val planted = (0 until 4).map(i => (i.toLong, i + 1000L)).toSet
    val flagged = out.filter(_._4).map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(flagged),
      s"cluster scoping lost planted pairs: ${planted.diff(flagged)}")
    // nothing random should clear the 0.9 bar
    assert(flagged == planted, s"spurious is_dup pairs: ${flagged.diff(planted)}")
    // per-cluster head is bounded and ranks are 1-based contiguous per cluster
    val byCluster = Similarity.queries("dedup_semantic")(spark, dir).collect()
      .groupBy(_.getInt(0))
    byCluster.foreach { case (c, rows) =>
      val ranks = rows.map(_.getInt(1)).sorted
      assert(ranks.length <= Similarity.SemanticTopK, s"cluster $c head too large")
      assert(ranks.toSeq == (1 to ranks.length), s"cluster $c ranks not contiguous")
    }
    // determinism
    assert(out.toSeq == Similarity.queries("dedup_semantic")(spark, dir).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5))).toSeq)
  }

  test("decontam_neardup: sound verdicts, full eval coverage, exact-dup completeness") {
    import org.apache.spark.sql.functions.{col, expr}
    def bucket(id: Long): Long =
      graft.functions.PortableHash.md5Int8(s"split:$id") % 100
    graft.functions.GraftFunctions.register(spark)
    // local ground truth: shingle sets per doc
    val shingles = graft.sources.Tables.documents(spark, sf)
      .withColumn("sh", expr("word_shingles(text)"))
      .filter(col("sh").isNotNull)
      .select("doc_id", "sh").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (shingles(a), shingles(b))
      x.intersect(y).size.toDouble / x.union(y).size
    }
    val out = Dedup.queries("decontam_neardup")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val testDocs = shingles.keySet.filter(bucket(_) >= 90)
    val trainDocs = shingles.keySet.filter(bucket(_) < 80)
    // one verdict per shingled eval doc, no more, no less
    assert(out.keySet == testDocs)
    out.foreach { case (id, (n, mx, clean)) =>
      if (clean) assert(n == 0L && mx == -1.0)
      else {
        // soundness: every flagged eval doc really has a >= 0.8 train partner
        val partners = trainDocs.filter(t => jac(id, t) >= 0.7999)
        assert(partners.nonEmpty, s"doc $id flagged but no qualifying train partner")
        assert(n <= partners.size)
        assert(mx >= 0.8 - 1e-9)
      }
    }
    // completeness floor: identical shingle sets produce identical minhash
    // signatures, which collide in every band — LSH cannot miss them
    val exactDups = for {
      t <- testDocs; tr <- trainDocs if shingles(t) == shingles(tr)
    } yield t
    exactDups.foreach(t => assert(!out(t)._3, s"exact dup $t marked clean"))
  }

  test("text_entropy: zero for constant text, 1 bit for a 50/50 alphabet, bounded on the corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaaaaaa", "en", "t", 0L),
      (2L, "abababab", "en", "t", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("entropy").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ent = graft.operators.TextOps.queries("text_entropy")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ent(1L) == ((8L, 0.0)))
    assert(ent(2L) == ((8L, 1.0)))
    // corpus sanity: 0 <= H <= log2(n_chars)
    val corpus = graft.operators.TextOps.queries("text_entropy")(spark, sf)
      .collect()
    assert(corpus.length == 500)
    corpus.foreach { r =>
      val (n, h) = (r.getLong(1), r.getDouble(2))
      assert(h >= 0.0 && h <= math.log(n.toDouble) / math.log(2.0) + 1e-9)
    }
  }

  test("derived k-means K: scales with the corpus; dedup_semantic matches an in-Spark brute force at K>4") {
    import org.apache.spark.sql.functions._
    // the derivation itself: clamp(n / target, 4, 1024)
    assert(Similarity.kmeansKFor(0L) == Similarity.KmeansKMin)
    assert(Similarity.kmeansKFor(2499L) == 4)
    assert(Similarity.kmeansKFor(3000L) == 6)
    assert(Similarity.kmeansKFor(Long.MaxValue) == Similarity.KmeansKMax)
    // 6 deterministic replicas of the sf0.001 embeddings → n=3000, K=6 —
    // the fixture scales (sf0.001/sf0.01 at n=500) never leave the K=4
    // floor, so without this the derived-K branch would ship untested
    val dir = java.nio.file.Files.createTempDirectory("kfix").toString
    val reps = spark.range(6).select(col("id").as("r"))
    spark.read.parquet(s"$sf/embeddings.parquet").crossJoin(broadcast(reps))
      .select((col("vec_id") + col("r") * 500).as("vec_id"),
        expr("transform(embedding, x -> cast(x + 0.001 * r as float))").as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val km = Similarity.queries("embedding_kmeans")(spark, dir).collect()
    assert(km.length == 3000)
    val nClusters = km.map(_.getAs[Int]("cluster_id")).toSet.size
    assert(nClusters > Similarity.KmeansKMin && nClusters <= 6,
      s"derived K not in effect: $nClusters clusters")
    // independent reference: within-cluster pairwise cosine over the
    // embedding_kmeans assignment (itself checked above + oracle-matched),
    // ranked per cluster in plain local Scala — no Spark expressions shared
    // with the operator under test
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCluster = km.map(r => r.getLong(0) -> r.getInt(1))
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val expected = byCluster.toSeq.flatMap { case (c, ids) =>
      val ranked = (for { i <- ids; j <- ids if i < j } yield (i, j, r4(cos(emb(i), emb(j)))))
        .sortBy { case (i, j, cs) => (-cs, i, j) }
        .take(Similarity.SemanticTopK)
      ranked.zipWithIndex.map { case ((i, j, cs), r) =>
        (c, r + 1, i, j, cs, cs >= Similarity.SemanticDupThreshold)
      }
    }.toSet
    val got = Similarity.queries("dedup_semantic")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5))).toSet
    assert(got == expected, s"extra=${got -- expected}, missed=${expected -- got}")
  }
}
