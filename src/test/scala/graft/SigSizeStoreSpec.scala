package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SigStore

/** The persisted per-cluster sizes beside the SigStore labels (r19,
  * VERDICT r18 #1 — the pair-head idiom): `dedup_components_stored`'s
  * default serve reads cluster_size from the store (generation column +
  * broadcast override) instead of re-aggregating the corpus per serve.
  * Pins: served rows ≡ a per-serve size aggregate this spec computes
  * from the store's effective labels, row-for-row; legacy stores
  * self-upgrade exactly once; and the served plan never aggregates the
  * corpus-sized label table.
  */
class SigSizeStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "crawl", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  // same crafted topology as SigStoreSpec's absorb test: base {1,3}
  // near-dups in separate components until 10 bridges them; 5/20/30
  // isolated
  private val tB = "hotel charlie kilo alpha sierra romeo zulu victor tango whiskey hotel lima"
  private val tC = "charlie charlie kilo alpha sierra romeo zulu victor tango whiskey yankee lima"
  private val tE = "hotel charlie kilo alpha sierra romeo zulu victor tango whiskey yankee lima"
  private val tI1 = "november oscar papa quebec golf india mike foxtrot uniform bravo delta echo"
  private val tI2 = "echo delta bravo uniform foxtrot mike india golf quebec papa oscar november xray"

  private def freshAbsorbedStore(): String = {
    val root = java.nio.file.Files.createTempDirectory("cc_size").toString + "/store"
    SigStore.buildFrom(spark, root, docsOf(1L -> tB, 3L -> tC, 5L -> tI1))
    SigStore.buildLabels(spark, root)
    SigStore.absorbComponents(spark, root, docsOf(10L -> tE, 20L -> tI2), 0L)
    root
  }

  private def served(root: String): Set[(Long, Long, Long, Boolean)] =
    SigStore.serveComponentsStored(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet

  /** The per-serve aggregate the persisted sizes replace, computed from
    * the store's effective (node, label) rows: group by label, count,
    * join back.
    */
  private def aggregated(root: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val labels = SigStore.effectiveLabels(spark, root)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("node"), col("label"), col("cluster_size"),
        col("node") === col("label"))
  }

  private def inline(root: String): Set[(Long, Long, Long, Boolean)] =
    aggregated(root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet

  test("stored sizes ≡ inline per-serve aggregation, row-identical (post-absorb store)") {
    val root = freshAbsorbedStore()
    val stored = served(root)
    val agg = inline(root)
    assert(stored == agg && stored.nonEmpty,
      s"persisted sizes diverge from the per-serve aggregate:\n$stored\nvs\n$agg")
    assert(stored == Set(
      (1L, 1L, 3L, true), (3L, 1L, 3L, false), (10L, 1L, 3L, false),
      (5L, 5L, 1L, true), (20L, 20L, 1L, true)))
  }

  test("override tracks sizes across merging absorbs and replays") {
    val root = freshAbsorbedStore()
    // second batch: 11 replays nothing but joins the merged cluster; 30 new isolate
    val t30 = "five two six ten zero one eight nine thirteen four eleven seven"
    SigStore.absorbComponents(spark, root, docsOf(11L -> tE, 30L -> t30), 1L)
    val expected = Set(
      (1L, 1L, 4L, true), (3L, 1L, 4L, false), (10L, 1L, 4L, false),
      (11L, 1L, 4L, false),
      (5L, 5L, 1L, true), (20L, 20L, 1L, true), (30L, 30L, 1L, true))
    assert(served(root) == expected)
    assert(inline(root) == expected)
    // replay of the last batch: override recomposes to itself
    SigStore.absorbComponents(spark, root, docsOf(11L -> tE, 30L -> t30), 1L)
    assert(served(root) == expected, "absorb replay must leave sizes unchanged")
  }

  test("legacy store without the cluster_size column self-upgrades exactly once") {
    val root = freshAbsorbedStore()
    val before = served(root)
    // simulate a pre-r19 store: a generation with only (node, label) and
    // absorb patches with no override file
    val legacyGen = spark.read.parquet(s"$root/labels.parquet")
      .select("node", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(): Unit
    }
    rmTree(new java.io.File(s"$root/labels.parquet"))
    rmTree(new java.io.File(s"$root/size_override.parquet"))
    import spark.implicits._
    legacyGen.toDF("node", "label")
      .write.mode("overwrite").parquet(s"$root/labels.parquet")
    val mark = graft.ColdBuilds.mark()
    assert(served(root) == before, "upgraded store must serve identical rows")
    assert(graft.ColdBuilds.since(mark).contains("sig_labels_size_upgrade"),
      "a legacy store must self-upgrade")
    val mark2 = graft.ColdBuilds.mark()
    assert(served(root) == before)
    assert(!graft.ColdBuilds.since(mark2).contains("sig_labels_size_upgrade"),
      "the upgrade must be paid at most once")
  }

  test("legacy patches without an override file trigger the upgrade too") {
    val root = freshAbsorbedStore()
    val before = served(root)
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(): Unit
    }
    // patches present (absorb wrote them), override torn away — the
    // pre-r19 absorb shape. Serving generation sizes alone would be
    // stale for every patched cluster; the gate must fold instead.
    assert(new java.io.File(s"$root/label_nodes.parquet").exists())
    rmTree(new java.io.File(s"$root/size_override.parquet"))
    val mark = graft.ColdBuilds.mark()
    assert(served(root) == before)
    assert(graft.ColdBuilds.since(mark).contains("sig_labels_size_upgrade"))
  }

  test("randomized absorb sequences: stored sizes ≡ inline after every batch (merges, dups, replays, heal)") {
    // the override's compose/prune is a state machine over arbitrary
    // interleavings of cluster touches, multi-way merges, replays, and
    // recovery — the directed tests above pin specific paths; this
    // drives a seeded random 8-batch horizon and re-proves the
    // stored≡inline identity after EVERY mutation, including a torn
    // marker healed mid-sequence.
    val rng = new scala.util.Random(7L)
    // doc universe: 3 bridgeable templates (tB~tE~tC) + distinct fillers
    val fillers = Seq(
      "november oscar papa quebec golf india mike foxtrot uniform bravo delta echo",
      "echo delta bravo uniform foxtrot mike india golf quebec papa oscar november xray",
      "five two six ten zero one eight nine thirteen four eleven seven",
      "juliett lima mike kilo one four papa romeo seven six victor zulu")
    val pool = Seq(tB, tC, tE) ++ fillers
    val root = java.nio.file.Files.createTempDirectory("cc_prop").toString + "/store"
    var nextId = 100L
    val absorbed = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String)]]
    SigStore.buildFrom(spark, root, docsOf(1L -> tB, 2L -> fillers(0)))
    SigStore.buildLabels(spark, root)
    for (b <- 0 until 8) {
      val batch: Seq[(Long, String)] =
        if (b == 5 && absorbed.nonEmpty) absorbed(rng.nextInt(absorbed.size)) // replay
        else Seq.fill(1 + rng.nextInt(3)) {
          nextId += 1
          (nextId, pool(rng.nextInt(pool.size)))
        }
      if (b == 3) { // torn marker healed by the absorb's self-heal path
        assert(new java.io.File(s"$root/_LABELS_READY").delete())
      }
      SigStore.absorbComponents(spark, root, docsOf(batch: _*), batchId = b.toLong)
      absorbed += batch
      val stored = served(root)
      val agg = inline(root)
      assert(stored == agg, s"batch $b: stored≡inline broken\n$stored\nvs\n$agg")
    }
  }

  test("fraud ML scoring survives a prior incremental serve (ObservationManager poisoning tripwire)") {
    // the Observation-based observe() API lazily initializes the
    // session's non-serializable ObservationManager, which poisons any
    // later closure that transitively serializes the SparkSession — the
    // fraud model's scoring UDF does (model → training summary →
    // DataFrame → session). The router's free-stats observe must
    // therefore stay on the NAME-based API; this pins the exact failing
    // pair from the r19 build.
    SigStore.queries("dedup_components_incremental")(spark, sf).count(): Unit
    val rows = SparkEntry.queries("fraud_ml_score")(spark, sf).collect()
    assert(rows.nonEmpty, "fraud ML scoring must survive a prior observed serve")
  }

  test("served plan never aggregates the corpus label table") {
    val root = freshAbsorbedStore()
    def scansLabels(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectLeaves().exists {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.exists(_.toString.contains("labels.parquet"))
            case _ => false
          }
        case _ => false
      }
    def aggregatesOverLabels(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
            if scansLabels(a) => a.toString
      }
    // patched store: aggregates may exist (patch-sized max_by) but none
    // may consume the corpus-sized generation scan
    val aggs = aggregatesOverLabels(SigStore.serveComponentsStored(spark, root))
    assert(aggs.isEmpty,
      s"stored serve aggregates the corpus label table:\n${aggs.mkString("\n")}")
    // the per-serve aggregate DOES aggregate it — the probe proves the
    // detector sees
    assert(aggregatesOverLabels(aggregated(root)).nonEmpty,
      "probe: the per-serve aggregate must show the corpus aggregate")
  }
}
