package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Centralized EXECUTED-PLAN invariants for the headline query basket —
  * the plan-drift tripwire (VERDICT r11 #6): QuerySurfaceSpec catches
  * analysis drift, the oracle gate catches value drift, but nothing
  * caught a future change silently un-broadcasting a pruned join,
  * re-introducing a cartesian product, or funneling a corpus through a
  * single-partition exchange. These rules are enforced UNIFORMLY over
  * the basket (no per-query exception list — the documented
  * "broadcast-one-row-scalar / tiny-dim" cross-join sites satisfy the
  * same bounds), so a red here means a guarded plan property flipped:
  *
  *   1. NO CartesianProductExec, anywhere.
  *   2. Every BroadcastNestedLoopJoin's broadcast side is TINY (≤
  *      [[MaxBnljBroadcastRows]] rows by executed metrics) — the
  *      one-row-scalar / query-basket pattern; a corpus-sized BNLJ side
  *      is the O(n²) regression this rule exists to catch.
  *   3. Every single-partition shuffle exchange carried ≤
  *      [[MaxSinglePartitionRows]] rows — global aggregates funnel a few
  *      partial rows by design, but a corpus-sized single-reducer
  *      window/sort (the salted-two-stage-top-k regression) cannot hide.
  *   4. Named queries whose efficiency depends on a broadcast-pruned
  *      join really execute a BroadcastHashJoin.
  *
  * Executed at sf0.001; the rules are plan-SHAPE properties, so scale
  * only raises the margins.
  */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private val MaxBnljBroadcastRows = 2000L
  private val MaxSinglePartitionRows = 200000L

  /** The guarded basket: one representative per plan family that has a
    * broadcast/prune/top-k property worth tripwiring.
    */
  private val basket: Seq[String] = Seq(
    "q_pricing_summary",
    "q_top_orders_per_cust",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard_capped",
    "dedup_semantic",
    "ann_bruteforce_topk", // BNLJ by design — broadcast side is the query basket
    "ann_ivfpq_topk",
    "ann_ivfpq_served_topk",
    "text_bm25_topk",
    "text_bm25_served_topk",
    "ann_hybrid_rrf", // BNLJ by design — same bounded broadcast side
    "ann_hybrid_served_rrf",
    "dsir_sample",
    "embedding_prototypicality",
    "corpus_train_manifest"
  )

  /** Queries that must execute at least one BroadcastHashJoin (rule 4). */
  private val mustBroadcast: Set[String] = Set(
    "text_bm25_topk", "text_bm25_served_topk", "ann_ivfpq_topk",
    "ann_ivfpq_served_topk", "ann_hybrid_served_rrf", "dsir_sample",
    "embedding_prototypicality")


  /** Executed output-row metric of a (possibly stage-wrapped) node. */
  private def outputRows(p: SparkPlan): Option[Long] = {
    val inner = p match {
      case q: QueryStageExec => q.plan
      case other => other
    }
    // a broadcast/shuffle stage's row metric lives on the exchange (or,
    // for a reused exchange, on the original it aliases)
    val target = inner match {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r.child
      case other => other
    }
    target.metrics.get("numOutputRows").map(_.value)
  }

  private lazy val executed: Map[String, Seq[SparkPlan]] = {
    val qs = SparkEntry.queries
    basket.map(name => name -> TestSpark.executedNodes(qs(name)(spark, sf))).toMap
  }

  test("rule 1: no cartesian product anywhere in the basket") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    executed.foreach { case (name, nodes) =>
      assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
        s"$name executed a CartesianProduct")
    }
  }

  test("rule 2: every BNLJ broadcast side is tiny (scalar / query-basket)") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    var checked = 0
    executed.foreach { case (name, nodes) =>
      nodes.collect { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
        // the broadcast side is the child that is (or wraps) a broadcast
        // exchange; read its executed row metric
        val bcRows = j.children.flatMap {
          case q: QueryStageExec => outputRows(q)
          case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
            e.metrics.get("numOutputRows").map(_.value)
          case _ => None
        }
        assert(bcRows.nonEmpty, s"$name: BNLJ with unmeasurable broadcast side")
        bcRows.foreach { r =>
          checked += 1
          assert(r <= MaxBnljBroadcastRows,
            s"$name: BNLJ broadcast side carried $r rows (> $MaxBnljBroadcastRows)")
        }
      }
    }
    assert(checked > 0, "vacuous: expected at least one BNLJ in the basket")
  }

  test("rule 3: no corpus-sized single-partition exchange (reducer funnel)") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    var checked = 0
    executed.foreach { case (name, nodes) =>
      nodes.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 => e
      }.foreach { e =>
        // a shuffle exchange's row volume is its write-side metric; fall
        // back to the child's numOutputRows where the reporter is absent
        val rows = e.metrics.get("shuffleRecordsWritten").map(_.value)
          .orElse(e.child.metrics.get("numOutputRows").map(_.value))
        rows.foreach { r =>
          checked += 1
          assert(r <= MaxSinglePartitionRows,
            s"$name: single-partition exchange carried $r rows — reducer funnel")
        }
      }
    }
    assert(checked > 0, "vacuous: expected at least one global-agg exchange")
  }

  /** The BM25-SERVE queries whose wide-query plan may legitimately
    * replace the broadcast query-terms join with the expression-resident
    * percolation index (`percolate_hits_dl`) — an even stronger form of
    * "the small side never shuffles". Only these may substitute it for
    * rule 4's BroadcastHashJoin requirement (ADVICE r13: a global
    * exemption would let an UNRELATED join in a docvec-plan query
    * regress from broadcast to shuffle unnoticed).
    */
  private val mayServeByPercolation: Set[String] =
    Set("text_bm25_served_topk", "ann_hybrid_served_rrf")

  test("rule 4: broadcast-pruned joins really broadcast") {
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    mustBroadcast.foreach { name =>
      val percolates = mayServeByPercolation.contains(name) &&
        executed(name).exists(_.expressions.exists(
          _.exists(_.isInstanceOf[graft.functions.PercolateHitsDl])))
      assert(percolates ||
        executed(name).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$name executed no BroadcastHashJoin — a prune was un-broadcast")
    }
  }

  test("rule 5: dedup_ngram_jaccard_prefix defaults to the PREFIX plan (stale-gate tripwire)") {
    // r14: the r10 df-ratio auto-gate had silently routed every fixture
    // to the direct join for two rounds after the prefix pipeline
    // improved past its calibration (interleaved sf10 cost of that
    // mis-route: 6.1x wall / 6.8x cpu — AB_r14.json). The gate and the
    // direct branch are gone; the two-stage verify's fingerprint screen
    // (sorted_inter_count) belongs to the prefix pipeline, so its
    // presence in the optimized plan IS the branch assertion. If a
    // future gate reappears, this fails until the new gate proves itself
    // at every scale the way r14 had to.
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val plan = graft.operators.Dedup.queries("dedup_ngram_jaccard_prefix")(
      spark, TestSpark.sf0001).queryExecution.optimizedPlan.toString
    assert(plan.contains("sorted_inter_count"),
      "default plan is not the prefix pipeline — the retired auto-gate grew back")
  }

  test("rule 6: no single-key window on the dedup output stages (r18, VERDICT r17 #6)") {
    // cluster_size/dup_count come from groupBy-count + equi-join back,
    // never `count over (partition by cluster_id/text_hash)`: both are
    // parallel across keys, but a window pins a mega-dup family (an
    // empty-document clique at crawl scale) to ONE task's partition,
    // while the join's skewed probe partitions split under AQE skew-join.
    // The rule reads the OPTIMIZED plan: any Window node in these
    // queries means the funnel-free output stage regressed. (Bounded
    // windows elsewhere — e.g. embedding_kmeans' target-sized clusters —
    // are documented exceptions and stay out of this list.)
    assume(TestSpark.fixturesPresent, TestSpark.fixturesHint)
    val qs = SparkEntry.queries
    Seq("dedup_components", "dedup_components_incremental",
        "dedup_components_stored", "dedup_exact").foreach { name =>
      val windows = qs(name)(spark, sf).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(windows.isEmpty,
        s"$name's plan contains a Window node — the skew-exposed output stage is back")
    }
  }
}
