package graft.operators

import org.apache.spark.sql.DataFrame

/** One materialization policy for every "compute this subplan exactly once,
  * then reuse it" site in the engine (inverted-index postings, banded
  * probes, edge pipelines, fixpoint iterations).
  *
  * The engine needs two properties from these sites: (1) the upstream plan
  * runs ONCE even with multiple downstream consumers, and (2) lineage is
  * TRUNCATED so iterative algorithms (connected-components fixpoints,
  * incremental-absorb loops) don't grow their plans without bound.
  * `localCheckpoint(eager = true)` provides both cheaply — but it pins the
  * materialized blocks to executors and is NOT fault-tolerant: on a real
  * cluster, losing one executor mid-job kills every job that reads the
  * checkpointed frame (VERDICT r9 #3). That is an acceptable trade for
  * micro-batch-sized deltas and local runs, and a bad one for long-running
  * maintained stores on preemptible fleets.
  *
  * Policy: if the session has a RELIABLE checkpoint directory configured
  * (`sparkContext.setCheckpointDir`, standard practice on clusters — an
  * HDFS/S3 path), use `checkpoint(eager = true)`: same once-and-truncate
  * semantics, storage-backed, survives executor loss. Otherwise fall back
  * to `localCheckpoint`. Cluster operators opt in to fault tolerance with
  * the one line they already know; local/test runs keep the fast path with
  * zero configuration.
  *
  * Two operational notes for the reliable flavor (self-review r10):
  *
  *   - The frame is persisted around the checkpoint: a bare reliable
  *     `checkpoint(eager = true)` runs the plan TWICE (once for the eager
  *     count, once in the separate checkpoint-write job). The transient
  *     persist makes the write job read the cached result instead, and is
  *     released immediately after.
  *   - Reliable checkpoint files are deleted by the ContextCleaner only
  *     when `spark.cleaner.referenceTracking.cleanCheckpoints=true` (off
  *     by default, settable only at context creation). The ITERATIVE
  *     loops (connected-components fixpoint, incremental absorb) handle
  *     this themselves: each round calls [[drop]] on the frames the new
  *     round supersedes, so a long fixpoint holds O(1) checkpoints on
  *     disk instead of O(iterations × labels) (ADVICE r11). One-shot
  *     materializations still rely on the conf / a dir sweep.
  */
private[graft] object Materialize {

  /** Observability probes for specs: how many reliable checkpoints were
    * written / had their files freed in this JVM. The MaterializeSpec
    * file-presence check became vacuous once loops started cleaning up
    * after themselves — these count the events instead.
    */
  private[graft] val reliableWrites = new java.util.concurrent.atomic.AtomicLong
  private[graft] val reliableDrops = new java.util.concurrent.atomic.AtomicLong

  /** Free the checkpointed state behind `df`, for frames a loop has
    * PROVABLY finished with (every consumer already materialized — after
    * this the frame must NEVER be read again; a later read of either
    * flavor fails, since the checkpoint cannot recompute). Reliable
    * flavor: deletes the checkpoint files. localCheckpoint flavor (r15):
    * eagerly unpersists the blocks — waiting on the ContextCleaner's
    * GC-driven sweep let dead blocks accumulate GBs across a basket run
    * and OOM a later query's sort spike under the default heap.
    */
  def drop(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile match {
          case Some(path) =>
            val p = new org.apache.hadoop.fs.Path(path)
            try {
              val fs =
                p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              if (fs.delete(p, true)) reliableDrops.incrementAndGet()
            } catch {
              // best-effort: a failed delete leaves garbage, never kills the job
              case e: java.io.IOException =>
                System.err.println(s"[materialize] checkpoint cleanup failed for $path: $e")
            }
          case None =>
            // localCheckpoint flavor: the blocks ARE the data (lineage
            // truncated), and without an explicit unpersist they linger
            // until a DRIVER GC lets the ContextCleaner sweep them — in a
            // basket run that lag accumulated ~GBs of dead blocks and
            // OOM'd a later query's 16-way sort spike (r15, observed at
            // sf10 under the default 8 GiB heap: a query that succeeds
            // first-in-JVM died at basket position 10). drop()'s contract
            // is "never computed again", so freeing the blocks eagerly is
            // exactly right; the RDD must simply never be read again —
            // which is the same promise the reliable flavor's file delete
            // already extracts from callers.
            l.rdd.unpersist(blocking = false)
        }
      case _ => ()
    }
  /** Spread a BARE SCAN to the session's parallelism when the input has
    * fewer splits than cores. For operators whose per-row projection work
    * dominates (md5-per-gram fingerprinting, per-token model scoring),
    * a single small parquet file — the local fixture shape — otherwise
    * serializes the whole stage behind one task. At real scale the input
    * has ≥ parallelism splits and the guard makes this a no-op, so the
    * shuffle is never paid where it wouldn't help. ONLY for frames that
    * are a bare scan: `.rdd` on a frame with upstream stages would
    * materialize them once here and again downstream (Writers.scala
    * repartition caveat).
    */
  /** Per-task input quantum for [[spreadScan]]'s width (bytes, from the
    * scan's size estimate). Measured r20 on the fixture (width sweep,
    * warm runs): per-task cost has a real fixed component — the
    * bypass-merge shuffle writer opens `spark.sql.shuffle.partitions`
    * files per MAP task, so spread CPU grows ~linearly with width
    * (dedup_simhash_pairs 4.1 cpu-s at width 4 → 9.5 at 32; ngram
    * jaccard 4.9 → 13.7) while wall is flat past ~8 tasks on the 1.5 MB
    * fixture. Deriving width from input size keeps the md5-heavy
    * projections parallel where they matter and stops a KB-sized scan
    * from paying a 32-way fan-out's file-machinery tax. At real scale
    * the input has ≥ parallelism splits and spreadScan is a no-op, so
    * the quantum only ever shapes small inputs.
    */
  private val SpreadQuantumBytes = 192L * 1024

  /** `workFactor` scales the size-derived width for projections whose
    * per-byte cost is far above a plain scan's (md5-per-gram passes do
    * ~300 digests per input KB: measured r20, dedup_substring wall
    * 1.43 s at width 4 vs 1.00 at 16 on the sf0.1 fixture). Factor 1 =
    * plain tokenize/hash-per-row work.
    */
  def spreadScan(df: DataFrame, workFactor: Int = 1): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes * workFactor
    val width = ((bytes + SpreadQuantumBytes - 1) / SpreadQuantumBytes).min(BigInt(par)).max(BigInt(1)).toInt
    // width 1 can never beat the input's own split count — short-circuit
    // before the df.rdd call (VERDICT r20 #6: driver-side RDD
    // instantiation per spreadScan call is planning-cost-only but adds up
    // across a 154-query Verify at fixture scale, where width 1 is the
    // common case)
    if (width <= 1) df
    else if (df.rdd.getNumPartitions < width) df.repartition(width)
    else df
  }

  def once(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // Only manage the persist lifecycle if the CALLER hasn't: persist on
      // an already-persisted frame is a no-op warning (the level can't
      // change), and the finally-unpersist would silently evict the
      // caller's cache out from under them (self-review r10).
      val ourPersist =
        df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
      if (ourPersist)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val out = df.checkpoint(eager = true)
        reliableWrites.incrementAndGet()
        out
      } finally if (ourPersist) df.unpersist(blocking = false)
    } else
      df.localCheckpoint(eager = true)
}
