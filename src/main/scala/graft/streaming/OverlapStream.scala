package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.operators.Overlap
import graft.sources.Tables

/** Stream-maintained per-source MinHash signatures for cross-source
  * overlap monitoring — the overlap family's ingest twin (SigStream :
  * dedup store :: AnnServe : ANN index :: THIS : resemblance sketches):
  * a crawl that never stops ingesting keeps "which sources mirror each
  * other" continuously queryable WITHOUT ever rescanning the corpus.
  *
  * == Why no batch-id bookkeeping ==
  *
  * Every other maintained store here needs exactly-once commit
  * machinery (SigStore's batch_id dirs, Ingest's idempotent shards).
  * Signatures do not: element-wise min is a JOIN-SEMILATTICE —
  * commutative, associative, IDEMPOTENT — so a replayed or reordered
  * micro-batch merges to the identical store by algebra
  * (min(a, min(a,b)) = min(a,b)). The OverlapStreamSpec proves both
  * stream ≡ batch signature equality and replay-invariance. This is the
  * CRDT property that makes sketch stores the easy case of streaming
  * state at 100 TB: per-day / per-partition / per-replay merges all
  * commute.
  *
  * == Per-batch cost ==
  *
  * One shingle+distinct pass over the BATCH (never the corpus), one
  * sources×[[Overlap.NumHashes]] aggregate, and a driver-side merge of
  * two model-sized tables (sources × 64 longs — kilobytes at any corpus
  * size). The store republish is a bounded overwrite; a torn write is
  * recoverable by replaying from source offsets precisely because the
  * merge is idempotent.
  */
object OverlapStream {

  /** One newly ingested document attributed to a source. */
  final case class SourceDoc(source: String, text: String)

  private def sigsPath(root: String) = s"$root/overlap_sigs.parquet"

  /** Merge one micro-batch of documents into the stored signatures.
    *
    * Publish is STAGED + renamed, never an in-place overwrite: a plain
    * `mode("overwrite")` deletes the live store before the new files
    * commit, and a driver crash in that window would lose signatures
    * merged from every PRIOR micro-batch — whose source offsets are
    * already committed in the streaming checkpoint, so restart replays
    * only the failed batch onto an empty store (ADVICE r11). With the
    * stage→delete→rename protocol a crash leaves either the old complete
    * store, or (in the delete→rename gap) the orphaned fully-merged
    * staging dir, which the next absorb adopts before reading — in every
    * interleaving the surviving store contains all committed batches,
    * and the CRDT min-merge makes re-absorbing the failed batch a no-op.
    */
  private[graft] def absorb(s: SparkSession, root: String, batch: DataFrame): Unit = {
    import s.implicits._
    val batchSigs = Overlap.sigLong(Overlap.shingleHashes(batch))
      .as[(String, Int, Long)].collect()
    if (batchSigs.isEmpty) return
    val path = sigsPath(root)
    // Hadoop FS, not java.io.File: the store root is an HDFS/S3 path on
    // a cluster, same as every other persisted store here
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + ".staged")
    // heal: a crash between the delete and the rename below leaves no
    // live store but a complete (_SUCCESS-marked) staging dir — adopt it
    if (!fs.exists(hp) &&
        fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
      require(fs.rename(tmp, hp), s"overlap store heal failed: $tmp")
    val stored: Array[(String, Int, Long)] =
      if (fs.exists(hp))
        Tables.parquet(s, path).as[(String, Int, Long)].collect()
      else Array.empty
    val merged = (stored ++ batchSigs)
      .groupBy(r => (r._1, r._2))
      .map { case ((src, i), rs) => (src, i, rs.map(_._3).min) }
      .toSeq.sortBy(r => (r._1, r._2))
    merged.toDF("source", "i", "v")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(hp, true)
    require(fs.rename(tmp, hp), s"overlap store publish failed: $hp")
  }

  /** Maintain the signature store from a document stream. */
  def maintain(docs: Dataset[SourceDoc], root: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[SourceDoc], _: Long) =>
        absorb(batch.sparkSession, root, batch.toDF())
      }
      .start()

  /** Pairwise Jaccard estimates served from the maintained store — a
    * pure sources×64-row read, no corpus access.
    */
  def estimates(s: SparkSession, root: String): DataFrame =
    Overlap.estimateFromSigl(
      Tables.parquet(s, sigsPath(root)).select(col("source"), col("i"), col("v")))
}
