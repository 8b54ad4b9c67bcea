package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Output side of the training-data pipeline: write a frame as a
  * hive-partitioned parquet shard layout a downstream trainer (or this
  * engine) can prune.
  *
  * Scale shape:
  *  - `partitionBy` on low-cardinality routing columns → directory-level
  *    partition pruning on read;
  *  - `maxRecordsPerFile` caps shard size so 100 TB yields many
  *    uniformly-sized files instead of one file per (partition, task);
  *  - `repartition(partitionCols)` before the write aligns tasks with
  *    output partitions, so each directory is written by few tasks instead
  *    of every task appending a sliver to every directory (the
  *    small-files explosion);
  *  - `sortWithinPartitions` on the sort columns gives parquet row-group
  *    min/max stats that make later range predicates on those columns
  *    prunable.
  */
object Writers {

  def writeShards(df: DataFrame, outDir: String, partitionCols: Seq[String],
      sortCols: Seq[String], maxRecordsPerFile: Long = 1000000L,
      mode: SaveMode = SaveMode.Overwrite,
      options: Map[String, String] = Map.empty): Unit = {
    val routed = df
      .repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    routed.write
      .mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .options(options)
      .partitionBy(partitionCols: _*)
      .parquet(outDir)
  }

  /** Outcome of one [[mergeUpsert]] call. `updated` = delta rows whose key
    * existed in the base (replaced in place); `inserted` = delta rows with
    * new keys; `kept` = untouched base rows *within the rewritten
    * partitions* (rows in un-touched partitions are never read or counted).
    */
  final case class MergeStats(partitionsTouched: Int, updated: Long,
      inserted: Long, kept: Long)

  private val RetirePrefix = ".upsert_retire_"
  private val StageDirName = ".upsert_stage"
  private val CommitMarker = "_graft_upsert_commit"

  /** Copy-on-write MERGE (upsert) of a delta batch into a hive-partitioned
    * parquet layout, without a table format's transaction log: the
    * lakehouse maintenance primitive for slowly-changing corpora (document
    * re-crawls, label fixes, late arrivals).
    *
    * Scale shape — the whole point is what it does NOT touch:
    *  - only partitions present in the delta are read or rewritten; a
    *    1-partition delta against a 100 TB / 10k-partition base costs
    *    O(delta + touched partitions), never O(base);
    *  - the touched-partition list comes from one O(|delta|)
    *    distinct-collect (bounded by partition cardinality, not rows);
    *  - within touched partitions, survivors are found with a LEFT ANTI
    *    join on the key (broadcast when the delta is small), then
    *    survivors ∪ delta is re-sharded like [[writeShards]].
    *
    * Publish protocol (write-new → commit → swap → delete): the merged
    * rows stage under `.upsert_stage` (dot-prefixed → invisible to
    * readers), a `_graft_upsert_commit` marker lands ONLY once staging
    * is complete, then PER PARTITION the live dir renames to a retire
    * name and the staged dir renames live; retires and the stage dir are
    * deleted last. The marker is the commit
    * point: [[healUpserts]] (run on entry) rolls an interrupted merge
    * FORWARD when the marker exists (every staged partition publishes) and
    * BACK when it doesn't (stage discarded, any retires restored) — a
    * crash never leaves a half-applied merge. Concurrent readers see each
    * partition either old or new, never mixed or absent; the rename unit
    * is one partition dir.
    *
    * CONTRACT: the partition column is immutable per key. A row that
    * "moves" partitions must be modeled upstream as delete + insert —
    * otherwise its old version survives in the un-touched old partition
    * (the same contract Hive-style dynamic overwrite imposes).
    *
    * CONTRACT: the delta carries at most ONE row per key (enforced —
    * duplicate keys would silently break the layout's key-uniqueness
    * invariant and double-count in the stats) and no null partition
    * values (no hive `__HIVE_DEFAULT_PARTITION__` modeling here).
    */
  def mergeUpsert(spark: org.apache.spark.sql.SparkSession, baseDir: String,
      delta: DataFrame, keyCols: Seq[String], partitionCol: String,
      maxRecordsPerFile: Long = 1000000L,
      sortCols: Seq[String] = Seq.empty): MergeStats = {
    import org.apache.hadoop.fs.Path
    val root = new Path(baseDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no such base layout: $baseDir")
    healUpserts(spark, baseDir)

    // 1. the touched-partition list: O(|delta|) map-side distinct, output
    // bounded by partition-column cardinality
    val touchedRaw = delta.select(partitionCol).distinct().collect().map(_.get(0))
    require(!touchedRaw.contains(null),
      s"mergeUpsert: null $partitionCol in delta — null partitions are not modeled")
    val touched = touchedRaw.map(_.toString).sorted
    if (touched.isEmpty) return MergeStats(0, 0L, 0L, 0L)
    // Spark's staged writer hive-escapes partition values in dir names
    // (':', '/', '%', …) — probe the live layout with the SAME escaping or
    // special-char values would miss their live dir and drop base rows.
    val liveDirs = touched.map(v => v -> new Path(root,
      s"$partitionCol=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)}"))
    val existing = liveDirs.filter { case (_, p) => fs.exists(p) }

    // 2. read ONLY the touched live partitions; basePath keeps the
    // partition column in the frame
    val baseSlice =
      if (existing.isEmpty) spark.emptyDataFrame
      else spark.read.option("basePath", baseDir)
        .parquet(existing.map(_._2.toString): _*)

    // 3. survivors = touched-base rows whose key the delta does not carry
    val deltaKeys = delta.select(keyCols.map(col): _*).distinct()
    // one aggregation job for the key checks (separate counts would run
    // the arbitrary delta pipeline twice more per merge). countDistinct
    // drops null-keyed rows, so nulls are counted explicitly and get
    // their own diagnosis instead of a misleading "duplicate keys".
    val anyKeyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    val kc = delta.agg(count(lit(1)).as("n"),
      countDistinct(keyCols.head, keyCols.tail: _*).as("nk"),
      sum(when(anyKeyNull, 1L).otherwise(0L)).as("nulls")).head()
    require(kc.getLong(2) == 0L,
      s"mergeUpsert: ${kc.getLong(2)} delta rows carry a null key component " +
        s"(${keyCols.mkString(",")}) — null keys are not mergeable")
    require(kc.getLong(0) == kc.getLong(1),
      s"mergeUpsert: delta has duplicate keys on (${keyCols.mkString(",")}) — " +
        "one row per key required (last-writer-wins must be resolved upstream)")
    val merged =
      if (existing.isEmpty) delta
      else baseSlice.join(deltaKeys, keyCols, "left_anti").unionByName(delta)

    // one small-output pass for the stats (group by key over tagged union —
    // partial-aggregated, single scalar row out)
    val stats =
      if (existing.isEmpty)
        Array(org.apache.spark.sql.Row(0L, delta.count(), 0L))
      else baseSlice.select(keyCols.map(col): _*).withColumn("side", lit(0))
        .unionByName(delta.select(keyCols.map(col): _*).withColumn("side", lit(1)))
        .groupBy(keyCols.map(col): _*)
        .agg(max(col("side")).as("has_delta"), min(col("side")).as("has_base_only"),
          count(lit(1)).as("n"))
        .agg(
          sum(when(col("has_delta") === 1 && col("n") > 1, 1L).otherwise(0L)).as("updated"),
          sum(when(col("has_delta") === 1 && col("n") === 1, 1L).otherwise(0L)).as("inserted"),
          sum(when(col("has_delta") === 0, 1L).otherwise(0L)).as("kept"))
        .collect()

    // 4. stage the merged partitions (aligned writers, bounded files),
    // then swap each partition atomically
    val stage = new Path(root, StageDirName)
    fs.delete(stage, true)
    val routed0 = merged.repartition(col(partitionCol))
    val routed = if (sortCols.nonEmpty)
      routed0.sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
    else routed0
    routed.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(stage.toString)
    fs.create(new Path(stage, CommitMarker), true).close() // the commit point

    publishStaged(fs, root, stage)
    val r = stats.head
    MergeStats(touched.length, r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Swap every staged `col=value` dir into the live layout, then drop the
    * stage dir and all retires. Idempotent given the stage dir — exactly
    * what roll-forward recovery replays.
    */
  private def publishStaged(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      stage: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    for (st <- fs.listStatus(stage) if st.isDirectory) {
      val staged = st.getPath
      val live = new Path(root, staged.getName)
      val retire = new Path(root, s"$RetirePrefix${staged.getName}")
      if (fs.exists(live))
        require(fs.rename(live, retire), s"retire rename failed: $live")
      require(fs.rename(staged, live), s"publish rename failed: $staged")
      fs.delete(retire, true)
    }
    fs.delete(stage, true)
    for (st <- fs.listStatus(root) if st.getPath.getName.startsWith(RetirePrefix))
      fs.delete(st.getPath, true)
  }

  /** Recover an interrupted [[mergeUpsert]]. Commit marker present →
    * staging finished, the merge is committed: roll FORWARD by replaying
    * the publish loop (partitions already swapped are gone from the stage;
    * a retire left beside a published live is dropped; a retire whose
    * publish never happened still has its staged twin — the replay swaps
    * it). No marker → the merge never committed: roll BACK — discard the
    * stage, restore any retire whose live dir is missing.
    */
  def healUpserts(spark: org.apache.spark.sql.SparkSession,
      baseDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(baseDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val stage = new Path(root, StageDirName)
    if (fs.exists(stage) && fs.exists(new Path(stage, CommitMarker))) {
      publishStaged(fs, root, stage)
    } else {
      fs.delete(stage, true)
      for (st <- fs.listStatus(root) if st.getPath.getName.startsWith(RetirePrefix)) {
        val retire = st.getPath
        val live = new Path(root, retire.getName.stripPrefix(RetirePrefix))
        if (fs.exists(live)) fs.delete(retire, true)
        else require(fs.rename(retire, live), s"heal restore failed: $retire")
      }
    }
  }
}
