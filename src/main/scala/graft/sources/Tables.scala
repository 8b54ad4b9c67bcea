package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's parquet testdata (TESTDATA.md). One parquet file
  * per table under `$sfDir/<name>.parquet`; schemas in FIXTURES.md §B.
  *
  * Every plain parquet read in the engine goes through [[parquet]], which
  * infers a file version's schema once. The scan is the V1
  * `FileSourceScanExec` (`FileScan parquet … InMemoryFileIndex`) with filter
  * pushdown and column pruning — the 100 TB path is the same code with a
  * bigger directory.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, path(sfDir, name))

  private[graft] def path(sfDir: String, name: String): String =
    s"$sfDir/$name.parquet"

  /** The parquet file or directory at `path` (a literal path, not a glob).
    *
    * A plain `spark.read.parquet(path)` runs a one-task Spark job to infer
    * the schema on every call, even for a single file
    * (`ParquetUtils.inferSchema` goes through `mergeSchemasInParallel`).
    * This reader infers once per file version and afterwards reads with
    * `spark.read.schema(cached).parquet(path)`: the same relation, scan and
    * `ReadSchema`, without the job. The key is the path, its listing
    * [[fingerprint]] (a rewrite in place has new part names or lengths, so
    * it misses and is inferred again) and every session conf that steers
    * parquet schema inference — [[eventsNormalized]] sets `nanosAsLong`
    * before it reads, and the two settings infer different types.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    parquetVia(schemas, spark, path)

  private[graft] type SchemaKey = (String, String, Map[String, String])

  private val schemas = new graft.JvmCache[SchemaKey, StructType]

  /** [[parquet]] through the given schema cache. */
  private[graft] def parquetVia(cache: graft.JvmCache[SchemaKey, StructType],
      spark: SparkSession, path: String): DataFrame = {
    val key = (path, fingerprint(spark, path), inferenceConfs(spark))
    cache.get(key) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        cache.put(key, df.schema)
        df
    }
  }

  private val InferencePrefixes = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.")

  private def inferenceConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) => InferencePrefixes.exists(k.startsWith) }

  /** `events.ts` has shipped under two physical parquet types across fixture
    * generations: TIMESTAMP(NANOS) (which vanilla Spark refuses — readable
    * only as a nanos long via the legacy conf) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (which Spark reads natively as TIMESTAMP_NTZ).
    * Branch on the dtype the scan actually produces so either generation
    * normalizes to the same surface: `ts_ms` = epoch millis (long), `ts` =
    * TIMESTAMP_NTZ micros. DuckDB oracles use `epoch_ms(ts)`, which handles
    * µs natively, so the oracle side is generation-independent too.
    */
  def eventsNormalized(spark: SparkSession, sfDir: String): DataFrame = {
    // Harmless for µs data (the conf only affects NANOS columns), required
    // for the ns generation — set before schema inference either way.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = apply(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // Legacy nanos-as-long read: truncate ns → ms / µs. Session TZ is
        // pinned UTC so the NTZ interpretation matches DuckDB's cast.
        raw
          .withColumn("ts_ms", expr("ts DIV 1000000"))
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz"))
      case _ =>
        // Native TIMESTAMP_NTZ (or LTZ) micros. unix_millis needs LTZ; the
        // NTZ→LTZ cast is identity under the UTC-pinned session TZ.
        raw
          .withColumn("ts_ms", unix_millis(col("ts").cast("timestamp")))
          .withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  /** Cheap content fingerprint of a parquet path's backing files (name,
    * length, mtime per part file — no data read). [[parquet]]'s schema
    * cache and the per-dir model caches
    * ([[graft.operators.Similarity]]'s trained index/centroids/counts,
    * [[graft.operators.Dedup]]'s plan-stats scalars, the BmStore root) key
    * on it instead of the bare path, so a dataset REWRITTEN IN PLACE
    * (long-running JVM serving a refreshed corpus, tests reusing a temp
    * path) naturally misses the cache and rebuilds. Listing a handful of
    * part files is microseconds; the caches still bound real work to once
    * per content version.
    *
    * The listing goes through Hadoop FS with the caller's session's
    * configuration, so an HDFS/S3 dataset root resolves its own scheme (a
    * local-File probe never sees those files, and the fingerprint would
    * collapse to the constant "absent" hash).
    */
  private[graft] def fingerprint(spark: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName).toSeq.flatMap(walk)
      else Seq(st)
    val parts =
      if (fs.exists(root))
        walk(fs.getFileStatus(root))
          .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      else Seq("absent")
    Integer.toHexString(scala.util.hashing.MurmurHash3.orderedHash(parts))
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
