package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, SaveMode, SparkSession}

import graft.sources.{Datasets, Tables}

/** Storage-layout operators: co-located (bucketed) joins — the 100 TB
  * answer to "this join shuffles both fact tables every night". Writing
  * `orders` and `lineitem` bucketed INTO THE SAME bucket count ON the join
  * key moves the shuffle to write time, once; every subsequent join of the
  * two tables is exchange-free (each task zips bucket i with bucket i),
  * which BucketingSpec asserts on the executed plan of the registered
  * query itself.
  *
  * The bucketed copies are external tables under java.io.tmpdir (content
  * keyed by dataset dir, like operators/AnnIndexIO); first use per JVM
  * pays the one-time bucketed write — the modeled "nightly table build".
  * The query result is layout-independent, so the DuckDB oracle is the
  * plain join+aggregate.
  */
object Layout {

  private[graft] val Buckets = 8
  private[graft] val SortedFiles = 8

  /** Bump on any change to a copy's layout. */
  private val FormatVersion = 1

  private def copyRoot(s: SparkSession, family: String, d: String,
      tables: String*): String =
    Datasets.storeRoot(s, family, "", d, FormatVersion, tables)

  /** Create (once per JVM+dataset) the bucketed external copies of orders
    * and lineitem, both CLUSTERED BY their orderkey INTO [[Buckets]]
    * buckets, and return the two table names.
    */
  private[graft] def ensureBucketed(s: SparkSession, d: String): (String, String) =
    synchronized {
      val base = new java.io.File(copyRoot(s, "graft_bucketed", d, "orders", "lineitem"))
      val ordT = s"graft_ord_b${base.getName}"
      val liT = s"graft_li_b${base.getName}"
      if (!s.catalog.tableExists(ordT))
        Tables.orders(s, d).write
          .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
          .option("path", new java.io.File(base, "orders").toString)
          .mode(SaveMode.Overwrite).format("parquet").saveAsTable(ordT)
      if (!s.catalog.tableExists(liT))
        Tables.lineitem(s, d).write
          .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
          .option("path", new java.io.File(base, "lineitem").toString)
          .mode(SaveMode.Overwrite).format("parquet").saveAsTable(liT)
      (ordT, liT)
    }

  /** Create (once per JVM+dataset) a range-clustered copy of lineitem:
    * `repartitionByRange(l_shipdate)` + `sortWithinPartitions`, so every
    * output file (and row group inside it) covers a narrow, disjoint
    * shipdate span. Parquet footers then carry tight min/max statistics
    * for the clustering column and a time-range scan skips every file
    * outside the range — the zone-map lever: at 100 TB, clustering the
    * nightly build on the dominant filter column turns "scan the table"
    * into "scan range/total of it". SortedLayoutSpec proves skippability
    * from the footers themselves (≤2 of the row groups intersect the
    * registered query's 3-month window) and result-equality vs the
    * unclustered table.
    */
  private[graft] def ensureSorted(s: SparkSession, d: String): String =
    synchronized {
      val dir = copyRoot(s, "graft_sorted", d, "lineitem")
      if (!new java.io.File(dir, "_SUCCESS").exists())
        Tables.lineitem(s, d)
          .repartitionByRange(SortedFiles, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate")
          .write.mode(SaveMode.Overwrite).parquet(dir)
      dir
    }

  private[graft] val ZFiles = 16

  /** Spread a 16-bit value's bits to the even positions of a 32-bit word
    * (the classic morton-code magic-number cascade) — pure Column
    * arithmetic, codegen-friendly, no UDF.
    */
  private def spreadBits(c: Column): Column = {
    val a = c.cast("long").bitwiseOR(shiftleft(c.cast("long"), 8))
      .bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val e = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (morton) interleave of two columns, each first normalized to
    * a 16-bit bucket by linear min/max scaling (`lo`/`hi` are driver-side
    * scalars from one O(1)-output aggregate — at 100 TB you'd compute them
    * from table statistics). Points close in BOTH dimensions get close
    * z-values, so range-partitioning by z-value clusters row groups in
    * two dimensions at once.
    */
  private def zvalue(x: Column, xLo: Double, xHi: Double,
      y: Column, yLo: Double, yHi: Double): Column = {
    def bucket(c: Column, lo: Double, hi: Double): Column =
      least(lit(65535), greatest(lit(0),
        floor((c.cast("double") - lit(lo)) * 65535.0 /
          lit(math.max(hi - lo, 1e-9))))).cast("long")
    spreadBits(bucket(x, xLo, xHi))
      .bitwiseOR(shiftleft(spreadBits(bucket(y, yLo, yHi)), 1))
  }

  /** Create (once per JVM+dataset) a Z-ORDERED copy of lineitem, clustered
    * on the interleaved bits of (l_partkey, l_shipdate). Unlike
    * [[ensureSorted]] (perfect pruning on ONE column, none on any other),
    * the z-layout prunes on EITHER column: a range on one dimension
    * touches ~sqrt-fraction of the row groups instead of all of them —
    * the standard layout for fact tables with two hot filter columns.
    * ZorderLayoutSpec quantifies both claims from the parquet footers.
    */
  private[graft] def ensureZordered(s: SparkSession, d: String): String =
    synchronized {
      val dir = copyRoot(s, "graft_zorder", d, "lineitem")
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        val li = Tables.lineitem(s, d)
        val r = li.agg(
          min("l_partkey"), max("l_partkey"),
          min(unix_micros(col("l_shipdate").cast("timestamp"))),
          max(unix_micros(col("l_shipdate").cast("timestamp")))).head()
        val z = zvalue(
          col("l_partkey"), r.getLong(0).toDouble, r.getLong(1).toDouble,
          unix_micros(col("l_shipdate").cast("timestamp")),
          r.getLong(2).toDouble, r.getLong(3).toDouble)
        li.withColumn("_z", z)
          .repartitionByRange(ZFiles, col("_z"))
          .sortWithinPartitions("_z")
          .drop("_z")
          .write.mode(SaveMode.Overwrite).parquet(dir)
      }
      dir
    }

  def queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "q_bucketed_join" -> ((s, d) => {
      // the co-located join: merge hint pins SortMergeJoin so the bucketed
      // layout (not a broadcast) is what makes it exchange-free — at real
      // scale neither side broadcasts anyway
      val (ordT, liT) = ensureBucketed(s, d)
      s.table(ordT).hint("merge")
        .join(s.table(liT), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
    }),

    "q_sorted_layout_prune" -> ((s, d) => {
      // a selective time-range scan against the range-clustered copy;
      // the result is layout-independent (oracle = plain lineitem), the
      // POINT is that the sorted layout answers it from ~1 of 8 files
      Tables.parquet(s, ensureSorted(s, d))
        .filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-09-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
    }),

    "q_zorder_prune" -> ((s, d) => {
      // two-dimensional selective scan against the z-ordered copy; either
      // predicate alone already prunes row groups (ZorderLayoutSpec)
      Tables.parquet(s, ensureZordered(s, d))
        .filter(col("l_partkey") >= 40 && col("l_partkey") <= 90 &&
          col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("qty"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) n,
        |  round(sum(l_extendedprice), 2) revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_sorted_layout_prune" ->
      """SELECT l_returnflag, count(*) n,
        |  round(sum(l_extendedprice), 2) revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01'
        |  AND l_shipdate < TIMESTAMP '1995-09-01'
        |GROUP BY l_returnflag""".stripMargin,
    "q_zorder_prune" ->
      """SELECT l_linestatus, count(*) n, round(sum(l_quantity), 2) qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 40 AND 90
        |  AND l_shipdate >= TIMESTAMP '1994-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus""".stripMargin
  )
}
