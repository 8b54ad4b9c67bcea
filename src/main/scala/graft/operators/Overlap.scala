package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.PortableHash
import graft.sources.Tables

/** Cross-source corpus overlap: how much shingle-level content do two
  * ingest sources share? The question behind source-level dedup
  * prioritization ("is src7 just a mirror of src3?"), crawl-frontier
  * pruning, and license/provenance triage — asked pairwise across ALL
  * sources, which is exactly where per-document pair joins stop scaling
  * and per-SOURCE sketches take over (Broder's resemblance estimation,
  * the original MinHash application: AltaVista's pairwise document
  * resemblance at corpus scale).
  *
  * Three queries:
  *
  *  - `corpus_overlap_minhash`: a [[NumHashes]]-permutation MinHash
  *    signature PER SOURCE over its distinct hashed shingles; pairwise
  *    Jaccard estimate = matching-coordinate fraction. The signature is
  *    64 longs per source, built with plain min() aggregates (map-side
  *    combined), and MERGEABLE — min is associative, so per-partition /
  *    per-day signatures union by element-wise min without rescanning
  *    anything. At thousands of sources this is the only path that runs.
  *  - `corpus_overlap_exact`: exact pairwise Jaccard on the hashed
  *    shingle universe via a self-join on shingle hash. Feasible here
  *    because per-hash fanout is bounded by the SOURCE count (≤ 20
  *    rows/hash ⇒ ≤ S² pairs/hash), NOT by document frequency — this is
  *    the ground truth harness, O(universe · S²).
  *  - `corpus_overlap_eval`: grades the estimate against the truth
  *    (mean/max absolute error in basis points) — the same
  *    estimator-accountability shape as dedup_eval_minhash.
  *
  * == Determinism ==
  *
  * Both estimate and truth are defined on the md5-hashed shingle
  * universe (collisions affect both identically); the affine family
  * `(a_i·h + b_i) mod p`, p = 2^31−1, reuses the module's plan-time
  * coefficient idiom (overflow-free in both engines). Every output is
  * an exact integer — Jaccards are reported in integer BASIS POINTS
  * (`x·10000 div y`), so no division rounding seam exists.
  */
object Overlap {

  val NumHashes = 64
  private val P = 2147483647L
  private val hashA: IndexedSeq[Long] =
    (0 until NumHashes).map(i => 1L + PortableHash.md5Int8(s"ova:$i") % (P - 1))
  private val hashB: IndexedSeq[Long] =
    (0 until NumHashes).map(i => PortableHash.md5Int8(s"ovb:$i") % P)

  /** Distinct (source, shingle-hash) from ANY (source, text) frame —
    * the shared universe of estimate and truth.
    */
  private def shingleHashes(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("sh", expr("word_shingles(text)"))
      .filter(col("sh").isNotNull)
      .select(col("source"), explode(col("sh")).as("sg"))
      // native portable-hash prefix (r21) — bit-identical to the
      // conv(substring(md5)) chain, which stays the oracle form
      .withColumn("h", expr(s"md5_prefix8(sg) % $P"))
      .select("source", "h").distinct()
  }

  /** The corpus universe, materialized once; feeds sizes, the exact
    * intersection, and the signature build.
    */
  private def srcHashes(s: SparkSession, d: String): DataFrame =
    // spread the batch leaf (r20): the shingle+md5 universe pass and the
    // checkpointed frame's downstream joins otherwise serialize on the
    // single fixture split. Spread HERE, not in shingleHashes — the
    // streamed maintainer feeds shingleHashes micro-batch frames, which
    // are not bare scans (spreadScan's contract).
    shingleHashes(Materialize.spreadScan(Tables.documents(s, d)))
      .transform(Materialize.once)

  /** All source pairs (source_a < source_b) with set sizes — the full
    * pair domain, so zero-overlap pairs still appear in every output.
    */
  private def pairDomain(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    sizes.select(col("source").as("source_a"), col("n").as("n_a"))
      .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")),
        col("source_a") < col("source_b"))
  }

  private def exact(sh: DataFrame): DataFrame = {
    val inter = sh.select(col("source").as("source_a"), col("h"))
      .join(sh.select(col("source").as("source_b"), col("h")), "h")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("ni"))
    pairDomain(sh)
      .join(broadcast(inter), Seq("source_a", "source_b"), "left")
      .withColumn("n_inter", coalesce(col("ni"), lit(0L)))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_inter"), col("n_union"),
        expr("n_inter * 10000 div n_union").as("jaccard_bp"))
  }

  /** (source, i, v) long-format signatures from a (source, h) universe:
    * [[NumHashes]] plain min() aggregates (map-side combined), then a
    * posexplode of the tiny per-source array. This long format IS the
    * streamed store's schema — signatures are a join-semilattice under
    * element-wise min, so stored and batch forms merge exactly.
    */
  private def sigLong(sh: DataFrame): DataFrame = {
    val aggs = (0 until NumHashes).map(i =>
      min(expr(s"(${hashA(i)} * h + ${hashB(i)}) % $P")).as(s"m$i"))
    sh.groupBy("source").agg(aggs.head, aggs.tail: _*)
      .select(col("source"),
        posexplode(array((0 until NumHashes).map(i => col(s"m$i")): _*)))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "v")
  }

  /** Pairwise Jaccard estimates from long-format signatures (stored or
    * freshly built): full pair domain over the sources present, so
    * zero-overlap pairs still appear.
    */
  private def estimateFromSigl(sigl: DataFrame): DataFrame = {
    val matches = sigl.select(col("source").as("source_a"), col("i"), col("v"))
      .join(sigl.select(col("source").as("source_b"), col("i"), col("v")),
        Seq("i", "v"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("nm"))
    val srcs = sigl.select("source").distinct()
    srcs.select(col("source").as("source_a"))
      .join(srcs.select(col("source").as("source_b")),
        col("source_a") < col("source_b"))
      .join(broadcast(matches), Seq("source_a", "source_b"), "left")
      .withColumn("n_match", coalesce(col("nm"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("n_match"),
        lit(NumHashes.toLong).as("n_hashes"),
        expr(s"n_match * 10000 div $NumHashes").as("jaccard_est_bp"))
  }

  private def sketch(sh: DataFrame): DataFrame =
    estimateFromSigl(sigLong(sh))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_overlap_exact" -> ((s, d) => exact(srcHashes(s, d))),
    "corpus_overlap_minhash" -> ((s, d) => sketch(srcHashes(s, d))),
    "corpus_overlap_eval" -> ((s, d) => {
      // ONE shared universe pass: truth and estimate both read the same
      // checkpointed (source, h) frame — the dominant corpus stage runs
      // once, not once per leg (self-review r11)
      val sh = srcHashes(s, d)
      exact(sh).select("source_a", "source_b", "jaccard_bp")
        .join(sketch(sh).select("source_a", "source_b", "jaccard_est_bp"),
          Seq("source_a", "source_b"))
        .withColumn("abs_err", abs(col("jaccard_est_bp") - col("jaccard_bp")))
        .agg(count(lit(1)).as("n_pairs"),
          sum("abs_err").as("sum_abs_err_bp"),
          max("abs_err").as("max_abs_err_bp"))
        .select(col("n_pairs"), col("sum_abs_err_bp"), col("max_abs_err_bp"),
          expr("sum_abs_err_bp div n_pairs").as("mean_abs_err_bp"))
    })
  )

  private val baseCte = {
    val mins = (0 until NumHashes)
      .map(i => s"min((${hashA(i)} * h + ${hashB(i)}) % $P)")
      .mkString(", ")
    s"""t AS (SELECT source, string_split(text, ' ') ws FROM documents),
       |idx AS (SELECT source, ws, unnest(range(1, len(ws) - 1)) i FROM t
       |        WHERE len(ws) >= 3),
       |shx AS (SELECT DISTINCT source,
       |          ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 8))::BIGINT % $P h
       |        FROM idx),
       |sizes AS (SELECT source, count(*)::BIGINT n FROM shx GROUP BY 1),
       |dom AS (SELECT a.source source_a, b.source source_b, a.n n_a, b.n n_b
       |        FROM sizes a JOIN sizes b ON a.source < b.source),
       |inter AS (SELECT a.source source_a, b.source source_b, count(*)::BIGINT ni
       |          FROM shx a JOIN shx b ON a.h = b.h AND a.source < b.source
       |          GROUP BY 1, 2),
       |ex AS (SELECT source_a, source_b, n_a, n_b,
       |         coalesce(ni, 0)::BIGINT n_inter,
       |         (n_a + n_b - coalesce(ni, 0))::BIGINT n_union,
       |         (coalesce(ni, 0) * 10000 // (n_a + n_b - coalesce(ni, 0)))::BIGINT jaccard_bp
       |       FROM dom LEFT JOIN inter USING (source_a, source_b)),
       |sigs AS (SELECT source, [$mins] sig FROM shx GROUP BY source),
       |sigl AS (SELECT source, i, sig[i::INT + 1] v FROM sigs, unnest(range(0, $NumHashes)) t(i)),
       |mtch AS (SELECT a.source source_a, b.source source_b, count(*)::BIGINT nm
       |         FROM sigl a JOIN sigl b ON a.i = b.i AND a.v = b.v AND a.source < b.source
       |         GROUP BY 1, 2),
       |sk AS (SELECT source_a, source_b,
       |         coalesce(nm, 0)::BIGINT n_match, $NumHashes::BIGINT n_hashes,
       |         (coalesce(nm, 0) * 10000 // $NumHashes)::BIGINT jaccard_est_bp
       |       FROM dom LEFT JOIN mtch USING (source_a, source_b))""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "corpus_overlap_exact" ->
      s"""WITH $baseCte
         |SELECT source_a, source_b, n_a, n_b, n_inter, n_union, jaccard_bp FROM ex""".stripMargin,
    "corpus_overlap_minhash" ->
      s"""WITH $baseCte
         |SELECT source_a, source_b, n_match, n_hashes, jaccard_est_bp FROM sk""".stripMargin,
    "corpus_overlap_eval" ->
      s"""WITH $baseCte
         |SELECT count(*)::BIGINT n_pairs,
         |  sum(abs(jaccard_est_bp - jaccard_bp))::BIGINT sum_abs_err_bp,
         |  max(abs(jaccard_est_bp - jaccard_bp))::BIGINT max_abs_err_bp,
         |  (sum(abs(jaccard_est_bp - jaccard_bp)) // count(*))::BIGINT mean_abs_err_bp
         |FROM ex JOIN sk USING (source_a, source_b)""".stripMargin
  )
}
