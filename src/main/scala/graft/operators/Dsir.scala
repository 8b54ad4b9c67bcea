package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Datasets, Tables}

/** Data Selection via Importance Resampling (DSIR — Xie et al. 2023,
  * arXiv:2302.03169): select raw-corpus documents that look like a small
  * curated TARGET corpus, by importance weights over hashed n-gram
  * features. The published recipe, specialized to hashed unigrams:
  *
  *  1. hash every token occurrence into one of [[Buckets]] feature
  *     buckets (bag-of-hashed-ngrams);
  *  2. fit two smoothed multinomials over buckets — p_target from the
  *     curated docs, p_raw from the candidate pool;
  *  3. each candidate doc's log importance weight is
  *     Σ_tokens log(p_target[b(tok)] / p_raw[b(tok)]);
  *  4. resample via Gumbel top-k: rank by log-weight + Gumbel noise and
  *     keep the top [[SampleK]] — equivalent to sampling without
  *     replacement with probability ∝ the importance weight.
  *
  * The fixture's `source` column plays the curated/raw split
  * ([[TargetSources]] ≈ "the Wikipedia-quality sources"); everything
  * else is the candidate pool, mirroring DSIR's
  * select-web-data-to-match-Wikipedia headline experiment.
  *
  * == Determinism ==
  *
  * Per-bucket log-ratios quantize to 1e-6 longs ONCE in the model frame,
  * so per-doc sums are integer sums (order-independent, the module
  * idiom); the Gumbel noise is a pure hash of the doc id
  * (u = (md5-prefix + 0.5) / 2^32 ∈ (0,1), g = −ln(−ln u)), quantized to
  * a 1e-6 long before the addition, so the final ranking compares longs
  * with a doc_id tie-break — bit-stable across engines and partition
  * orders.
  *
  * == 100 TB shape ==
  *
  *  - The model is TWO [[Buckets]]-row aggregates built in ONE pass over
  *    the token stream (conditional sums on the target flag); the full
  *    bucket domain comes from `range(Buckets)` so add-one smoothing
  *    covers never-seen buckets identically in both engines.
  *  - Scoring joins the exploded token stream against the BROADCAST
  *    model (256 rows — never a shuffle side), then aggregates per doc:
  *    map-side partial aggregation means the one shuffle carries
  *    O(docs) partial sums, not O(tokens) occurrences.
  *  - The Gumbel top-k is a global sort-limit (TakeOrderedAndProject:
  *    per-partition top-k, driver merges K rows) — no full sort at any
  *    scale.
  */
object Dsir {

  /** Feature-space size. DSIR uses 10k buckets for web-scale vocab; the
    * fixture vocabulary is ~2k words, so 256 keeps buckets comfortably
    * multi-token (the hashing trick's collision-robustness argument)
    * while the model frame stays trivially broadcastable at ANY corpus
    * size — the bucket count is the model size, independent of data.
    */
  val Buckets = 256

  /** The curated "target" sources; the remaining sources are the raw
    * candidate pool being selected from.
    */
  val TargetSources: Seq[String] = Seq("src1", "src2")

  val SampleK = 100

  private val targetsSql = TargetSources.map(s => s"'$s'").mkString(", ")
  private def isTarget = col("source").isin(TargetSources: _*)

  /** SQL fragment hashing a token column into its feature bucket. */
  private def bucketSql(tok: String): String =
    // native portable-hash prefix (r21) — bit-identical to
    // cast(conv(substring(md5(x),1,8),16,10) as bigint), which stays the
    // oracle form; consumers must have GraftFunctions.register'd their
    // session (occ below does)
    s"md5_prefix8($tok) % $Buckets"

  /** 1e-6-quantized Gumbel noise from doc_id
    * (u = (md5-prefix + 0.5)/2^32 ∈ (0,1)).
    */
  private val gumbelSql: String =
    "cast(round(-ln(-ln((md5_prefix8(concat('dsir:', " +
      "cast(doc_id as string))) + 0.5) " +
      "/ 4294967296.0)) * 1e6) as bigint)"

  /** (doc_id, is_target, bucket) per token OCCURRENCE. */
  private def occ(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), isTarget.as("is_target"),
        explode(split(col("text"), " ")).as("token"))
      .withColumn("bucket", expr(bucketSql("token")))
  }

  /** The fitted model rows (bucket, ct, cr, lam), cached per dataset-dir
    * CONTENT fingerprint (the kmeansCents idiom): the model is exactly
    * [[Buckets]] rows — a bounded collect — and it feeds both
    * dsir_logratio and the weights join, so without the cache each
    * consumer re-paid the full token-stream aggregation.
    */
  private val modelCache = new graft.JvmCache[String, Array[(Long, Long, Long, Long)]]

  private def modelRows(s: SparkSession, d: String): Array[(Long, Long, Long, Long)] =
    modelCache.getOrBuild(Datasets.key(s, d, "documents"), "dsir_model") {
      val counts = occ(s, d).groupBy("bucket").agg(
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("is_target"), 0L).otherwise(1L)).as("cr"))
      val dom = s.range(Buckets).select(col("id").as("bucket"))
      val filled = dom.join(counts, Seq("bucket"), "left")
        .select(col("bucket"),
          coalesce(col("ct"), lit(0L)).as("ct"),
          coalesce(col("cr"), lit(0L)).as("cr"))
        .transform(Materialize.once) // totals branch + output share one pass
      val tot = filled.agg(sum("ct").as("t_tot"), sum("cr").as("r_tot"))
      filled.crossJoin(broadcast(tot))
        .withColumn("lam", round(
          (log((col("ct") + lit(1.0)) / (col("t_tot") + lit(Buckets.toDouble))) -
            log((col("cr") + lit(1.0)) / (col("r_tot") + lit(Buckets.toDouble))))
            * lit(1e6)).cast("long"))
        .select("bucket", "ct", "cr", "lam")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
    }

  /** Full-domain bucket model frame: target/raw occurrence counts and
    * the 1e-6-quantized smoothed log-ratio. Exactly [[Buckets]] rows,
    * served from [[modelRows]].
    */
  private def model(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    modelRows(s, d).toSeq.toDF("bucket", "ct", "cr", "lam")
  }

  /** Candidate docs scored: (doc_id, n_tokens, sum_lam, avg_logratio). */
  private def weights(s: SparkSession, d: String): DataFrame =
    occ(s, d).filter(!col("is_target"))
      .join(broadcast(model(s, d).select("bucket", "lam")), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lam").as("sum_lam"))
      .select(col("doc_id"), col("n_tokens"), col("sum_lam"),
        round(col("sum_lam") / lit(1e6) / col("n_tokens"), 4).as("avg_logratio"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dsir_logratio" -> ((s, d) => model(s, d)),
    "dsir_weights" -> ((s, d) => weights(s, d)),
    "dsir_sample" -> ((s, d) => {
      // Gumbel top-k without replacement: rank on sum_lam + quantized
      // Gumbel(doc_id); sort-limit keeps only K rows per partition in
      // flight (TakeOrderedAndProject), never a full sort
      val scored = weights(s, d)
        .withColumn("gumbel", expr(gumbelSql))
        .withColumn("score_q", col("sum_lam") + col("gumbel"))
      scored.orderBy(col("score_q").desc, col("doc_id")).limit(SampleK)
        .select(col("doc_id"), col("n_tokens"), col("sum_lam"),
          col("score_q"))
    })
  )

  private val occSql =
    s"""occ AS (
       |  SELECT doc_id, source IN ($targetsSql) is_target,
       |    ('0x' || substr(md5(token), 1, 8))::BIGINT % $Buckets bucket
       |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) token
       |        FROM documents)),
       |counts AS (
       |  SELECT bucket,
       |    sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT ct,
       |    sum(CASE WHEN is_target THEN 0 ELSE 1 END)::BIGINT cr
       |  FROM occ GROUP BY 1),
       |dom AS (SELECT unnest(range($Buckets)) bucket),
       |filled AS (
       |  SELECT dom.bucket, coalesce(ct, 0)::BIGINT ct, coalesce(cr, 0)::BIGINT cr
       |  FROM dom LEFT JOIN counts ON counts.bucket = dom.bucket),
       |tot AS (SELECT sum(ct)::BIGINT t_tot, sum(cr)::BIGINT r_tot FROM filled),
       |model AS (
       |  SELECT bucket, ct, cr, CAST(round(
       |    (ln((ct + 1.0) / (t_tot + $Buckets.0)) -
       |     ln((cr + 1.0) / (r_tot + $Buckets.0))) * 1e6) AS BIGINT) lam
       |  FROM filled CROSS JOIN tot),
       |w AS (
       |  SELECT doc_id, count(*)::BIGINT n_tokens, sum(lam)::BIGINT sum_lam
       |  FROM occ JOIN model USING (bucket)
       |  WHERE NOT is_target GROUP BY 1)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "dsir_logratio" ->
      s"""WITH $occSql
         |SELECT bucket, ct, cr, lam FROM model""".stripMargin,
    "dsir_weights" ->
      s"""WITH $occSql
         |SELECT doc_id, n_tokens, sum_lam,
         |  round(sum_lam / 1e6 / n_tokens, 4) avg_logratio
         |FROM w""".stripMargin,
    "dsir_sample" ->
      s"""WITH $occSql
         |SELECT doc_id, n_tokens, sum_lam, score_q FROM (
         |  SELECT *, sum_lam + CAST(round(-ln(-ln(
         |      (('0x' || substr(md5('dsir:' || doc_id::VARCHAR), 1, 8))::BIGINT + 0.5)
         |      / 4294967296.0)) * 1e6) AS BIGINT) score_q
         |  FROM w)
         |ORDER BY score_q DESC, doc_id LIMIT $SampleK""".stripMargin
  )
}
