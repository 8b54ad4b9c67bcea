package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.RollingHash
import graft.sources.Tables

/** Text-analysis operators over the `documents` table (north_star):
  * token counting (whitespace + BPE-ish regex), quality scoring,
  * stopword-heuristic language ID, and document fingerprinting via the
  * custom codegen'd [[graft.functions.RollingHash]] expression.
  *
  * All scalar column work — one pass over the scan, fully
  * codegen-friendly, trivially 100 TB-parallel. Oracles share the exact
  * arithmetic (rounding at output boundaries only).
  */
object TextOps {

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic.
    * Priority tiebreak order: en > es > de > fr.
    */
  private val stops = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "une", "et", "est")
  )

  private def inList(vs: Seq[String]): String = vs.map(v => s"'$v'").mkString(", ")

  private def hitExpr(vs: Seq[String]): String =
    s"cast(size(filter(ws, w -> w IN (${inList(vs)}))) as int)"

  private def hitSql(vs: Seq[String]): String =
    s"CAST(len(list_filter(ws, w -> w IN (${inList(vs)}))) AS INT)"

  /** BPE-ish tokenizer: runs of letters, runs of digits, or single
    * non-alnum non-space symbols.
    */
  private val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Adds `ws`, `n_words`, `n_distinct`, `stop_hits`, `quality_score` to
    * any frame with a `text` column — the shared quality gate used by the
    * batch `text_quality` query and [[TrainingPipeline]]. Pure scalar
    * column work.
    */
  def withQuality(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")).cast("int"))
      .withColumn("n_distinct", size(array_distinct(col("ws"))).cast("int"))
      .withColumn("stop_hits", expr(hitExpr(stops.flatMap(_._2))))
      .withColumn("quality_score", expr(qualityScoreExpr))

  /** quality_score in EXACT integer arithmetic (r19). The float form
    * `round(0.4·min(1,n/100) + 0.3·(1−stop/n) + 0.3·distinct/n, 4)` hit
    * true decimal HALF-WAY ties (the inputs are small-integer rationals,
    * so sums ending in …5 at the 5th decimal are structural): Spark's
    * Round goes through BigDecimal.valueOf (shortest decimal repr → ties
    * round UP), DuckDB multiplies in double space (the nearest double
    * sits a hair BELOW the tie → rounds DOWN) — 7 of 5000 sf0.1 docs
    * split between the engines, invisible at the sf0.01 oracle scale.
    * The score is the rational num/den with
    *   num = 10·n·min(100,n) + 750·(n − stop + distinct),  den = 2500·n
    * and round-half-up at the 4th decimal is
    *   ((20000·num + den) div (2·den)) / 10000
    * — pure BIGINT ops both engines compute bit-identically (num ≤ 2.5e9
    * at a 10⁶-word doc; ×20000 ≤ 5e13, far inside BIGINT). Mirrors the
    * repo's quantize-to-integers discipline for every cross-engine float.
    */
  private def qualityScoreNum(n: String) =
    s"(10 * $n * least(100, $n) + 750 * ($n - cast(stop_hits as bigint) + cast(n_distinct as bigint)))"

  private[operators] val qualityScoreExpr: String = {
    val n = "cast(n_words as bigint)"
    // divide by a DOUBLE, not the 10000.0 decimal literal — bigint/decimal
    // yields DECIMAL and breaks every Double-typed consumer
    s"((20000 * ${qualityScoreNum(n)} + 2500 * $n) div (5000 * $n)) / cast(10000 as double)"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokens" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("ws")).cast("int").as("n_ws_tokens"),
          expr(s"cast(size(regexp_extract_all(text, '$BpePattern', 0)) as int)").as("n_bpe_tokens"),
          length(col("text")).cast("int").as("n_chars_measured")
        )
    }),
    "text_bpe_tokens" -> ((s, d) => {
      // True byte-pair-merge subword counts via the codegen'd
      // [[graft.functions.BpeTokenCount]] expression (fixed public merge
      // table, per-rule replace-to-fixpoint) — the token accounting a
      // training-data pipeline packs against, vs text_tokens' regex
      // approximation. The oracle twin is GENERATED from the same merge
      // table (BpeMerges.duckdbMergeCtes), so the two engines apply
      // the identical rule sequence.
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_words"),
        expr("bpe_token_count(text)").as("n_bpe_tokens"))
    }),
    "text_quality" -> ((s, d) => {
      withQuality(Tables.documents(s, d))
        .withColumn("avg_word_len", ExactRound.round4(
          expr("aggregate(ws, cast(0 as bigint), (a, w) -> a + length(w))"),
          col("n_words")))
        .withColumn("stopword_ratio", ExactRound.round4(col("stop_hits"), col("n_words")))
        .withColumn("distinct_ratio", ExactRound.round4(col("n_distinct"), col("n_words")))
        .select("doc_id", "n_words", "avg_word_len", "stopword_ratio",
          "distinct_ratio", "quality_score")
    }),
    "text_lang_id" -> ((s, d) => {
      val withHits = stops.foldLeft(
        Tables.documents(s, d).withColumn("ws", split(col("text"), " "))
      ) { case (df, (lang, vs)) => df.withColumn(s"${lang}_hits", expr(hitExpr(vs))) }
      withHits
        .withColumn("pred_lang",
          when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits") &&
            col("en_hits") >= col("fr_hits"), "en")
            .when(col("es_hits") >= col("de_hits") && col("es_hits") >= col("fr_hits"), "es")
            .when(col("de_hits") >= col("fr_hits"), "de")
            .otherwise("fr"))
        .withColumn("is_correct", col("pred_lang") === col("lang"))
        .select("doc_id", "lang", "en_hits", "es_hits", "de_hits", "fr_hits",
          "pred_lang", "is_correct")
    }),
    "text_lang_id_eval" -> ((s, d) =>
      // confusion matrix of the stop-word lang-ID heuristic vs the
      // corpus ground-truth label — the accuracy-accountability grader
      // (same pattern as ann_recall / dedup_eval_minhash). On THIS
      // fixture the matrix collapses to the en column (the generator
      // draws every language's text from an English-ish vocabulary, so
      // es/de/fr/zh stop words never occur) — which is precisely the
      // corpus pathology the grader exists to expose before anyone
      // trusts per-language mixtures built on pred_lang. O(langs²)
      // output from one partial aggregation.
      queries("text_lang_id")(s, d)
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))),
    "text_fingerprint" -> ((s, d) => {
      RollingHash.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"), expr("rolling_hash(text)").as("fingerprint"),
          expr("rolling_hash(substring(text, 1, 64))").as("prefix_fp"))
    }),
    "text_vocab" -> ((s, d) => {
      // vocabulary building: corpus-wide token frequencies, top 50.
      // explode + partial-aggregated count is the 100 TB shape (map-side
      // combine before the single shuffle on token); top-k is
      // TakeOrderedAndProject, no global sort.
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    }),
    "text_tfidf" -> ((s, d) => {
      // top-3 TF-IDF terms per document. tf and df are both
      // explode + partial aggregation; the corpus size N joins in as a
      // broadcast scalar (no driver collect); idf = ln((N+1)/(df+1)).
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = toks.distinct().groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token"))
      tf.join(dfreq, "token")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 4))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "token", "tf", "tfidf")
    }),
    "text_stats_by_lang" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("n_words", size(split(col("text"), " ")).cast("int"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          ExactRound.round4(sum(col("n_chars").cast("long")), count(lit(1)))
            .as("avg_chars"),
          ExactRound.round4(sum(col("n_words").cast("long")), count(lit(1)))
            .as("avg_words"),
          countDistinct(col("source")).as("n_sources"))
    }),
    "corpus_stats" -> ((s, d) => {
      // the one-row "dataset card" summary a corpus release ships with:
      // volume, language spread, token mass, mean quality, exact-dup rate.
      // Single scan + one global aggregate (partial-combined).
      TextOps.withQuality(Tables.documents(s, d))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_words").cast("long")).as("total_tokens"),
          ExactRound.round4(
            sum(round(col("quality_score") * 10000).cast("long")),
            count(lit(1)) * 10000).as("avg_quality"),
          ExactRound.round4(
            count(lit(1)) - countDistinct(md5(col("text"))), count(lit(1)))
            .as("exact_dup_rate"))
    }),
    "text_repetition" -> ((s, d) => {
      // repetition/boilerplate signal: duplicate-token mass and the share
      // of the single most common token. explode + two-level partial
      // aggregation (map-side combined) — the 100 TB shape; no per-doc
      // collections ever materialize.
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum("c").as("n_words"),
          count(lit(1)).as("n_distinct"),
          max("c").as("top_count"))
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          ExactRound.round4(col("n_words") - col("n_distinct"), col("n_words"))
            .as("dup_ratio"),
          ExactRound.round4(col("top_count"), col("n_words")).as("top_share"))
    }),
    "text_distinct_shingles_by_lang" -> ((s, d) => {
      // the KMV sketch in its real deployment shape: GROUPED approximate
      // distinct (per-language shingle cardinality — the dataset-card
      // "unique n-grams" number) with map-side partial aggregation and
      // ≤ k longs per (group, partial) shuffled. Exact twin alongside
      // for the error column; both oracle-checked (per-group ORDER BY
      // hash LIMIT k in DuckDB).
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, d)
        .withColumn("sh", expr("word_shingles(text)"))
        .filter(col("sh").isNotNull)
        .select(col("lang"), explode(col("sh")).as("s"))
        .groupBy("lang")
        .agg(expr("kmv_distinct(s)").as("approx_shingles"),
          countDistinct(col("s")).as("exact_shingles"))
    }),
    "text_entropy" -> ((s, d) => {
      // Character-level Shannon entropy — the classic gibberish /
      // boilerplate quality gate (low = repeated chars, high = random
      // noise). entropy = log2(n) − (Σ cnt·log2 cnt)/n over per-doc char
      // counts: explode + two-level partial aggregation, map-side
      // combined, no per-doc collections. Per-char terms quantize to
      // 1e-6 integers BEFORE summing (same determinism trick as
      // text_unigram_logprob) so aggregation order can't drift vs the
      // oracle. Spark's split keeps a trailing '' element (Java regex
      // split semantics) that DuckDB's string_split drops — filtered.
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
        .filter(col("c") =!= "")
        .groupBy("doc_id", "c").agg(count(lit(1)).as("cnt"))
        .withColumn("q", round(col("cnt") * log2(col("cnt")) * lit(1e6)).cast("long"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_chars"), sum("q").as("sum_q"))
        .select(col("doc_id"), col("n_chars"),
          round(log2(col("n_chars")) - col("sum_q") / lit(1e6) / col("n_chars"), 4)
            .as("entropy"))
    }),
    "text_unigram_logprob" -> ((s, d) => {
      // CCNet-style unigram LM quality score: mean negative log-prob of a
      // doc's tokens under the corpus unigram distribution (high = rare/
      // noisy text, low = stereotypical). Vocab and per-doc sums are both
      // partial aggregations; the corpus total rides in as a broadcast
      // scalar. Per-token log-probs are quantized to 1e-6 BEFORE summing,
      // so each doc's sum is an integer — deterministic under any
      // aggregation order, where raw double sums would drift between
      // Spark's partial aggregation and the oracle.
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      // materialize the vocab once: the scalar-total branch would
      // otherwise rescan + re-explode the whole corpus (no cross-branch
      // exchange reuse), and the vocab is bounded by distinct tokens
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        .transform(Materialize.once)
      val total = vocab.agg(sum("cnt").as("total"))
      toks.join(vocab, "token")
        .crossJoin(broadcast(total))
        .withColumn("q", round(log(col("cnt") / col("total")) * lit(1e6)).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("q").as("sum_q"))
        .select(col("doc_id"), col("n_tokens"), col("sum_q"),
          ExactRound.round4(-col("sum_q"), lit(1000000L) * col("n_tokens"))
            .as("avg_neg_logprob"))
    }),
    "text_bigram_logprob" -> ((s, d) => {
      // Interpolated bigram LM quality score — the KenLM-shaped upgrade
      // of text_unigram_logprob (CCNet, Wenzek et al. 2020, filters on
      // exactly this statistic): mean negative log-prob of each ADJACENT
      // TOKEN PAIR under p(w2|w1) = λ·c(w1,w2)/c(w1,·) + (1−λ)·c(w2)/total,
      // λ = 0.8. Low = stereotypical word order, high = shuffled/noisy
      // text — repetition and gibberish that unigram mass cannot see.
      //
      // Shapes for 100 TB:
      //  - bigrams come from zip_with over the already-split array (one
      //    scan, no posexplode self-join and no doc_id window shuffle);
      //  - occurrences collapse to per-doc (w1,w2) COUNTS before any
      //    join, so the model lookups join the compressed frame;
      //  - the three model frames (bigram counts, left-context counts,
      //    unigram counts) are vocab-bounded aggregates; context counts
      //    RE-AGGREGATE bigram counts (no second corpus pass), and the
      //    model joins pre-combine vocab-sized frames so the big
      //    per-doc stream shuffles ONCE on (w1,w2);
      //  - per-bigram logs quantize to 1e-6 longs before summation
      //    (weighted by the occurrence count), the module-wide
      //    determinism idiom.
      val docs = Tables.documents(s, d)
      graft.functions.GraftFunctions.register(s)
      // Native bigram stream (r21): the previous zip_with/named_struct
      // projection was interpreted higher-order eval per ELEMENT (never
      // codegen). word_bigrams emits all adjacent pairs as 'w1 w2'
      // strings in one loop per doc — a BIJECTIVE tuple encoding (split
      // fields cannot contain the joiner), so grouping by the string is
      // grouping by the pair and every count below is identical. The
      // corpus stream now groups and joins on ONE string key; w1/w2 are
      // recovered by splitting the VOCAB-sized model frame, never the
      // corpus stream. Null (< 2 words) drops at the explode exactly as
      // the old size(ws) >= 2 filter did. Spread the scan: the fixture
      // is a single parquet split (no-op at real scale, see spreadScan).
      val bgOcc = Materialize.spreadScan(docs)
        .select(col("doc_id"), explode(expr("word_bigrams(text)")).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .transform(Materialize.once) // feeds the model aggregates AND the scoring join
      val bcnt = bgOcc.groupBy("bg").agg(sum("c").as("cb"))
        .withColumn("w1", element_at(split(col("bg"), " ", 2), 1))
        .withColumn("w2", element_at(split(col("bg"), " ", 2), 2))
      val ccnt = bcnt.groupBy("w1").agg(sum("cb").as("cc"))
      val ucnt = docs
        .select(explode(split(col("text"), " ")).as("w2"))
        .groupBy("w2").agg(count(lit(1)).as("cu"))
        .transform(Materialize.once)
      val total = ucnt.agg(sum("cu").as("total"))
      val model = bcnt.join(ccnt, "w1").join(ucnt, "w2")
        .crossJoin(broadcast(total))
        .withColumn("q", round(log(
          lit(0.8) * col("cb") / col("cc") +
            lit(0.2) * col("cu") / col("total")) * lit(1e6)).cast("long"))
        .select("bg", "q")
      bgOcc.join(model, Seq("bg"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), sum(col("c") * col("q")).as("sum_q"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_q"),
          ExactRound.round4(-col("sum_q"), lit(1000000L) * col("n_bigrams"))
            .as("avg_neg_logprob"))
    }),
    "text_pii_scrub" -> ((s, d) => {
      // PII detect + redact. The corpus is synthetic word-salad with no
      // real PII, so the query plants deterministic doc_id-derived
      // emails/phones/IPs first — the detection regexes then have known
      // ground truth while staying honestly exercised (counts vary per
      // doc). Single scan, scalar regex work, zero shuffle.
      Tables.documents(s, d)
        .withColumn("pii_text", concat(
          col("text"),
          expr("repeat(concat(' user', cast(doc_id as string), '@mail.example'), cast(doc_id % 3 as int))"),
          expr("repeat(concat(' 555-', lpad(cast(doc_id % 10000 as string), 4, '0')), cast(doc_id % 2 as int))"),
          concat(lit(" 10."), (col("doc_id") % 256).cast("string"), lit(".0.1"))))
        .select(col("doc_id"),
          size(regexp_extract_all(col("pii_text"), lit(EmailPat), lit(0))).cast("int").as("n_emails"),
          size(regexp_extract_all(col("pii_text"), lit(PhonePat), lit(0))).cast("int").as("n_phones"),
          size(regexp_extract_all(col("pii_text"), lit(IpPat), lit(0))).cast("int").as("n_ips"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("pii_text"), lit(EmailPat), lit("<EMAIL>")),
              lit(PhonePat), lit("<PHONE>")),
            lit(IpPat), lit("<IP>")).as("scrubbed"))
    })
  )

  /** PII patterns restricted to syntax both Java regex and RE2 (DuckDB)
    * interpret identically — no lookarounds, no backrefs.
    */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "\\b555-[0-9]{4}\\b"
  private val IpPat = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  private[operators] val wsCte = "t AS (SELECT *, string_split(text, ' ') ws FROM documents)"

  /** `q AS (…)` — per-doc quality_score over the `t` CTE, identical to the
    * text_quality oracle's expression, for composition by other modules'
    * oracles ([[TrainingPipeline]]).
    */
  /** The DuckDB twin of [[qualityScoreExpr]] — the same exact-integer
    * num/den + half-up (`//` is DuckDB's integer division), so the two
    * engines agree bit-for-bit even at true decimal ties.
    */
  private def qualitySql: String = {
    val n = "len(ws)::BIGINT"
    val num = s"(10 * $n * least(100, $n) + 750 * ($n - (${hitSql(stops.flatMap(_._2))})::BIGINT + len(list_distinct(ws))::BIGINT))"
    s"((20000 * $num + 2500 * $n) // (5000 * $n)) / 10000::DOUBLE"
  }

  private[operators] val qualityCte: String =
    s"""q AS (SELECT doc_id,
       |  $qualitySql quality_score
       |  FROM t)""".stripMargin

  private val rollSql = (c: String) =>
    s"""list_reduce(list_prepend(0::BIGINT,
       |  list_transform(range(1, length($c) + 1), i -> ascii(substr($c, i, 1))::BIGINT)),
       |  (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "text_tokens" ->
      s"""WITH $wsCte
         |SELECT doc_id, CAST(len(ws) AS INT) n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '$BpePattern')) AS INT) n_bpe_tokens,
         |  CAST(length(text) AS INT) n_chars_measured
         |FROM t""".stripMargin,
    "text_bpe_tokens" -> {
      val (mergeCtes, last) = graft.functions.BpeMerges.duckdbMergeCtes("sp")
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents),
         |sp AS (SELECT doc_id, ' ' || regexp_replace(w, '(.)', '\\1 ', 'gs') s FROM w),
         |$mergeCtes,
         |c AS (SELECT doc_id, length(s) - length(replace(s, ' ', '')) - 1 n FROM $last)
         |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) n_words,
         |  CAST(sum(c.n) AS BIGINT) n_bpe_tokens
         |FROM documents d JOIN c ON c.doc_id = d.doc_id
         |GROUP BY d.doc_id, d.text""".stripMargin
    },
    "text_quality" ->
      s"""WITH $wsCte
         |SELECT doc_id, CAST(len(ws) AS INT) n_words,
         |  ${ExactRound.duck4("list_sum(list_transform(ws, w -> length(w)::BIGINT))", "len(ws)")} avg_word_len,
         |  ${ExactRound.duck4(hitSql(stops.flatMap(_._2)), "len(ws)")} stopword_ratio,
         |  ${ExactRound.duck4("len(list_distinct(ws))", "len(ws)")} distinct_ratio,
         |  $qualitySql quality_score
         |FROM t""".stripMargin,
    "text_lang_id" -> {
      val hitCols = stops
        .map { case (l, vs) => s"${hitSql(vs)} AS ${l}_hits" }
        .mkString(",\n  ")
      s"""WITH $wsCte,
         |h AS (SELECT doc_id, lang,
         |  $hitCols
         |FROM t)
         |SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
         |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
         |       WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
         |       WHEN de_hits >= fr_hits THEN 'de'
         |       ELSE 'fr' END pred_lang,
         |  (CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
         |        WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
         |        WHEN de_hits >= fr_hits THEN 'de'
         |        ELSE 'fr' END) = lang AS is_correct
         |FROM h""".stripMargin
    },
    "text_lang_id_eval" -> {
      val hitCols = stops
        .map { case (l, vs) => s"${hitSql(vs)} AS ${l}_hits" }
        .mkString(",\n  ")
      s"""WITH $wsCte,
         |h AS (SELECT doc_id, lang,
         |  $hitCols
         |FROM t)
         |SELECT lang,
         |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
         |       WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
         |       WHEN de_hits >= fr_hits THEN 'de'
         |       ELSE 'fr' END pred_lang,
         |  count(*)::BIGINT n
         |FROM h GROUP BY 1, 2""".stripMargin
    },
    "text_fingerprint" ->
      s"""SELECT doc_id, ${rollSql("text")} AS fingerprint,
         |  ${rollSql("substr(text, 1, 64)")} AS prefix_fp
         |FROM documents""".stripMargin,
    "text_vocab" ->
      """SELECT w AS token, count(*) n
        |FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)
        |GROUP BY w ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "text_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) df FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
        |n AS (SELECT count(*) n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token, tf,
        |    round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
        |SELECT doc_id, rank, token, tf, tfidf FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) rank
        |  FROM scored) WHERE rank <= 3""".stripMargin,
    "text_stats_by_lang" ->
      s"""SELECT lang, count(*) n_docs,
         |  ${ExactRound.duck4("sum(n_chars)", "count(*)")} avg_chars,
         |  ${ExactRound.duck4("sum(len(string_split(text, ' ')))", "count(*)")} avg_words,
         |  count(DISTINCT source) n_sources
         |FROM documents GROUP BY lang""".stripMargin,
    "corpus_stats" ->
      s"""WITH $wsCte, ${qualityCte}
         |SELECT count(*) n_docs,
         |  count(DISTINCT t.lang) n_langs,
         |  count(DISTINCT t.source) n_sources,
         |  sum(len(t.ws))::BIGINT total_tokens,
         |  ${ExactRound.duck4("sum(round(q.quality_score * 10000)::BIGINT)", "10000 * count(*)")} avg_quality,
         |  ${ExactRound.duck4("count(*) - count(DISTINCT md5(t.text))", "count(*)")} exact_dup_rate
         |FROM t JOIN q USING (doc_id)""".stripMargin,
    "text_repetition" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents),
         |c AS (SELECT doc_id, w, count(*) c FROM w GROUP BY doc_id, w),
         |a AS (SELECT doc_id, sum(c)::BIGINT n_words, count(*) n_distinct, max(c) top_count
         |      FROM c GROUP BY doc_id)
         |SELECT doc_id, n_words, n_distinct,
         |  ${ExactRound.duck4("n_words - n_distinct", "n_words")} dup_ratio,
         |  ${ExactRound.duck4("top_count", "n_words")} top_share
         |FROM a""".stripMargin,
    "text_distinct_shingles_by_lang" ->
      s"""WITH ${graft.operators.Dedup.shingleCte},
         |ex AS (SELECT d.lang, unnest(s.sh) sh FROM shg s JOIN documents d USING (doc_id)),
         |h AS (SELECT DISTINCT lang, ('0x' || substr(md5(sh), 1, 8))::BIGINT hv FROM ex),
         |r AS (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) rn FROM h),
         |m AS (SELECT lang, count(*) n, max(hv) hk FROM r WHERE rn <= 256 GROUP BY lang),
         |x AS (SELECT lang, count(DISTINCT sh) exact_shingles FROM ex GROUP BY lang)
         |SELECT m.lang,
         |  CASE WHEN m.n < 256 THEN m.n
         |       ELSE CAST(round(255.0 * 4294967296.0 / m.hk) AS BIGINT) END approx_shingles,
         |  x.exact_shingles
         |FROM m JOIN x USING (lang)""".stripMargin,
    // the `c != ''` guard mirrors the Spark-side trailing-'' filter: on an
    // empty document DuckDB's string_split('','') yields [''] where Spark
    // yields nothing — both engines must drop the doc, not disagree on it
    "text_entropy" ->
      """WITH c0 AS (SELECT doc_id, unnest(string_split(text, '')) c FROM documents),
        |c AS (SELECT doc_id, c FROM c0 WHERE c != ''),
        |g AS (SELECT doc_id, c, count(*) cnt FROM c GROUP BY doc_id, c),
        |q AS (SELECT doc_id, cnt, CAST(round(cnt * log2(cnt) * 1e6) AS BIGINT) q FROM g),
        |a AS (SELECT doc_id, sum(cnt)::BIGINT n_chars, sum(q)::BIGINT sum_q FROM q GROUP BY doc_id)
        |SELECT doc_id, n_chars, round(log2(n_chars) - sum_q / 1e6 / n_chars, 4) entropy
        |FROM a""".stripMargin,
    "text_unigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) token FROM documents),
        |vocab AS (SELECT token, count(*) cnt FROM toks GROUP BY token),
        |tot AS (SELECT sum(cnt)::BIGINT total FROM vocab),
        |q AS (SELECT doc_id, CAST(round(ln(cnt / total) * 1e6) AS BIGINT) q
        |      FROM toks JOIN vocab USING (token) CROSS JOIN tot),
        |a AS (SELECT doc_id, count(*) n_tokens, sum(q)::BIGINT sum_q FROM q GROUP BY doc_id)
        |SELECT doc_id, n_tokens, sum_q,
        |  ${ExactRound.duck4("-sum_q", "1000000 * n_tokens")} avg_neg_logprob
        |FROM a""".stripMargin,
    // range(1, len) is [1, len) and DuckDB lists are 1-based inclusive,
    // so i spans exactly the bigram starts; the len >= 2 guard mirrors
    // the Spark filter (and keeps range from going empty-vs-error on
    // single-token docs — both engines simply drop them)
    "text_bigram_logprob" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |bgx AS (SELECT doc_id, ws[i] w1, ws[i + 1] w2 FROM (
        |          SELECT doc_id, ws, unnest(range(1, len(ws))) i FROM t
        |          WHERE len(ws) >= 2)),
        |bgo AS (SELECT doc_id, w1, w2, count(*) c FROM bgx GROUP BY 1, 2, 3),
        |bcnt AS (SELECT w1, w2, sum(c)::BIGINT cb FROM bgo GROUP BY 1, 2),
        |ccnt AS (SELECT w1, sum(cb)::BIGINT cc FROM bcnt GROUP BY 1),
        |ucnt AS (SELECT w2, count(*) cu FROM (
        |          SELECT unnest(string_split(text, ' ')) w2 FROM documents) GROUP BY 1),
        |tot AS (SELECT sum(cu)::BIGINT total FROM ucnt),
        |model AS (SELECT w1, w2, CAST(round(ln(
        |            0.8::DOUBLE * cb / cc + 0.2::DOUBLE * cu / total) * 1e6) AS BIGINT) q
        |          FROM bcnt JOIN ccnt USING (w1) JOIN ucnt USING (w2) CROSS JOIN tot)
        |SELECT doc_id, sum(c)::BIGINT n_bigrams, sum(c * q)::BIGINT sum_q,
        |  ${ExactRound.duck4("-sum(c * q)::BIGINT", "1000000 * (sum(c)::BIGINT)")} avg_neg_logprob
        |FROM bgo JOIN model USING (w1, w2)
        |GROUP BY doc_id""".stripMargin,
    "text_pii_scrub" -> {
      // DuckDB string literals take no escape sequences, so \b stays \b;
      // the 'g' flag matches Spark's replace-all default
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b555-[0-9]{4}\\b"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      s"""WITH p AS (SELECT doc_id,
         |  text || repeat(' user' || doc_id::VARCHAR || '@mail.example', (doc_id % 3)::INT)
         |       || repeat(' 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0'), (doc_id % 2)::INT)
         |       || ' 10.' || (doc_id % 256)::VARCHAR || '.0.1' AS pii_text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii_text, '$email')) AS INT) n_emails,
         |  CAST(len(regexp_extract_all(pii_text, '$phone')) AS INT) n_phones,
         |  CAST(len(regexp_extract_all(pii_text, '$ip')) AS INT) n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(pii_text,
         |    '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g') scrubbed
         |FROM p""".stripMargin
    }
  )
}
