package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** Second wave of analytics coverage: exact percentiles, JSON extraction,
  * the SQL-entry surface (`spark.sql` over registered views — the
  * reference's latent sql-client, SURVEY.md §2 X1), and the batch (lag)
  * formulation of CEP-style strict-contiguity sequence detection
  * (SURVEY.md §2 X2 — the reference ships flink-cep as an unused jar; here
  * it is a real operator).
  */
object AnalyticsExt {

  /** Register every testdata table as a temp view so the SQL surface can
    * query by name (events via the nanos-normalized loader).
    */
  def registerTables(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables(spark, sfDir, t).createOrReplaceTempView(t))
    Tables.eventsNormalized(spark, sfDir).createOrReplaceTempView("events")
  }

  /** Dialect-common SQL (runs verbatim on Spark AND DuckDB). */
  private val SqlPriorityRevenue =
    """SELECT o_orderpriority, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  private val SqlNationCustomers =
    """SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** Correlated scalar subquery — Catalyst decorrelates it into an
    * aggregate + join (RewriteCorrelatedScalarSubquery); DuckDB plans the
    * same shape natively.
    */
  private val SqlScalarSubquery =
    """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders o
      |WHERE o_totalprice > 2 * (SELECT avg(o2.o_totalprice) FROM orders o2
      |                          WHERE o2.o_custkey = o.o_custkey)
      |GROUP BY o_orderpriority""".stripMargin

  /** IN-subquery → left-semi join after RewritePredicateSubquery. */
  private val SqlInSubquery =
    """SELECT p_brand, count(*) AS n
      |FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
      |GROUP BY p_brand""".stripMargin

  /** dense_rank / ntile / lead in one pass over a single window sort. */
  private val SqlWindowFuncs =
    """SELECT o_orderkey, o_custkey,
      |  CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS dr,
      |  CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS nt,
      |  round(lead(o_totalprice, 1, 0.0) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey), 2) AS next_price
      |FROM orders WHERE o_custkey % 100 = 0""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_percentiles" -> ((s, d) => {
      Tables.eventsNormalized(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))
    }),
    "q_json_extract" -> ((s, d) => {
      Tables.eventsNormalized(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"),
          min("k").as("min_k"), max("k").as("max_k"))
    }),
    "q_sql_priority_revenue" -> ((s, d) => {
      registerTables(s, d)
      s.sql(SqlPriorityRevenue)
    }),
    "q_sql_nation_customers" -> ((s, d) => {
      registerTables(s, d)
      s.sql(SqlNationCustomers)
    }),
    "q_scalar_subquery" -> ((s, d) => {
      registerTables(s, d)
      s.sql(SqlScalarSubquery)
    }),
    "q_in_subquery" -> ((s, d) => {
      registerTables(s, d)
      s.sql(SqlInSubquery)
    }),
    "q_window_funcs" -> ((s, d) => {
      registerTables(s, d)
      s.sql(SqlWindowFuncs)
    }),
    "q_asof_signup" -> ((s, d) => {
      // as-of join shape: for every purchase, the most recent prior signup
      // time for the same user (last-value-ignore-nulls over event time) —
      // composed from built-in windows per §7.3 preference (a).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.eventsNormalized(s, d)
        .withColumn("last_signup_ms",
          last(when(col("event_type") === "signup", col("ts_ms")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" && col("last_signup_ms").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts_ms"),
          col("last_signup_ms"),
          (col("ts_ms") - col("last_signup_ms")).as("ms_since_signup"))
    }),
    "q_cross_join" -> ((s, d) => {
      // deliberate cartesian of two tiny dims — the dense-grid pattern
      // (one row per (region, priority) cell, including cells no order
      // fills). Spark broadcasts one side (BroadcastNestedLoopJoin), so
      // the "shuffle" cost is zero; a cartesian of FACT tables is the
      // shape this operator exists to make conspicuous in review.
      val pri = Tables.orders(s, d).select("o_orderpriority").distinct()
      Tables.region(s, d).select("r_name").crossJoin(pri)
    }),
    "q_full_outer_join" -> ((s, d) => {
      // the one join type not yet on the registered surface: positive-
      // balance customers FULL OUTER all orders, so BOTH sides carry
      // unmatched rows (orders of excluded customers / customers with no
      // orders). Shuffles both sides on the key once - plain SMJ at any
      // scale; the per-segment rollup shows match classes explicitly.
      val c = Tables.customer(s, d).filter(col("c_acctbal") > 0)
      c.join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "full_outer")
        .agg(
          sum(when(col("c_custkey").isNotNull && col("o_orderkey").isNotNull, 1)
            .otherwise(0)).cast("long").as("n_matched"),
          sum(when(col("o_orderkey").isNull, 1).otherwise(0)).cast("long")
            .as("n_cust_only"),
          sum(when(col("c_custkey").isNull, 1).otherwise(0)).cast("long")
            .as("n_order_only"))
    }),
    "q_stats_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_extendedprice"), col("l_quantity")), 4).as("corr_pq"),
          round(covar_samp(col("l_extendedprice"), col("l_discount")), 4).as("cov_pd"))
    }),
    "q_collect_sorted" -> ((s, d) => {
      Tables.part(s, d)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          concat_ws(",", sort_array(collect_set(substring(col("p_type"), 1, 5)))).as("type_prefixes"))
    }),
    "cep_signup_purchase" -> ((s, d) => {
      // strict-contiguity [signup, purchase] within 1 h per user — the
      // lag-window batch dual of the streaming pattern machine.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
      Tables.eventsNormalized(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
        .filter(col("event_type") === "purchase" && col("prev_type") === "signup" &&
          col("ts_ms") - col("prev_ms") <= 3600000L)
        .select(col("user_id"), col("prev_ms").as("start_ms"),
          col("ts_ms").as("end_ms"),
          (col("ts_ms") - col("prev_ms")).as("gap_ms"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_percentiles" ->
      """SELECT event_type, count(*) AS n,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    "q_json_extract" ->
      """SELECT (json_extract_string(props, '$.k')::INT) % 10 AS k_bucket,
        |  count(*) AS n, round(avg(value), 4) AS avg_value,
        |  min(json_extract_string(props, '$.k')::INT) AS min_k,
        |  max(json_extract_string(props, '$.k')::INT) AS max_k
        |FROM events GROUP BY 1""".stripMargin,
    "q_sql_priority_revenue" -> SqlPriorityRevenue,
    "q_sql_nation_customers" -> SqlNationCustomers,
    "q_scalar_subquery" -> SqlScalarSubquery,
    "q_in_subquery" -> SqlInSubquery,
    "q_window_funcs" -> SqlWindowFuncs,
    "q_cross_join" ->
      """SELECT r_name, o_orderpriority
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)""".stripMargin,
    "q_full_outer_join" ->
      """WITH c AS (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
        |SELECT
        |  sum(CASE WHEN c_custkey IS NOT NULL AND o_orderkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT n_matched,
        |  sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT n_cust_only,
        |  sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT n_order_only
        |FROM c FULL OUTER JOIN orders ON c_custkey = o_custkey""".stripMargin,
    "q_asof_signup" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) ms, event_type, value FROM events),
        |w AS (SELECT *,
        |  last_value(CASE WHEN event_type = 'signup' THEN ms END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ms, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) last_signup_ms
        |FROM e)
        |SELECT user_id, event_id, ms AS ts_ms, last_signup_ms,
        |  ms - last_signup_ms AS ms_since_signup
        |FROM w WHERE event_type = 'purchase' AND last_signup_ms IS NOT NULL""".stripMargin,
    "q_stats_agg" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_extendedprice, l_quantity), 4) AS corr_pq,
        |  round(covar_samp(l_extendedprice, l_discount), 4) AS cov_pd
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_collect_sorted" ->
      """SELECT p_brand, count(*) AS n,
        |  string_agg(DISTINCT substr(p_type, 1, 5), ',' ORDER BY substr(p_type, 1, 5)) AS type_prefixes
        |FROM part GROUP BY p_brand""".stripMargin,
    "cep_signup_purchase" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) ms, event_type FROM events),
        |w AS (SELECT *,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) prev_type,
        |  lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) prev_ms
        |FROM e)
        |SELECT user_id, prev_ms AS start_ms, ms AS end_ms, ms - prev_ms AS gap_ms
        |FROM w
        |WHERE event_type = 'purchase' AND prev_type = 'signup' AND ms - prev_ms <= 3600000""".stripMargin
  )
}
