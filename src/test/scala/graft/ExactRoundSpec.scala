package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the r20 exactness fix (ADVICE r19 medium): ExactRound's Column
  * form must stay bit-identical to the pure-BIGINT SQL/DuckDB twins for
  * operands PAST 2^53 — the old `(a − a mod b)/b` double quotient could
  * land one ulp low there and truncate to q4−1 while DuckDB's `//`
  * stayed exact (text_unigram/bigram_logprob cross at ~20–30k-token
  * docs, a ≈ 4e11·n_tokens).
  */
class ExactRoundSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Ground truth: half-up round of num/den at scale 10^k, ×10^k, in
    * arbitrary-precision integers.
    */
  private def refInt(num: BigInt, den: BigInt, pow10: Long): BigInt =
    (2 * pow10 * num + den) / (2 * den)

  /** The Spark SQL BIGINT twin of `round4Int` (the shape the DuckDB
    * `duck4Int` has): round-half-up(num/den, 4) ×10⁴.
    */
  private def spark4Int(num: String, den: String): String =
    s"((20000 * cast(($num) as bigint) + cast(($den) as bigint)) div (2 * cast(($den) as bigint)))"

  test("round4Int matches BigInt half-up past 2^53 (the old double-division envelope)") {
    // num ~ 2e7 quantized log-units per token: the ADVICE counterexample
    // region is n_tokens ≈ 20k–30k, i.e. a = 20000*num + den in
    // [2^53, ~1.5·2^53]. Sweep a dense band of nums straddling 2^53
    // where one-ulp-low double quotients actually occur.
    val den = 1000000L * 25000L // 25k tokens in 1e-6 units
    val base = (1L << 53) / 20000L // num where a crosses 2^53
    val nums = (-500L to 500L).map(base + _)
    val rows = nums.map(n => (n, den)).toDF("num", "den")
    val got = rows
      .select(col("num"), col("den"),
        ExactRound.round4Int(col("num"), col("den")).as("q4"))
      .collect()
    assert(got.length === nums.length)
    got.foreach { r =>
      val (n, d, q) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(BigInt(q) === refInt(BigInt(n), BigInt(d), 10000L),
        s"round4Int($n, $d)")
    }
  }

  test("round4Int survives operands past Long range (decimal(38,0) headroom)") {
    // 20000*num overflows Long for num > ~4.6e14; the decimal form must
    // keep going (the SQL twins stay BIGINT by contract with DuckDB —
    // this is Column-form headroom only).
    val num = 5000000000000000L // 5e15: 20000*num = 1e20 > 2^63
    val den = 7L
    val q = Seq((num, den)).toDF("num", "den")
      .select(ExactRound.round4Int(col("num"), col("den")))
      .as[Long].head()
    assert(BigInt(q) === refInt(BigInt(num), BigInt(den), 10000L))
  }

  test("round4Int / round6 agree with the spark SQL BIGINT twins on a small-rational sweep") {
    // The original r19 tie class: small-integer rationals landing on
    // true …5 boundaries. Column form and SQL twin must agree everywhere.
    val rows = (for {
      num <- 0L to 200L
      den <- Seq(3L, 7L, 16L, 400L, 2500L)
    } yield (num, den)).toDF("num", "den")
    val both = rows.select(
      col("num"), col("den"),
      ExactRound.round4Int(col("num"), col("den")).as("col_q4"),
      org.apache.spark.sql.functions
        .expr(spark4Int("num", "den")).as("sql_q4"),
      ExactRound.round6(col("num"), col("den")).as("col_r6"))
    both.collect().foreach { r =>
      val (n, d) = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) === r.getLong(3), s"col vs sql at ($n, $d)")
      assert(BigInt(r.getLong(2)) === refInt(BigInt(n), BigInt(d), 10000L))
      // round6 contract: the double q6/10^6 exactly (same division both
      // engines) — compare the doubles, not a lossy ×10^6 round-trip
      assert(r.getDouble(4) ===
        refInt(BigInt(n), BigInt(d), 1000000L).toLong / 1000000.0)
    }
  }

  test("half-way ties round UP on both forms (the r19 engine-disagreement point)") {
    // 1/16 = 0.0000625 → at scale 4 the true value sits exactly on the
    // …5 boundary (0.00006|25 → no; use 5th-decimal ties): 0.00005 =
    // 1/20000 → q4 must be 1 (half-up), not 0.
    val q = Seq((1L, 20000L)).toDF("num", "den")
      .select(ExactRound.round4Int(col("num"), col("den")))
      .as[Long].head()
    assert(q === 1L)
  }
}
