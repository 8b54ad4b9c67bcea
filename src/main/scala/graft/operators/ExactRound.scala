package graft.operators

/** Exact cross-engine rounding for SMALL-INTEGER RATIONALS (r19).
  *
  * Found at sf0.1 (ORACLE_SF01_r19.json): columns of the form
  * `round(int/int, 4)` land on TRUE decimal half-way ties (…5 at the
  * 5th decimal) with positive probability, and there the engines
  * structurally disagree — Spark's Round goes through
  * `BigDecimal.valueOf` (shortest decimal repr of the double, ties
  * round UP), DuckDB multiplies in double space (the nearest double
  * sits a hair below the tie and rounds DOWN). Value columns drift by
  * 1e-4; worse, a rounded value used in a FILTER (the jaccard
  * thresholds) flips ROW MEMBERSHIP between engines.
  *
  * For a non-negative rational num/den the half-up round at the 4th
  * decimal is exactly
  *
  *   q4 = floor((10^4·num + den/2) / den) = (2·10^4·num + den) div (2·den)
  *
  * — pure BIGINT arithmetic both engines compute bit-identically
  * (`div` truncates toward zero ≡ floor for non-negatives; DuckDB's
  * `//` floors). The *Int forms return q4 itself (the value ×10⁴) so
  * threshold filters compare INTEGERS: `round4(j) ≥ 0.8` ⇔
  * `q4 ≥ 8000`, tie-free by construction.
  *
  * Scope: only ratios whose numerator and denominator are integers in
  * the plan. Irrational-valued rounds (cosines, logs, tf·idf) keep
  * plain round — their ties are measure-zero.
  */
private[operators] object ExactRound {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{call_function, lit}

  /** round-half-up(num/den, 4) ×10⁴ as a BIGINT Column: `div`
    * (IntegralDivide) over DECIMAL(38,0) operands.
    *
    * r20 (ADVICE r19): the previous form computed the quotient as
    * `(a − a mod b)/b` in IEEE doubles, exact only while
    * a = 2·10⁴·num + den < 2^53 ≈ 9e15. text_unigram/bigram_logprob
    * pass num = −sum_q in 1e-6-quantized log units (~2e7 per token),
    * so a ≈ 4e11·n_tokens crosses 2^53 near ~20–30k-token docs — there
    * the double quotient can land one ulp below q4 and the long cast
    * truncates to q4−1 while DuckDB's pure-BIGINT `//` stays exact,
    * reintroducing the cross-engine flip this module exists to kill.
    * DECIMAL(38,0) arithmetic is exact to 38 digits (the operands are
    * per-doc counts ≤ ~1e16 ≪ 10^38), and IntegralDivide over decimals
    * is exact integer division — no float anywhere in the path.
    * Non-negative operands only (div truncates toward zero ≡ floor).
    */
  def round4Int(num: Column, den: Column): Column = {
    val a = lit(20000L) * num.cast("decimal(38,0)") + den.cast("decimal(38,0)")
    val b = lit(2L) * den.cast("decimal(38,0)")
    call_function("div", a, b)
  }

  /** round-half-up(num/den, 4) as a DOUBLE Column — the value every
    * `round(int/int, 4)` output column now carries (k/10⁴ divides
    * exactly to the same double on both engines).
    */
  def round4(num: Column, den: Column): Column =
    round4Int(num, den) / lit(10000.0)

  /** Scale-6 twins, for the 6-decimal contract columns (mixture p).
    * Same DECIMAL(38,0)+div shape as [[round4Int]] (r20). */
  def round6(num: Column, den: Column): Column = {
    val a = lit(2000000L) * num.cast("decimal(38,0)") + den.cast("decimal(38,0)")
    val b = lit(2L) * den.cast("decimal(38,0)")
    call_function("div", a, b) / lit(1000000.0)
  }

  def duck6(num: String, den: String): String =
    s"(((2000000 * (($num)::BIGINT) + (($den)::BIGINT)) // (2 * (($den)::BIGINT))) / 1000000::DOUBLE)"

  // NOT converted — and since r20 MEASURED, not just argued
  // (graft.TieProbe → TIEPROBE_r20.json; VERDICT r19 #1): rounds whose
  // numerator is a quantized-irrational double (mixture weight = p^0.3/z,
  // mixture upsample = round6-weight / p, upsample/sample rates) measure
  // a minimum pre-round distance-to-half-boundary of 4.1e-3 across
  // sf0.001..sf10 — six orders of magnitude above the ~1e-9 cross-libm
  // double-jitter envelope. The hybrid-RRF sums are stronger still:
  // their input domain is FINITE (ranks ≤ FuseDepth, denominators
  // 61..80 for any corpus size), exhaustively enumerated — min distance
  // 2.26e-3, pinned by TieProbeSpec. Revisit only if a constant changes
  // the domain (the spec freezes the enumeration's answer).

  /** DuckDB twins (`//` is integer floor division): the rounded value as
    * DOUBLE, and ×10⁴ as BIGINT.
    */
  def duck4(num: String, den: String): String =
    s"(${duck4Int(num, den)}) / 10000::DOUBLE"

  def duck4Int(num: String, den: String): String =
    s"((20000 * (($num)::BIGINT) + (($den)::BIGINT)) // (2 * (($den)::BIGINT)))"
}
