package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct n-word shingles of a space-separated string, as one compact JVM
  * pass. Replaces `array_distinct(transform(sequence(...), i ->
  * concat_ws(' ', ws[i], ws[i+1], ws[i+2])))` — higher-order functions are
  * interpreted (never codegen'd) in Spark and that expression tree cost
  * ~75 s first-run JIT + ~6 s warm per 260 k shingles at sf0.1; this
  * evaluator is a single monomorphic loop.
  *
  * `doGenCode` emits a call through a codegen reference object, so the
  * surrounding whole-stage-codegen span stays intact (a `CodegenFallback`
  * would split it at every call site).
  *
  * Split semantics match `split(text, ' ')` (trailing/empty tokens kept);
  * returns NULL when the text has fewer than n words (callers filter,
  * matching the DuckDB oracle's `WHERE len(ws) >= n`).
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true // null for texts with < n words
  override def prettyName: String = "word_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("word_shingles(string, n>=1)")

  def compute(input: UTF8String): ArrayData = {
    val words = input.toString.split(" ", -1)
    if (words.length < n) return null
    val seen = mutable.LinkedHashSet.empty[String]
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= words.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    new GenericArrayData(seen.toArray.map(s => UTF8String.fromString(s): Any))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("shingles")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp = $self.compute($c);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** ALL adjacent n-grams of a space-tokenized string, duplicates kept,
  * joined with ' ' — the multiplicity-preserving sibling of
  * [[WordShingles]] (whose LinkedHashSet dedup makes it unusable for
  * COUNT models). Null for texts with < n words, exactly like the
  * zip_with-over-split form it replaces (r21):
  * {{{
  *   zip_with(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1),
  *     (a, b) -> named_struct('w1', a, 'w2', b))        -- n = 2
  * }}}
  * whose lambda is interpreted per ELEMENT (higher-order functions never
  * enter whole-stage codegen — the WinnowFps lesson). The joined string
  * is a bijective encoding of the token tuple (tokens are split fields,
  * so they cannot contain the joiner), so grouping by it is grouping by
  * the tuple; consumers that need the tuple back split the VOCAB-sized
  * aggregate, never the corpus stream. Tokenization is split(' ', -1) —
  * identical to Spark's split(text, ' ') including empty fields.
  */
case class WordGrams(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true // null for texts with < n words
  override def prettyName: String = s"word_grams$n"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("word_grams(string, n>=1)")

  def compute(input: UTF8String): ArrayData = {
    // Adjacent tokens are separated by exactly ONE space, so the
    // space-joined n-gram (w_i, …, w_{i+n-1}) is EXACTLY the contiguous
    // byte span from w_i's first byte to w_{i+n-1}'s last — each gram is
    // a zero-copy slice of the input (0x20 only ever encodes ' ' in
    // UTF-8, so a byte scan finds the token boundaries exactly where
    // split(' ') does). A toString/split/StringBuilder/fromString
    // formulation measured ~2× the CPU of the zip_with form this
    // expression replaces; this one allocates nothing but the output
    // refs.
    val bytes = input.getBytes
    var spaces = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val nWords = spaces + 1
    if (nWords < n) return null
    // starts(k) = first byte of token k; ends(k) = one past its last
    val starts = new Array[Int](nWords)
    val ends = new Array[Int](nWords)
    var w = 0
    starts(0) = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = bytes.length
    val out = new Array[Any](nWords - n + 1)
    var g = 0
    while (g <= nWords - n) {
      out(g) = UTF8String.fromBytes(bytes, starts(g), ends(g + n - 1) - starts(g))
      g += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wordGrams", this, classOf[WordGrams].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("grams")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $tmp = $self.compute($c);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

/** |a ∩ b| for two SORTED, DISTINCT-element arrays via one linear merge —
  * the verification kernel of the AllPairs/prefix jaccard plan. Spark's
  * `array_intersect` builds a per-ROW hash set (then materializes the
  * intersection array just to take its size); on a candidate-verify
  * stage running tens of millions of pairs that allocation dominates the
  * whole query — measured at sf10: 212 s of a 330 s
  * dedup_ngram_jaccard_prefix run, vs a linear merge's simple
  * compare-and-advance over the ~100 combined elements. Accepts
  * array<string> (UTF8String binary order) or array<long>; the caller
  * guarantees sortedness (array_sort upstream, once per DOC — the
  * whole point is doing per-doc work per doc and per-PAIR work in O(n)
  * comparisons with zero allocation). Output equals
  * size(array_intersect(a, b)) for distinct NON-NULL-element inputs
  * regardless of which total order was used to sort, since only
  * equality counts.
  *
  * Registered as a general session function (ADVICE r13), so inputs the
  * dedup screen never produces are defined rather than crashes: NULL
  * ELEMENTS (the ArrayType signatures admit containsNull) are skipped
  * on either side. NOTE this DIFFERS from `array_intersect` when BOTH
  * sides contain null: Spark's array_intersect treats null as equal to
  * null (a shared null element appears in its result), so
  * size(array_intersect) counts it while this expression never does —
  * harmless for the dedup screen (shingles are never null) but the two
  * are not equivalent on null-bearing inputs. SORTEDNESS stays the
  * caller's precondition and is deliberately not verified per row (the
  * zero-overhead contract): unsorted input yields a deterministic
  * UNDERCOUNT (only merge-order-visible equal pairs are counted), never
  * an error or overcount.
  */
case class SortedInterCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_inter_count"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "sorted_inter_count(array<string>, array<string>) or (array<bigint>, array<bigint>)")
    }

  @transient private lazy val isString =
    left.dataType.asInstanceOf[ArrayType].elementType == StringType

  def interCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    if (isString) {
      while (i < na && j < nb) {
        if (a.isNullAt(i)) i += 1
        else if (b.isNullAt(j)) j += 1
        else {
          val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
          if (c == 0) { n += 1; i += 1; j += 1 }
          else if (c < 0) i += 1
          else j += 1
        }
      }
    } else {
      while (i < na && j < nb) {
        if (a.isNullAt(i)) i += 1
        else if (b.isNullAt(j)) j += 1
        else {
          val x = a.getLong(i)
          val y = b.getLong(j)
          if (x == y) { n += 1; i += 1; j += 1 }
          else if (x < y) i += 1
          else j += 1
        }
      }
    }
    n
  }

  override def nullSafeEval(input1: Any, input2: Any): Any =
    interCount(input1.asInstanceOf[ArrayData], input2.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("sortedInterCount", this, classOf[SortedInterCount].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.interCount($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedInterCount =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two double arrays, summed sequentially in index order —
  * exactly `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, +)` but as one
  * tight loop instead of an interpreted lambda tree (the ANN queries spend
  * most of their time here). Real `doGenCode`: the loop is inlined into
  * whole-stage codegen.
  *
  * Length-mismatched inputs return NULL: a silently truncated dot product
  * would score corrupt/mixed-dimension embedding data plausibly instead of
  * surfacing it (DuckDB's `list_dot_product` errors on mismatch).
  */
case class DotDouble(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null on length mismatch
  override def prettyName: String = "dot_double"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("dot_double(array<double>, array<double>)")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData].toDoubleArray()
    val b = r.asInstanceOf[ArrayData].toDoubleArray()
    if (a.length != b.length) return null
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val a = ctx.freshName("dotA")
      val b = ctx.freshName("dotB")
      val acc = ctx.freshName("dotAcc")
      val i = ctx.freshName("dotI")
      s"""
         |double[] $a = $l.toDoubleArray();
         |double[] $b = $r.toDoubleArray();
         |if ($a.length != $b.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $a.length; $i++) {
         |    $acc += $a[$i] * $b[$i];
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotDouble =
    copy(left = l, right = r)
}

/** 16-bit hyperplane-sign signature: bit p set iff dot(emb, planes(p)) > 0.
  * The planes are bound at plan build — constants inside one loop, zero
  * per-row md5/literal-array traffic. `doGenCode` calls through a codegen
  * reference object (keeps the whole-stage span intact; the planes matrix
  * rides along inside the referenced instance).
  */
case class HyperplaneSig(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("hyperplane_sig(array<double>)")
  }

  def sig(input: ArrayData): Long = {
    val v = input.toDoubleArray()
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val m = math.min(v.length, plane.length)
      var acc = 0.0
      var i = 0
      while (i < m) { acc += v(i) * plane(i); i += 1 }
      if (acc > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    sig(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("hyperplaneSig", this, classOf[HyperplaneSig].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.sig($c);")
  }

  // the planes array is not a child expression; exclude it from equality noise
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** 48-bit SimHash over whitespace tokens, occurrence-weighted: bit b of
  * the result is set iff Σ_tokens (±1 per bit b of md5₄₈(token)) > 0.
  * Single pass per document — replaces an explode(tokens) × explode(48
  * bits) + two-level aggregation plan (~48× row inflation and a shuffle)
  * with one loop. Exactly the recurrence the DuckDB oracle computes.
  * `doGenCode` calls through a codegen reference object (no whole-stage
  * split).
  */
case class SimHash48(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash48"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("simhash48(string)")

  def hash(input: UTF8String): Long = {
    val words = input.toString.split(" ", -1)
    val acc = new Array[Int](48)
    val cache = new java.util.HashMap[String, Long]()
    var i = 0
    while (i < words.length) {
      val w = words(i)
      var h = cache.getOrDefault(w, -1L)
      if (h == -1L) { h = PortableHash.md5Int12(w); cache.put(w, h) }
      var b = 0
      while (b < 48) {
        if (((h >> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 48) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override def nullSafeEval(input: Any): Any =
    hash(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simHash48", this, classOf[SimHash48].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.hash($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash48 =
    copy(child = newChild)
}

/** Top-k IVF cell assignment: cosine against every centroid, cells ranked
  * (cos DESC, cell_id DESC) — exactly the oracle's
  * `row_number() OVER (ORDER BY cos DESC, cell_id DESC)` — returning the
  * first k cell ids. One compact loop per row replaces an inlined
  * 8×64-double-literal expression tree whose analysis/codegen cost
  * dominated the query's wall time, and the centroid matrix rides inside
  * the referenced instance instead of the plan. Cosine arithmetic is the
  * same sequential fold as [[DotDouble]] / DuckDB `list_dot_product`, and
  * double comparison mirrors Spark's ordering (java.lang.Double.compare),
  * so results stay bit-identical to the previous formulation.
  */
case class IvfTopCells(child: Expression, cents: Array[Array[Double]], k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_cells"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("ivf_cells(array<double>), k>=1")
  }

  private lazy val norms: Array[Double] = cents.map { c =>
    var acc = 0.0
    var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    math.sqrt(acc)
  }

  def cells(input: ArrayData): ArrayData = {
    val v = input.toDoubleArray()
    var selfAcc = 0.0
    var i = 0
    while (i < v.length) { selfAcc += v(i) * v(i); i += 1 }
    val selfNorm = math.sqrt(selfAcc)
    val cos = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val m = math.min(v.length, cent.length)
      var acc = 0.0
      var j = 0
      while (j < m) { acc += v(j) * cent(j); j += 1 }
      cos(c) = acc / (selfNorm * norms(c))
      c += 1
    }
    val order = Array.range(0, cents.length).sortWith { (a, b) =>
      val cmp = java.lang.Double.compare(cos(a), cos(b))
      cmp > 0 || (cmp == 0 && a > b)
    }
    new GenericArrayData(order.take(math.min(k, order.length)).map(x => x: Any))
  }

  override def nullSafeEval(input: Any): Any =
    cells(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ivfTopCells", this, classOf[IvfTopCells].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.cells($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfTopCells =
    copy(child = newChild)
}

/** Term frequencies of a token array against a FROZEN vocabulary: emit,
  * aligned to `terms`, the number of occurrences of each vocabulary term
  * in the input array. One HashMap probe per input token — O(|ws| +
  * |vocab|) per row — replacing the percolator's per-(query, term)
  * `size(filter(ws, w -> w = t))` scans, which cost
  * Σ_q |terms_q| × |ws| equality walks per arrival in interpreted
  * higher-order eval (the winnow lesson, applied to retrieval). The
  * vocabulary rides in the expression instance like [[IvfTopCells]]'s
  * centroids: plan-size-bounded, content-addressed at registration.
  * Counts are exact integers, so any consumer's scores are bit-identical
  * to the filter-scan formulation by construction.
  */
case class StandingTf(child: Expression, terms: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "standing_tf"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if terms.nonEmpty => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("standing_tf(array<string>), nonempty vocab")
  }

  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](terms.size * 2)
    terms.zipWithIndex.foreach { case (t, i) =>
      m.put(UTF8String.fromString(t), Integer.valueOf(i))
    }
    m
  }

  def counts(input: ArrayData): ArrayData = {
    val out = new Array[Int](terms.size)
    var i = 0
    val n = input.numElements()
    while (i < n) {
      val idx = index.get(input.getUTF8String(i))
      if (idx != null) out(idx.intValue()) += 1
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    counts(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("standingTf", this, classOf[StandingTf].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.counts($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): StandingTf =
    copy(child = newChild)
}

/** Whole-percolation scoring against a FROZEN standing-query index, as
  * one expression: tokenize-counted term frequencies (the [[StandingTf]]
  * HashMap probe), then a TERM→QUERIES inverted-index walk that touches
  * only the arrival's MATCHED terms — per-row cost O(|tokens| +
  * Σ_{matched terms} |queries(term)|), independent of the standing-query
  * count Q. Exploding every standing query instead pays Σ_q |terms_q|
  * per arrival whether or not a query shares a term; at
  * prospective-search scale (thousands of standing queries) almost all of
  * that work is zero rows, and this inverted walk is the classic
  * percolator fix (Elasticsearch percolate query indexes, pub-sub IR).
  *
  * Emits array<struct<query_id, n, s>> for queries sharing ≥1 term,
  * ascending query_id; per-term contributions replicate the batch BM25
  * expression tree operation-for-operation (same IEEE order, same
  * BigDecimal HALF_UP quantization Spark's `round` applies to doubles),
  * so exploded rows are bit-identical to the batch scorer's. Its only
  * user is [[PercolateHitsDl]]; BmStoreSpec's docvec == exhaustive serve
  * pins the scoring.
  */
case class PercolateHits(child: Expression, nDocs: Long, sumDl: Long,
    terms: Seq[String], termDf: Seq[Long], termQueries: Seq[Seq[Long]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("s", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "percolate_hits"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if terms.nonEmpty &&
      terms.size == termDf.size && terms.size == termQueries.size =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "percolate_hits(array<string>), aligned nonempty term/df/query lists")
  }

  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](terms.size * 2)
    terms.zipWithIndex.foreach { case (t, i) =>
      m.put(UTF8String.fromString(t), Integer.valueOf(i))
    }
    m
  }

  /** Standing query ids, ascending — dense query index. */
  @transient private lazy val qIds: Array[Long] =
    termQueries.flatten.distinct.sorted.toArray

  @transient private lazy val qIdx: java.util.HashMap[java.lang.Long, Integer] = {
    val m = new java.util.HashMap[java.lang.Long, Integer](qIds.length * 2)
    qIds.zipWithIndex.foreach { case (q, i) => m.put(q, Integer.valueOf(i)) }
    m
  }

  @transient private lazy val termQ: Array[Array[Int]] =
    termQueries.map(_.map(q => qIdx.get(q).intValue()).toArray).toArray

  /** Per-term idf, precomputed with the batch operand order:
    * ln(1.0 + ((nDocs − df) + 0.5) / (df + 0.5)).
    */
  @transient private lazy val idf: Array[Double] =
    termDf.map(df => math.log(1.0 + ((nDocs - df) + 0.5) / (df + 0.5))).toArray

  /** Reusable per-thread scratch (tfs over the vocab, acc over the query
    * set, touched-slot lists): allocating + zeroing these per ROW would
    * be O(|vocab| + Q) work per arrival — exactly the Q-dependence this
    * expression exists to remove (self-review r12). Only the touched
    * slots are reset after each row, so steady-state per-row cost stays
    * O(|tokens| + matched pairs). ThreadLocal because a referenced
    * expression instance is shared across an executor's task threads.
    */
  private final class Scratch(nTerms: Int, nQ: Int) {
    val tfs = new Array[Int](nTerms)
    val touched = new Array[Int](nTerms)
    val accN = new Array[Int](nQ)
    val accS = new Array[Long](nQ)
    val touchedQ = new Array[Int](nQ)
  }

  @transient private lazy val scratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch(terms.size, qIds.length))

  def hits(input: ArrayData): ArrayData = hitsFor(input, input.numElements().toLong)

  /** Scoring core with an EXPLICIT document length: the unary form passes
    * the token array's length, [[PercolateHitsDl]] passes a stored dl —
    * a store-reconstructed document carries only the standing-vocabulary
    * tokens, so its array length is NOT the document's true length.
    */
  def hitsFor(input: ArrayData, dl: Long): ArrayData = {
    val sc = scratch.get()
    val tfs = sc.tfs
    val touched = sc.touched
    val accN = sc.accN
    val accS = sc.accS
    val touchedQ = sc.touchedQ
    val nTok = input.numElements()
    var nTouched = 0
    var i = 0
    while (i < nTok) {
      val ix = index.get(input.getUTF8String(i))
      if (ix != null) {
        val t = ix.intValue()
        if (tfs(t) == 0) { touched(nTouched) = t; nTouched += 1 }
        tfs(t) += 1
      }
      i += 1
    }
    // batch: lit(sumDl) / lit(nDocs) — long/long Divide = double division
    val avgdl = sumDl.toDouble / nDocs.toDouble
    var nQ = 0
    var t = 0
    while (t < nTouched) {
      val ti = touched(t)
      val tf = tfs(ti).toDouble
      // batch: tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      val tfw = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      // batch: cast(round(idf * tfw * 1e6) as long) — Spark's Round on a
      // double goes through BigDecimal(double) HALF_UP; replicate exactly
      val q = scala.math.BigDecimal(idf(ti) * tfw * 1e6)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble.toLong
      val qs = termQ(ti)
      var j = 0
      while (j < qs.length) {
        val qi = qs(j)
        if (accN(qi) == 0) { touchedQ(nQ) = qi; nQ += 1 }
        accN(qi) += 1
        accS(qi) += q
        j += 1
      }
      t += 1
    }
    // ascending dense index == ascending query_id (qIds sorted)
    val hit = java.util.Arrays.copyOf(touchedQ, nQ)
    java.util.Arrays.sort(hit)
    val out = new Array[Any](nQ)
    var k = 0
    while (k < nQ) {
      val qi = hit(k)
      out(k) = org.apache.spark.sql.catalyst.InternalRow(
        qIds(qi), accN(qi), accS(qi))
      k += 1
    }
    // touched-slot reset: O(matched), never O(vocab + Q)
    i = 0
    while (i < nTouched) { tfs(touched(i)) = 0; i += 1 }
    i = 0
    while (i < nQ) { accN(hit(i)) = 0; accS(hit(i)) = 0L; i += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    hits(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("percolateHits", this, classOf[PercolateHits].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.hits($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PercolateHits =
    copy(child = newChild)
}

/** [[PercolateHits]] with an EXPLICIT document-length operand — the form
  * the postings-store serving path uses: a document reconstructed from
  * its stored (token, tf) rows contains only standing-vocabulary tokens,
  * so the true `dl` (stored per posting at index-build time) must ride
  * in as a column, not be inferred from the array length. Scoring is the
  * shared [[PercolateHits.hitsFor]] core.
  */
case class PercolateHitsDl(tokens: Expression, dlExpr: Expression,
    nDocs: Long, sumDl: Long, terms: Seq[String], termDf: Seq[Long],
    termQueries: Seq[Seq[Long]]) extends BinaryExpression {

  override def left: Expression = tokens
  override def right: Expression = dlExpr
  override def dataType: DataType = core.dataType
  override def prettyName: String = "percolate_hits_dl"

  override def checkInputDataTypes(): TypeCheckResult =
    (tokens.dataType, dlExpr.dataType) match {
      case (ArrayType(StringType, _), LongType) if terms.nonEmpty &&
        terms.size == termDf.size && terms.size == termQueries.size =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "percolate_hits_dl(array<string>, bigint), aligned nonempty term/df/query lists")
    }

  @transient private lazy val core: PercolateHits =
    PercolateHits(tokens, nDocs, sumDl, terms, termDf, termQueries)

  def hitsFor(input: ArrayData, dl: Long): ArrayData = core.hitsFor(input, dl)

  override def nullSafeEval(input1: Any, input2: Any): Any =
    hitsFor(input1.asInstanceOf[ArrayData], input2.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("percolateHitsDl", this, classOf[PercolateHitsDl].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.hitsFor($a, $b);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PercolateHitsDl =
    copy(tokens = newLeft, dlExpr = newRight)
}

/** Product-quantization encoder: split a d-dim vector into
  * `codebooks.length` contiguous subvectors and emit, per subspace m, the
  * index of the L2-nearest codeword among `codebooks(m)` (tie → smaller
  * index). One pass per row with the codebooks riding in the expression
  * instance (same plan-size rationale as [[IvfTopCells]]); the squared-L2
  * fold is the sequential i=0..len order, so DuckDB's
  * `list_sum(list_transform(...))` reproduces the doubles bit-for-bit.
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if codebooks.nonEmpty => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("pq_encode(array<double>)")
  }

  def codes(input: ArrayData): ArrayData = {
    val v = input.toDoubleArray()
    val m = codebooks.length
    val sub = v.length / m
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      var best = 0
      var bestD = java.lang.Double.POSITIVE_INFINITY
      var k = 0
      while (k < cb.length) {
        val cw = cb(k)
        var acc = 0.0
        var i = 0
        while (i < sub && i < cw.length) {
          val diff = v(s * sub + i) - cw(i)
          acc += diff * diff
          i += 1
        }
        if (java.lang.Double.compare(acc, bestD) < 0) { bestD = acc; best = k }
        k += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    codes(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.codes($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Session registration for expr()/SQL use of the custom expressions.
  * Idempotent per session: re-invoking is a cheap no-op (round 1 registered
  * inside every query constructor and spammed the logs with
  * `replaced a previously registered function` warnings).
  */
object GraftFunctions {

  /** Register `name` only if absent. All callers use content-addressed
    * names (full md5 of the bound constants), so name-exists ⇒ the
    * registered builder is bound to identical content and re-registration
    * would be a no-op — except that `createOrReplaceTempFunction` on an
    * existing name fires a `SimpleFunctionRegistry ... replaced a
    * previously registered function` WARN per call, which in a bench run
    * re-fires per query and buries the one stdout line the driver parses
    * (VERDICT r8 "what's wrong" #2). The exists-check is what makes
    * registration quiet AND idempotent; staleness is impossible because a
    * different content hashes to a different name.
    */
  /** Register a [[StandingTf]] bound to a specific frozen vocabulary and
    * return its session function name (content-addressed md5 digest,
    * like [[registerIvf]]).
    */
  def registerStandingTf(spark: SparkSession, terms: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    terms.foreach { t =>
      md.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte) // unambiguous term framing
    }
    val name = "standing_tf_" + md.digest().map("%02x".format(_)).mkString
    registerOnce(spark, name, exprs => StandingTf(exprs.head, terms))
    name
  }

  /** Register a [[PercolateHitsDl]] (explicit-dl percolation scorer) and
    * return its content-addressed session function name.
    */
  def registerPercolateHitsDl(spark: SparkSession, nDocs: Long, sumDl: Long,
      terms: Seq[String], termDf: Seq[Long],
      termQueries: Seq[Seq[Long]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(16)
    bb.putLong(nDocs); bb.putLong(sumDl)
    md.update(bb.array())
    terms.zip(termDf).zip(termQueries).foreach { case ((t, df), qs) =>
      md.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
      val b = java.nio.ByteBuffer.allocate(8 * (qs.size + 1))
      b.putLong(df); qs.foreach(b.putLong)
      md.update(b.array())
    }
    val name = "percolate_hits_dl_" + md.digest().map("%02x".format(_)).mkString
    registerOnce(spark, name,
      exprs => PercolateHitsDl(exprs(0), exprs(1), nDocs, sumDl, terms, termDf, termQueries))
    name
  }

  private def registerOnce(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("dot_double"))) {
      RollingHash.register(spark)
      reg.createOrReplaceTempFunction(
        "word_shingles",
        exprs => WordShingles(exprs.head, 3),
        "scala_udf")
      reg.createOrReplaceTempFunction(
        "simhash48",
        exprs => SimHash48(exprs.head),
        "scala_udf")
      reg.createOrReplaceTempFunction(
        "sorted_inter_count",
        exprs => SortedInterCount(exprs(0), exprs(1)),
        "scala_udf")
      // KMV distinct sketch, k = 256 (analyzer wraps the bare
      // AggregateFunction in an AggregateExpression, as for built-ins)
      reg.createOrReplaceTempFunction(
        "kmv_distinct",
        exprs => KmvDistinct(exprs.head, 256),
        "scala_udf")
      reg.createOrReplaceTempFunction(
        "bpe_token_count",
        exprs => BpeTokenCount(exprs.head),
        "scala_udf")
      // portable-hash prefixes (r21): the two widths the engine uses —
      // 8 hex (31-ish-bit bucket hashes) and 15 hex (fingerprint screens)
      reg.createOrReplaceTempFunction(
        "word_bigrams",
        exprs => WordGrams(exprs.head, 2),
        "scala_udf")
      reg.createOrReplaceTempFunction(
        "md5_prefix8",
        exprs => Md5PrefixLong(exprs.head, 8),
        "scala_udf")
      reg.createOrReplaceTempFunction(
        "md5_prefix15",
        exprs => Md5PrefixLong(exprs.head, 15),
        "scala_udf")
      reg.createOrReplaceTempFunction(
        "md5_prefix15_array",
        exprs => Md5PrefixLongArray(exprs.head, 15),
        "scala_udf")
      // last: its presence is the "already registered" marker above
      reg.createOrReplaceTempFunction(
        "dot_double",
        exprs => DotDouble(exprs(0), exprs(1)),
        "scala_udf")
    }
  }

  /** Register an [[IvfTopCells]] bound to a specific centroid matrix and
    * return its session function name. The name carries a content hash of
    * (centroids, k), so different scale factors / trained indexes coexist
    * in one session and re-registration is an idempotent no-op.
    */
  def registerIvf(spark: SparkSession, cents: Array[Array[Double]], k: Int): String = {
    // Full-width md5 of the (k, centroids) bytes: a 31-bit rolling hash
    // could collide two different centroid matrices and silently evaluate
    // queries with the wrong index. The full digest is what makes
    // registerOnce's exists-check safe: same name ⇒ same content, so a
    // prior registration is never stale.
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    md.update(buf.putLong(0, k.toLong).array())
    // The digest folds the SHAPE (centroid count, per-centroid dims) as
    // well as the values, like registerPq: two matrices with identical
    // flattened doubles but different row splits must not collide to one
    // function name (they would silently share one IvfTopCells binding).
    md.update(buf.putLong(0, cents.length.toLong).array())
    for (c <- cents) {
      md.update(buf.putLong(0, c.length.toLong).array())
      for (x <- c)
        md.update(buf.putLong(0, java.lang.Double.doubleToLongBits(x)).array())
    }
    val name = "ivf_cells_" + md.digest().map("%02x".format(_)).mkString
    registerOnce(spark, name, exprs => IvfTopCells(exprs.head, cents, k))
    name
  }

  /** Register a [[PqEncode]] bound to specific codebooks and return its
    * session function name (content-addressed md5 digest, like
    * [[registerIvf]]).
    */
  def registerPq(spark: SparkSession,
      codebooks: Array[Array[Array[Double]]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    // The digest folds the SHAPE (M, per-codebook K, per-codeword dims) as
    // well as the values: two codebooks with identical flattened contents
    // but different geometry must not collide to one function name.
    md.update(buf.putLong(0, codebooks.length.toLong).array())
    for (cb <- codebooks) {
      md.update(buf.putLong(0, cb.length.toLong).array())
      for (cw <- cb) {
        md.update(buf.putLong(0, cw.length.toLong).array())
        for (x <- cw)
          md.update(buf.putLong(0, java.lang.Double.doubleToLongBits(x)).array())
      }
    }
    val name = "pq_encode_" + md.digest().map("%02x".format(_)).mkString
    registerOnce(spark, name, exprs => PqEncode(exprs.head, codebooks))
    name
  }

  /** Distributed Bloom-filter build over `xxhash64(keyCol)` of `df`,
    * reusing Spark's own runtime-filter machinery
    * ([[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
    * — the aggregate InjectRuntimeFilter plants under joins): partial
    * filters build map-side per partition and OR together, so the build is
    * one pass with a bytes-sized reduce — the small side never collects as
    * rows. Returns the serialized filter (sizeof ≈ numBits/8).
    */
  def buildBloom(df: org.apache.spark.sql.DataFrame, keyCol: String,
      expectedItems: Long, numBits: Long): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val s = df.sparkSession
    // Content-addressed like registerIvf/registerPq — the parameters ARE
    // the content (two longs), so they go straight into the name and two
    // interleaved builds with different configs can't rebind each other.
    val name = s"graft_bloom_agg_${expectedItems}_$numBits"
    registerOnce(s, name,
      exprs => BloomFilterAggregate(exprs.head, Literal(expectedItems),
        Literal(numBits), 0, 0).toAggregateExpression())
    val bytes = df.selectExpr(s"$name(xxhash64($keyCol)) AS bf")
      .head().getAs[Array[Byte]](0)
    // an empty build side aggregates to NULL; failing here beats an NPE in
    // registerBloomProbe's md5 digest
    require(bytes != null,
      s"buildBloom: build side has no rows (key $keyCol) — cannot build a Bloom filter")
    bytes
  }

  /** Register a probe for a serialized Bloom filter and return its session
    * function name (content-addressed like [[registerIvf]]). The probe is
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * over `xxhash64(key)` — a codegen'd bit-test, the same expression
    * Spark's row-level runtime filtering injects, so a
    * `filter(probe(xxhash64(k)))` before a join is exactly the
    * big-side pre-filter pattern: false positives pass through and the
    * exact join downstream removes them; output is provably unchanged.
    */
  def registerBloomProbe(spark: SparkSession, bloomBytes: Array[Byte]): String = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val md = java.security.MessageDigest.getInstance("MD5")
    val name = "bloom_probe_" + md.digest(bloomBytes).map("%02x".format(_)).mkString
    registerOnce(spark, name,
      exprs => BloomFilterMightContain(Literal(bloomBytes, BinaryType), exprs.head))
    name
  }
}
