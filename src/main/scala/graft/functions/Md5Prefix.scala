package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's portable hash `int(md5(x)[:nHex hex]) as bigint` as ONE
  * native expression — bit-identical to the SQL chain
  * `cast(conv(substring(md5(x), 1, nHex), 16, 10) as bigint)` (which
  * remains the DuckDB oracle form) without materializing the 32-char hex
  * string, re-slicing it, or re-parsing it base-16: the first nHex hex
  * digits of an md5 are the first nHex NIBBLES of the digest bytes, folded
  * big-endian. The hot per-shingle / per-token hashing paths (minhash
  * signatures, n-gram fingerprint screens, overlap universes, DSIR feature
  * buckets) each evaluated the 4-expression chain per element — three
  * codegen string operators and a radix parse whose only consumer was the
  * long (r21; the same reasoning that froze the LSH hyperplanes at
  * plan-build time in r6).
  *
  * nHex ≤ 15 keeps the value inside a non-negative signed long, exactly
  * like conv's unsigned parse of ≤ 15 hex digits. Input digests over the
  * string's UTF-8 bytes — the same bytes Spark's `md5(string)` implicit
  * binary cast digests.
  */
case class Md5PrefixLong(child: Expression, nHex: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = s"md5_prefix$nHex"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if nHex >= 1 && nHex <= 15 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"md5_prefix(string) with 1 <= nHex <= 15, got ${child.dataType} / $nHex")
  }

  // one digest + output buffer per THREAD, not per row (a row's work is
  // one update+digest, so per-call getInstance/allocation would dominate)
  // nor per instance (tasks can share a deserialized expression instance;
  // MessageDigest is not thread-safe)
  @transient private lazy val mdLocal: ThreadLocal[(MessageDigest, Array[Byte])] =
    ThreadLocal.withInitial(() =>
      (MessageDigest.getInstance("MD5"), new Array[Byte](16)))

  def hash(input: UTF8String): Long = {
    val (md, d) = mdLocal.get()
    md.update(input.getBytes)
    md.digest(d, 0, 16) // resets for the next call
    Md5PrefixLong.fold(d, nHex)
  }

  override def nullSafeEval(input: Any): Any =
    hash(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("md5Prefix", this, classOf[Md5PrefixLong].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.hash($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
}

object Md5PrefixLong {
  /** Fold the first `nHex` nibbles of a digest big-endian — exactly the
    * unsigned value of the md5 hex string's first nHex characters.
    */
  private[functions] def fold(d: Array[Byte], nHex: Int): Long = {
    var h = 0L
    var i = 0
    while (i < nHex) {
      val b = d(i >> 1) & 0xff
      val nib = if ((i & 1) == 0) b >> 4 else b & 0xf
      h = (h << 4) | nib
      i += 1
    }
    h
  }
}

/** [[Md5PrefixLong]] mapped over an array<string> in one loop — replaces
  * `transform(arr, x -> cast(conv(substring(md5(x), 1, nHex), 16, 10) as
  * bigint))`, whose lambda never enters whole-stage codegen (higher-order
  * functions are interpreted per ELEMENT — the WinnowFps lesson). One
  * reused MessageDigest and digest buffer per thread; null elements map
  * to null exactly as the lambda did.
  */
case class Md5PrefixLongArray(child: Expression, nHex: Int)
    extends UnaryExpression {

  override def dataType: DataType = child.dataType match {
    case ArrayType(_, n) => ArrayType(LongType, containsNull = n)
    case _ => ArrayType(LongType, containsNull = true)
  }
  override def prettyName: String = s"md5_prefix${nHex}_array"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if nHex >= 1 && nHex <= 15 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"md5_prefix_array(array<string>) with 1 <= nHex <= 15, got ${child.dataType} / $nHex")
  }

  // one digest + buffer per thread, as in Md5PrefixLong.mdLocal
  @transient private lazy val mdLocal: ThreadLocal[(MessageDigest, Array[Byte])] =
    ThreadLocal.withInitial(() =>
      (MessageDigest.getInstance("MD5"), new Array[Byte](16)))

  def hashAll(input: ArrayData): ArrayData = {
    val n = input.numElements()
    val (md, d) = mdLocal.get()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (input.isNullAt(i)) out(i) = null
      else {
        md.update(input.getUTF8String(i).getBytes)
        md.digest(d, 0, 16) // resets for the next element
        out(i) = Md5PrefixLong.fold(d, nHex)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    hashAll(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self =
      ctx.addReferenceObj("md5PrefixArr", this, classOf[Md5PrefixLongArray].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.hashAll($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLongArray =
    copy(child = newChild)
}
