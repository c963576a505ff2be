package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text-pipeline hot-path kernels (r20 optimization round).
  *
  * The dedup/text family funnels every document through the same three
  * expression chains:
  *
  *   1. `regexp_extract_all(lower(text), '[a-z0-9]+', 0)` — the
  *      tokenizer (a regex engine pass per document);
  *   2. `conv(substring(md5(s), 1, 15), 16, 10).cast(long)` — the
  *      portable 60-bit hash (a 32-char hex string allocation, a
  *      15-char substring, and a radix-conversion PARSE per value);
  *   3. `transform(sequence(1, n-k+1), i -> concat_ws(' ',
  *      slice(toks, i, k)))` + (2) — the k-shingle hasher (an array
  *      slice, a joined string, hex churn per shingle).
  *
  * These kernels compute the IDENTICAL values (same UTF-8 bytes into
  * the same MD5, same leading-60-bit read; same Unicode lowering via
  * UTF8String.toLowerCase — the expression Spark's own `lower()` calls
  * under the default collation) with none of the intermediate
  * allocations, and stay inside whole-stage codegen as a single static
  * call (guide §4: prefer codegen-friendly expressions on hot paths).
  * DuckDB oracles are untouched: both engines still state
  * `('0x' || substr(md5(s), 1, 15))::BIGINT`.
  */
object GraftText {
  private val digests =
    ThreadLocal.withInitial[java.security.MessageDigest](
      () => java.security.MessageDigest.getInstance("MD5"))

  private val space = ' '.toByte

  /** Leading 60 bits of md5(utf8 bytes) — value-identical to
    * `conv(substring(md5(s), 1, 15), 16, 10)`: the 15-hex-char prefix
    * IS the digest's first 60 bits (first 8 bytes big-endian, low
    * nibble dropped). */
  def md5Prefix60(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    first60(d)
  }

  private def first60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Maximal runs of [a-z0-9] in the LOWERCASED string — the exact
    * match set of `regexp_extract_all(lower(s), '[a-z0-9]+', 0)`:
    * the class bytes only occur as ASCII chars in UTF-8, so a byte
    * scan over the lowered bytes finds exactly the regex's runs. */
  def tokenize(s: UTF8String): ArrayData = {
    val bytes = s.toLowerCase.getBytes
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        val start = i
        i += 1
        while (i < n && {
          val c = bytes(i); (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        }) i += 1
        out += UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, i))
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** 60-bit hashes of the k-token shingles of `toks`, position i
    * hashing `toks[i..i+k-1]` joined by one space — value-identical
    * to md5Prefix60(concat_ws(" ", slice(toks, i+1, k))) without the
    * slice/join/hex allocations (token bytes fetched once, digest fed
    * incrementally). Returns an empty array when fewer than k tokens
    * (callers guard on size >= k; sequence(1, n-k+1) would fabricate
    * descending indices there). */
  def shingleHashes(toks: ArrayData, k: Int): ArrayData =
    new GenericArrayData(shingleHashArray(toks, k))

  private def shingleHashArray(toks: ArrayData, k: Int): Array[Long] = {
    val n = toks.numElements()
    if (n < k) return Array.emptyLongArray
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { tb(i) = toks.getUTF8String(i).getBytes; i += 1 }
    val md = digests.get()
    val out = new Array[Long](n - k + 1)
    i = 0
    while (i <= n - k) {
      md.reset()
      md.update(tb(i))
      var j = 1
      while (j < k) { md.update(space); md.update(tb(i + j)); j += 1 }
      out(i) = first60(md.digest())
      i += 1
    }
    out
  }

  /** MinHash modulus (the Mersenne prime 2^31 - 1). */
  val MinhashP = 2147483647L

  /** Deterministic (a_i, b_i) of hash function i (0-based) — the one
    * definition both the kernel and the DuckDB oracles read. */
  def minhashA(i: Int): Long = 1103515245L * (i + 1) % MinhashP
  def minhashB(i: Int): Long = 12345L * (i + 1) % MinhashP

  /** The k-long MinHash signature of one document's tokens:
    * m_i = min over its shingleK-shingles of ((h % P)·a_i + b_i) % P,
    * h the 60-bit shingle hash of [[shingleHashes]]. Value-identical
    * to exploding the shingle hashes, taking their distinct set and
    * min-aggregating per document — a repeated shingle cannot change
    * a min, so no distinct step is needed. Every operand stays below
    * 2^62 (h % P and a_i are under 2^31), so no product overflows.
    * Null when the doc has fewer than shingleK tokens (no shingle, no
    * signature). */
  def minhashSig(toks: ArrayData, shingleK: Int, k: Int): ArrayData = {
    val xs = shingleHashArray(toks, shingleK)
    if (xs.isEmpty) return null
    var j = 0
    while (j < xs.length) { xs(j) %= MinhashP; j += 1 }
    val m = new Array[Long](k)
    var i = 0
    while (i < k) {
      val a = minhashA(i)
      val b = minhashB(i)
      var mi = Long.MaxValue
      j = 0
      while (j < xs.length) {
        val v = (xs(j) * a + b) % MinhashP
        if (v < mi) mi = v
        j += 1
      }
      m(i) = mi
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(m)
  }
}

/** `md5_prefix60(s)` — the portable 60-bit md5-prefix hash as one
  * codegen'd call (see [[GraftText.md5Prefix60]]). */
final case class Md5Prefix60Expr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix60"

  override protected def nullSafeEval(input: Any): Any =
    GraftText.md5Prefix60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.GraftText.md5Prefix60($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60Expr =
    copy(child = newChild)
}

object Md5Prefix60Expr {
  def md5Prefix60(s: Column): Column =
    ExpressionUtils.column(Md5Prefix60Expr(ExpressionUtils.expression(s)))
}

/** `tokenize_lower(s)` — lowercase + [a-z0-9]+ run extraction as one
  * codegen'd call (see [[GraftText.tokenize]]). */
final case class TokenizeExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokenize_lower"

  override protected def nullSafeEval(input: Any): Any =
    GraftText.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.GraftText.tokenize($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenizeExpr =
    copy(child = newChild)
}

object TokenizeExpr {
  def tokenizeLower(s: Column): Column =
    ExpressionUtils.column(TokenizeExpr(ExpressionUtils.expression(s)))
}

/** `shingle_hashes(toks, k)` — per-position 60-bit k-shingle hashes as
  * one codegen'd call (see [[GraftText.shingleHashes]]); k is a
  * configuration literal, not data. */
final case class ShingleHash60Expr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"shingle_hashes k=$k must be >= 1")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    GraftText.shingleHashes(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.GraftText.shingleHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash60Expr =
    copy(child = newChild)
}

object ShingleHash60Expr {
  def shingleHashes(toks: Column, k: Int): Column =
    ExpressionUtils.column(ShingleHash60Expr(ExpressionUtils.expression(toks), k))
}

/** `minhash_sig(toks, shingleK, k)` — a document's k-long MinHash
  * signature as one codegen'd call (see [[GraftText.minhashSig]]);
  * shingleK and k are configuration literals, not data. Null for docs
  * under shingleK tokens. */
final case class MinhashSigExpr(child: Expression, shingleK: Int, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(shingleK >= 1 && k >= 1, s"minhash_sig shingleK=$shingleK k=$k must be >= 1")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    GraftText.minhashSig(input.asInstanceOf[ArrayData], shingleK, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${c.isNull} ? null :
        org.apache.spark.sql.graft.GraftText.minhashSig(${c.value}, $shingleK, $k);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigExpr =
    copy(child = newChild)
}

object MinhashSigExpr {
  def minhashSig(toks: Column, shingleK: Int, k: Int): Column =
    ExpressionUtils.column(MinhashSigExpr(ExpressionUtils.expression(toks), shingleK, k))
}
