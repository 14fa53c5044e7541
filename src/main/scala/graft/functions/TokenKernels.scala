package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass tokenization (+ hashing) kernels.
  *
  * The reference tokenizer (Go `strings.FieldsFunc(unicode.IsLetter)`,
  * src/mrapps/wc.go:19-32) splits text into maximal Unicode-letter runs.
  * The round-1/2 Spark form — `filter(split(text, "[^\\p{L}]+"), t =>
  * length(t) > 0)` — pays a regex scan, an intermediate array with empty
  * strings, and an INTERPRETED per-element lambda (Spark HOF lambdas never
  * reach codegen); the hash-consuming queries then paid Column-level
  * `conv(substring(md5(...)))` string round-trips per token. These kernels
  * walk the UTF-8 buffer once, classify code points with
  * `Character.isLetter` (the same Unicode L* category as `\p{L}` in both
  * Java regex and DuckDB/RE2, so oracle SQL is unchanged), and hash token
  * bytes straight out of the shared buffer — no hex strings, no boxed
  * lambdas. All three are codegen-friendly via static calls.
  */
object TokenKernels {

  /** Byte offsets of maximal letter runs: flat [s0, e0, s1, e1, ...] pairs
    * with the used length in `n`. ASCII fast path; multi-byte sequences
    * decode to a code point for `Character.isLetter`.
    */
  final class Offsets(var a: Array[Int], var n: Int)

  def tokenOffsets(bytes: Array[Byte]): Offsets = {
    var buf = new Array[Int](32)
    var m = 0
    val nb = bytes.length
    var i = 0
    var tokStart = -1
    while (i < nb) {
      val b0 = bytes(i) & 0xff
      var len = 1
      var cp = b0
      if (b0 >= 0xc0) {
        len = if (b0 >= 0xf0) 4 else if (b0 >= 0xe0) 3 else 2
        // UTF8String does not guarantee well-formed UTF-8 (cast(binary as
        // string), corrupt input): a lead byte whose continuation bytes run
        // past the buffer must not be decoded. Treat the truncated tail as a
        // single non-letter byte (U+FFFD is not a letter) instead of
        // reading out of bounds.
        if (i + len > nb) { len = 1; cp = 0xfffd }
        else if (len == 4)
          cp = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
            ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
        else if (len == 3)
          cp = ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f)
        else
          cp = ((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f)
      }
      val isLetter =
        if (cp < 0x80) (cp | 0x20) >= 'a' && (cp | 0x20) <= 'z'
        else Character.isLetter(cp)
      if (isLetter) {
        if (tokStart < 0) tokStart = i
      } else if (tokStart >= 0) {
        if (m == buf.length) buf = java.util.Arrays.copyOf(buf, m * 2)
        buf(m) = tokStart; buf(m + 1) = i; m += 2
        tokStart = -1
      }
      i += len
    }
    if (tokStart >= 0) {
      if (m == buf.length) buf = java.util.Arrays.copyOf(buf, m + 2)
      buf(m) = tokStart; buf(m + 1) = nb; m += 2
    }
    new Offsets(buf, m)
  }

  /** hash60 of the digest state already fed into `md`: first 15 hex digits
    * of the MD5 as a long = top 60 bits of the first 8 digest bytes.
    */
  private[functions] def h60(md: MessageDigest): Long = {
    val d = md.digest()
    var h = 0L
    var j = 0
    while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
    h >>> 4
  }

  private val EmptyStrings = new GenericArrayData(Array.empty[AnyRef])
  private val EmptyLongs = new GenericArrayData(Array.empty[Long])

  def tokenize(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val o = tokenOffsets(bytes)
    if (o.n == 0) return EmptyStrings
    val out = new Array[AnyRef](o.n / 2)
    var t = 0
    while (t < o.n) {
      out(t / 2) = UTF8String.fromBytes(bytes, o.a(t), o.a(t + 1) - o.a(t))
      t += 2
    }
    new GenericArrayData(out)
  }

  def tokenHash60(s: UTF8String, distinct: Boolean): ArrayData = {
    val bytes = s.getBytes
    val o = tokenOffsets(bytes)
    if (o.n == 0) return EmptyLongs
    val md = MessageDigest.getInstance("MD5")
    if (!distinct) {
      val out = new Array[Long](o.n / 2)
      var t = 0
      while (t < o.n) {
        md.update(bytes, o.a(t), o.a(t + 1) - o.a(t))
        out(t / 2) = h60(md)
        t += 2
      }
      new GenericArrayData(out)
    } else {
      // distinct by token STRING (not by hash): exactly
      // `array_distinct(tokens)` semantics, robust even under a (never
      // observed) md5-prefix collision between distinct tokens.
      val seen = new java.util.HashSet[UTF8String](o.n)
      val out = new Array[Long](o.n / 2)
      var k = 0
      var t = 0
      while (t < o.n) {
        val tok = UTF8String.fromBytes(bytes, o.a(t), o.a(t + 1) - o.a(t))
        if (seen.add(tok)) {
          md.update(bytes, o.a(t), o.a(t + 1) - o.a(t))
          out(k) = h60(md)
          k += 1
        }
        t += 2
      }
      new GenericArrayData(java.util.Arrays.copyOf(out, k))
    }
  }

  /** 32-bit SimHash over distinct-token hash60s, entirely per-row: bit j
    * of the fingerprint is the sign of Σ_tokens (±1 by bit j of the token
    * hash). Returns null for token-less text (mirroring the exploded
    * formulation, where such docs simply contribute no rows). Equivalent
    * to explode(token_hash60(text, distinct)) + 32 conditional sums +
    * sign-fold — but with no exploded token table and NO shuffle before
    * the final fingerprint grouping.
    */
  def simHash32(s: UTF8String): Any = {
    val bytes = s.getBytes
    val o = tokenOffsets(bytes)
    if (o.n == 0) return null
    val seen = new java.util.HashSet[UTF8String](o.n)
    val md = MessageDigest.getInstance("MD5")
    val counts = new Array[Int](32)
    var t = 0
    while (t < o.n) {
      val tok = UTF8String.fromBytes(bytes, o.a(t), o.a(t + 1) - o.a(t))
      if (seen.add(tok)) {
        md.update(bytes, o.a(t), o.a(t + 1) - o.a(t))
        val h = h60(md)
        var j = 0
        while (j < 32) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      t += 2
    }
    var fp = 0L
    var j = 0
    while (j < 32) { if (counts(j) > 0) fp |= 1L << j; j += 1 }
    java.lang.Long.valueOf(fp)
  }

  private val Space = Array[Byte](' ')

  /** Distinct `hash60(gram) % mod` over all word n-grams (tokens joined by
    * single spaces). Distinct-after-mod equals the split-pipeline's
    * distinct-grams-then-distinct-hashes: deduping before or after a
    * deterministic function yields the same distinct image.
    */
  def shingleHash60(s: UTF8String, n: Int, mod: Long): ArrayData = {
    val bytes = s.getBytes
    val o = tokenOffsets(bytes)
    val nTok = o.n / 2
    val nGrams = nTok - n + 1
    if (nGrams <= 0) return EmptyLongs
    val md = MessageDigest.getInstance("MD5")
    val hs = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      var t = g
      while (t < g + n) {
        if (t > g) md.update(Space, 0, 1)
        md.update(bytes, o.a(2 * t), o.a(2 * t + 1) - o.a(2 * t))
        t += 1
      }
      hs(g) = h60(md) % mod
      g += 1
    }
    // sort + dedupe (set semantics; callers explode or fold, order-free)
    java.util.Arrays.sort(hs)
    var cnt = 1
    var z = 1
    while (z < nGrams) { if (hs(z) != hs(z - 1)) cnt += 1; z += 1 }
    if (cnt == nGrams) return new GenericArrayData(hs)
    val out = new Array[Long](cnt)
    out(0) = hs(0)
    var o2 = 1
    z = 1
    while (z < nGrams) {
      if (hs(z) != hs(z - 1)) { out(o2) = hs(z); o2 += 1 }
      z += 1
    }
    new GenericArrayData(out)
  }
}

/** `tokenize(text)` — non-empty Unicode-letter tokens (see TokenKernels). */
case class TokenizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokenize"
  override def nullSafeEval(input: Any): Any =
    TokenKernels.tokenize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenKernels.tokenize($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenizeExpr =
    copy(child = newChild)
}

object TokenizeExpr {
  import org.apache.spark.sql.graft.ColumnBridge
  def apply(text: Column): Column =
    ColumnBridge.column(TokenizeExpr(ColumnBridge.expression(text)))
}

/** `simhash32(text)` — per-row 32-bit SimHash (null for token-less text). */
case class SimHash32Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash32"
  override def nullSafeEval(input: Any): Any =
    TokenKernels.simHash32(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = ctx.freshName("simhashBoxed")
    nullSafeCodeGen(ctx, ev, c => s"""
       |Object $v = graft.functions.TokenKernels.simHash32($c);
       |if ($v == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Long) $v).longValue(); }
     """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): SimHash32Expr =
    copy(child = newChild)
}

object SimHash32Expr {
  import org.apache.spark.sql.graft.ColumnBridge
  def apply(text: Column): Column =
    ColumnBridge.column(SimHash32Expr(ColumnBridge.expression(text)))
}

/** `token_hash60(text)` — hash60 per (optionally distinct) token. */
case class TokenHash60Expr(child: Expression, distinct: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hash60"
  override def nullSafeEval(input: Any): Any =
    TokenKernels.tokenHash60(input.asInstanceOf[UTF8String], distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenKernels.tokenHash60($c, $distinct)")
  override protected def withNewChildInternal(newChild: Expression): TokenHash60Expr =
    copy(child = newChild)
}

object TokenHash60Expr {
  import org.apache.spark.sql.graft.ColumnBridge
  def apply(text: Column, distinct: Boolean): Column =
    ColumnBridge.column(TokenHash60Expr(ColumnBridge.expression(text), distinct))
}

/** `shingle_hash60(text)` — distinct hash60(word n-gram) % mod. */
case class ShingleHash60Expr(child: Expression, n: Int, mod: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash60"
  override def nullSafeEval(input: Any): Any =
    TokenKernels.shingleHash60(input.asInstanceOf[UTF8String], n, mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenKernels.shingleHash60($c, $n, ${mod}L)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHash60Expr =
    copy(child = newChild)
}

object ShingleHash60Expr {
  import org.apache.spark.sql.graft.ColumnBridge
  def apply(text: Column, n: Int, mod: Long): Column =
    ColumnBridge.column(ShingleHash60Expr(ColumnBridge.expression(text), n, mod))
}
