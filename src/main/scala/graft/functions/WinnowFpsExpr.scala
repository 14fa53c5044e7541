package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken) of a string in one
  * native pass: hash every k-char gram with hash60 (md5-prefix, same as
  * `TextFns.hash60`), slide a w-wide window over the hash sequence, keep
  * each window's minimum, return the distinct minima (sorted — set
  * semantics; callers explode, so order is irrelevant).
  *
  * Replaces a `transform(sequence)` + `array_min(slice)` + `array_distinct`
  * higher-order chain, which Spark evaluates interpreted — per-gram lambda
  * frames, per-window slice allocations, boxed md5 results. Here the UTF-8
  * buffer is walked once by code point (matching Spark/DuckDB `substring`
  * character semantics, so the DuckDB oracle reproduces the result
  * exactly), each gram is digested from the shared byte buffer, and the
  * window minima come from a tight primitive loop. Codegen-friendly via a
  * static call, so the whole stage stays in one generated pipeline.
  */
case class WinnowFpsExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(input: Any): Any =
    WinnowFpsExpr.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowFpsExpr.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFpsExpr =
    copy(child = newChild)
}

object WinnowFpsExpr {

  private val Empty = new GenericArrayData(Array.empty[Long])

  def compute(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val nBytes = bytes.length
    // code-point start offsets (UTF8String numChars semantics = DuckDB
    // length(): one "char" per code point, 4-byte sequences included)
    val offs = new Array[Int](nBytes + 1)
    var nc = 0
    var i = 0
    while (i < nBytes) {
      offs(nc) = i
      nc += 1
      val b = bytes(i) & 0xff
      i += (if (b < 0x80) 1
            else if (b < 0xe0) 2
            else if (b < 0xf0) 3
            else 4)
    }
    offs(nc) = nBytes
    val nGrams = nc - k + 1
    val nWin = nGrams - w + 1
    if (nWin <= 0) return Empty

    val md = MessageDigest.getInstance("MD5")
    val hs = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      md.update(bytes, offs(g), offs(g + k) - offs(g))
      hs(g) = TokenKernels.h60(md)
      g += 1
    }

    val mins = new Array[Long](nWin)
    var x = 0
    while (x < nWin) {
      var m = hs(x)
      var y = 1
      while (y < w) { if (hs(x + y) < m) m = hs(x + y); y += 1 }
      mins(x) = m
      x += 1
    }

    java.util.Arrays.sort(mins)
    var cnt = 1
    var z = 1
    while (z < nWin) { if (mins(z) != mins(z - 1)) cnt += 1; z += 1 }
    val out = new Array[Long](cnt)
    out(0) = mins(0)
    var o = 1
    z = 1
    while (z < nWin) {
      if (mins(z) != mins(z - 1)) { out(o) = mins(z); o += 1 }
      z += 1
    }
    new GenericArrayData(out)
  }

  import org.apache.spark.sql.graft.ColumnBridge

  def apply(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFpsExpr(ColumnBridge.expression(text), k, w))
}
