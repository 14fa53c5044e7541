package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ArrayDotProduct, Fnv1a32Expr, MinHashSig, PairsExpr, ShingleHash60Expr, SimHash32Expr, TokenHash60Expr, TokenizeExpr, WinnowFpsExpr, WordNgramsExpr}

/** SparkSessionExtensions entry point: makes the engine's native Catalyst
  * expressions available as SQL functions in any session, the standard
  * installation path for a Spark extension library:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT fnv1a32(key), array_dot_product(a, b), word_ngrams(toks, 3)
  *
  * (Column-API callers use graft.functions directly; this registration is
  * for SQL/JDBC/notebook surfaces.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    // ExpressionInfo requires `_FUNC_` in usage (it substitutes the bound
    // name at DESCRIBE time); call sites pass the readable "name(args)"
    // form, rewritten here; the seven fields after usage stay empty.
    new ExpressionInfo("graft.functions", null, name,
      usage.replaceFirst(java.util.regex.Pattern.quote(name), "_FUNC_"), "", "", "", "", "", "", "")

  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${args.length}")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("fnv1a32"),
      info("fnv1a32", "fnv1a32(str) - FNV-1a 32-bit hash, sign-masked (reference ihash)"),
      (args: Seq[Expression]) => { arity("fnv1a32", args, 1); Fnv1a32Expr(args.head) }))
    ext.injectFunction((
      FunctionIdentifier("array_dot_product"),
      info("array_dot_product", "array_dot_product(a, b) - dot product of two double arrays"),
      (args: Seq[Expression]) => {
        arity("array_dot_product", args, 2); ArrayDotProduct(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("word_ngrams"),
      info("word_ngrams", "word_ngrams(tokens, n) - space-joined sliding n-grams; n must be a literal"),
      (args: Seq[Expression]) => {
        arity("word_ngrams", args, 2)
        WordNgramsExpr(args(0), litInt("word_ngrams", args(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("tokenize"),
      info("tokenize", "tokenize(str) - maximal Unicode-letter-run tokens (reference wc tokenizer)"),
      (args: Seq[Expression]) => { arity("tokenize", args, 1); TokenizeExpr(args.head) }))
    ext.injectFunction((
      FunctionIdentifier("token_hash60"),
      info("token_hash60", "token_hash60(str, distinct) - hash60 per (optionally distinct) token; distinct must be a boolean literal"),
      (args: Seq[Expression]) => {
        arity("token_hash60", args, 2)
        val distinct = args(1).eval() match {
          case b: Boolean => b
          case other => throw new IllegalArgumentException(
            s"token_hash60: distinct must be a boolean literal, got $other")
        }
        TokenHash60Expr(args.head, distinct)
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_hash60"),
      info("shingle_hash60", "shingle_hash60(str, n, mod) - distinct hash60(word n-gram) % mod; n and mod must be literals"),
      (args: Seq[Expression]) => {
        arity("shingle_hash60", args, 3)
        ShingleHash60Expr(args.head, litInt("shingle_hash60", args(1)),
          litLong("shingle_hash60", args(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash32"),
      info("simhash32", "simhash32(str) - per-row 32-bit SimHash over distinct-token hash60s (null for token-less text)"),
      (args: Seq[Expression]) => { arity("simhash32", args, 1); SimHash32Expr(args.head) }))
    ext.injectFunction((
      FunctionIdentifier("id_pairs"),
      info("id_pairs", "id_pairs(ids) - all (da, db) pairs with da < db strictly of a long array (any order; equal elements emit no pair)"),
      (args: Seq[Expression]) => { arity("id_pairs", args, 1); PairsExpr(args.head) }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(hs, a, b, p) - k minhashes min_h((a_i*h + b_i) % p) of a long array; a, b, p must be literals"),
      (args: Seq[Expression]) => {
        arity("minhash_sig", args, 4)
        val a = litLongArray("minhash_sig", args(1))
        val b = litLongArray("minhash_sig", args(2))
        if (a.length != b.length)
          throw new IllegalArgumentException(
            s"minhash_sig: a and b must have equal length, got ${a.length}/${b.length}")
        MinHashSig(args.head, a, b, litLong("minhash_sig", args(3)))
      }))
    ext.injectFunction((
      FunctionIdentifier("winnow_fps"),
      info("winnow_fps", "winnow_fps(str, k, w) - winnowing fingerprints (k-gram hash60, window w minima); k and w must be literals"),
      (args: Seq[Expression]) => {
        arity("winnow_fps", args, 3)
        WinnowFpsExpr(args.head, litInt("winnow_fps", args(1)),
          litInt("winnow_fps", args(2)))
      }))
  }

  private def litInt(fn: String, e: Expression): Int = e.eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"$fn: expected an integer literal, got $other")
  }

  private def litLongArray(fn: String, e: Expression): Seq[Long] = e.eval() match {
    case a: org.apache.spark.sql.catalyst.util.ArrayData =>
      (0 until a.numElements()).map(i => a.get(i, e.dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType) match {
        case i2: Int => i2.toLong
        case l: Long => l
        case other => throw new IllegalArgumentException(
          s"$fn: expected integer array literal elements, got $other")
      })
    case other => throw new IllegalArgumentException(
      s"$fn: expected an array literal, got $other")
  }

  private def litLong(fn: String, e: Expression): Long = e.eval() match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(
      s"$fn: expected a long literal, got $other")
  }
}
