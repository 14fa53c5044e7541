package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.{ShingleHash60Expr, TextFns, TokenHash60Expr}

/** Differential tests: the fused native kernels must agree exactly with
  * the Column-level formulations they replaced (which in turn are pinned
  * to the DuckDB oracle by the correctness gate).
  */
class TokenKernelsSpec extends SparkTestBase {

  private val P = 2147483647L

  // includes 2-byte (é, ß), 3-byte (中, λ) and 4-byte letter (𝐀 U+1D400,
  // category Lo) and non-letter (😀) code points
  private val textGen: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaChar.map(_.toString), Gen.numChar.map(_.toString),
    Gen.oneOf(" ", "\n", ",", ".", "'", "-"),
    Gen.oneOf("é", "ß", "λ", "中", "я", "𝐀", "😀"))).map(_.mkString)

  private def samples: Seq[String] =
    Gen.listOfN(200, textGen).sample.get ++ Seq(
      "", " ", "a", "the the the", "a b c d", "𝐀𝐀 𝐀", "one two three four")

  /** The pre-kernel Column pipeline for tokens (interpreted HOF form). */
  private def hofTokens = filter(
    split(col("text"), TextFns.TokenSplitRegex), t => length(t) > lit(0))

  private def hofHash60(c: org.apache.spark.sql.Column) =
    conv(substring(md5(encode(c, "UTF-8")), 1, 15), 16, 10).cast("long")

  test("TokenHash60Expr(distinct) == hash60 over array_distinct(split tokens)") {
    import spark.implicits._
    val df = samples.toDF("text")
    val got = df.select(TokenHash60Expr(col("text"), distinct = true).as("hs"))
      .collect().map(_.getSeq[Long](0))
    val want = df
      .select(transform(array_distinct(hofTokens), t => hofHash60(t)).as("hs"))
      .collect().map(_.getSeq[Long](0))
    got.zip(want).zip(samples).foreach { case ((g, w), s) =>
      assert(g === w, s"input=$s")
    }
  }

  test("TokenHash60Expr(all) == hash60 over split tokens") {
    import spark.implicits._
    val df = samples.toDF("text")
    val got = df.select(TokenHash60Expr(col("text"), distinct = false).as("hs"))
      .collect().map(_.getSeq[Long](0))
    val want = df.select(transform(hofTokens, t => hofHash60(t)).as("hs"))
      .collect().map(_.getSeq[Long](0))
    got.zip(want).zip(samples).foreach { case ((g, w), s) =>
      assert(g === w, s"input=$s")
    }
  }

  test("SimHash32Expr == exploded 32-conditional-sum formulation (null for token-less)") {
    import spark.implicits._
    val xs = samples // samples is a fresh random draw per CALL — capture once
    val df = xs.toDF("text")
    val got = df.select(graft.functions.SimHash32Expr(col("text")).as("fp"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val want = xs.map { s =>
      val toks = s.split(TextFns.TokenSplitRegex).filter(_.nonEmpty).distinct
      if (toks.isEmpty) None
      else {
        val hs = toks.map { t =>
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(t.getBytes("UTF-8"))
          (0 until 8).foldLeft(0L)((h, j) => (h << 8) | (d(j) & 0xffL)) >>> 4
        }
        Some((0 until 32).map { j =>
          val bitSum = hs.map(h => if (((h >>> j) & 1L) == 1L) 1 else -1).sum
          if (bitSum > 0) 1L << j else 0L
        }.sum)
      }
    }
    got.toSeq.zip(want).zip(xs).foreach { case ((g, w), s) =>
      assert(g === w, s"input=$s")
    }
  }

  test("tokenOffsets: truncated UTF-8 tails are non-letters, never out-of-bounds reads") {
    import org.apache.spark.unsafe.types.UTF8String
    // UTF8String does not guarantee well-formed UTF-8 (cast(binary as
    // string), corrupt input): a lead byte whose continuation bytes run
    // past the buffer must terminate the current token, not throw
    // ArrayIndexOutOfBoundsException.
    val cases: Seq[(Array[Byte], Seq[String])] = Seq(
      (Array[Byte]('a', 0xc3.toByte), Seq("a")), // 2-byte lead, no tail
      (Array[Byte]('a', 0xe4.toByte, 0xb8.toByte), Seq("a")), // 3-byte, one cont.
      (Array[Byte]('a', 0xf0.toByte, 0x9d.toByte), Seq("a")), // 4-byte, one cont.
      (Array[Byte](0xe4.toByte), Seq()), // lone truncated lead
      (Array[Byte](0xc3.toByte, 0xa9.toByte, 0xc3.toByte), Seq("é"))) // é + trunc
    cases.foreach { case (bytes, want) =>
      val toks = graft.functions.TokenKernels.tokenize(UTF8String.fromBytes(bytes))
      val got = (0 until toks.numElements()).map(i => toks.getUTF8String(i).toString)
      assert(got === want, s"bytes=${bytes.map(b => f"${b & 0xff}%02x").mkString(" ")}")
    }
  }

  test("ShingleHash60Expr == distinct(hash60(ngram) % P) over the split pipeline") {
    import spark.implicits._
    val df = samples.toDF("text")
    val got = df.select(ShingleHash60Expr(col("text"), 3, P).as("hs"))
      .collect().map(_.getSeq[Long](0).sorted)
    val want = df.select(
        array_distinct(transform(array_distinct(TextFns.wordNgrams(hofTokens, 3)),
          g => TextFns.hash60(g) % P)).as("hs"))
      .collect().map(_.getSeq[Long](0).sorted)
    got.zip(want).zip(samples).foreach { case ((g, w), s) =>
      assert(g === w, s"input=$s")
    }
  }
}
