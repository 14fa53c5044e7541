package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.WinnowFpsExpr

/** WinnowFpsExpr.compute vs a naive per-code-point reference: same gram
  * boundaries (code points, not UTF-16 units), same hash60 (first 15 md5
  * hex digits base-16), same window minima set.
  */
class WinnowFpsSpec extends AnyFunSuite {

  private def hash60(s: String): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
  }

  private def naive(s: String, k: Int, w: Int): Set[Long] = {
    val cps = s.codePoints().toArray
    val nGrams = cps.length - k + 1
    if (nGrams - w + 1 <= 0) return Set.empty
    val hs = (0 until nGrams)
      .map(i => hash60(new String(cps, i, k)))
    (0 to nGrams - w).map(j => (j until j + w).map(hs).min).toSet
  }

  private val genText: Gen[String] = Gen.frequency(
    8 -> Gen.listOf(Gen.frequency(
      10 -> Gen.alphaNumChar.map(_.toString), 2 -> Gen.const(" "),
      1 -> Gen.oneOf("é", "ß", "中", "𝔸"))).map(_.mkString),
    1 -> Gen.const(""),
    1 -> Gen.const("aaaaaaaaaaaaaaaa")) // all-equal grams -> dedup path

  test("native winnow equals naive code-point reference") {
    val samples = Gen.listOfN(300, genText).sample.get
    samples.foreach { s =>
      val got = WinnowFpsExpr.compute(UTF8String.fromString(s), 8, 4)
      assert(got.toLongArray().toSet === naive(s, 8, 4), s"input=$s")
    }
  }

  test("fixed vector: known string") {
    val s = "the quick brown fox"
    val got = WinnowFpsExpr.compute(UTF8String.fromString(s), 8, 4)
    assert(got.toLongArray().toSet === naive(s, 8, 4))
    assert(got.numElements() > 0)
  }

  test("short strings yield no fingerprints (filter parity)") {
    // length < k + w - 1 = 11 -> empty
    assert(WinnowFpsExpr.compute(UTF8String.fromString("0123456789"), 8, 4)
      .numElements() === 0)
  }
}
