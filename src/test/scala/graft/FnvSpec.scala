package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.{Fnv1a32, Fnv1a32Expr}

/** FNV-1a 32-bit vectors from the published FNV reference
  * (http://www.isthe.com/chongo/tech/comp/fnv/) masked to non-negative,
  * matching the reference engine's ihash (src/mr/worker.go:25-29).
  */
class FnvSpec extends SparkTestBase {

  private def masked(unsigned: Long): Int = (unsigned & 0x7fffffffL).toInt

  test("fnv1a32 matches published test vectors (sign-masked)") {
    assert(Fnv1a32.hash("".getBytes("UTF-8")) === masked(0x811c9dc5L))
    assert(Fnv1a32.hash("a".getBytes("UTF-8")) === masked(0xe40c292cL))
    assert(Fnv1a32.hash("b".getBytes("UTF-8")) === masked(0xe70c2de5L))
    assert(Fnv1a32.hash("foobar".getBytes("UTF-8")) === masked(0xbf9cf968L))
  }

  test("fnv1a32 expression evaluates identically to the Scala impl (codegen path)") {
    import spark.implicits._
    val words = Seq("", "a", "foobar", "the", "sherlock", "été")
    val got = words.toDF("w")
      .select(col("w"), ColumnBridge.column(Fnv1a32Expr(ColumnBridge.expression(col("w")))).as("h"))
      .collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    words.foreach { w =>
      assert(got(w) === Fnv1a32.hash(w.getBytes("UTF-8")), s"word=$w")
    }
  }
}
