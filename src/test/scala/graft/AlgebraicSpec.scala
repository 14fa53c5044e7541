package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Algebraic, Apps, MapReduce}

/** Algebraic (partial-agg) reduce path and reference JSON intermediate
  * format parity.
  */
class AlgebraicSpec extends SparkTestBase {

  private val refMain = "/root/reference/src/main"

  private lazy val corpusDir: String = {
    val d = Files.createTempDirectory("algebraic-corpus")
    Files.writeString(d.resolve("pg-a.txt"), "the quick brown fox jumps over the lazy dog")
    Files.writeString(d.resolve("pg-b.txt"), "the fox and the dog, the end")
    d.toString
  }

  test("algebraic wordcount equals the generic mapGroups wordcount") {
    assume(Files.exists(Paths.get(refMain)))
    val glob = s"$refMain/pg-*.txt"
    val generic = MapReduce.run(spark, glob, Apps.WordCount)
      .collect().map(kv => kv.key -> kv.value).toMap
    val algebraic = Algebraic.run(spark, glob, Algebraic.WordCountAlgebraic)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(algebraic === generic)
  }

  test("algebraic plan uses hash aggregation (partial agg), not mapGroups") {
    val plan = Algebraic.run(spark, s"$corpusDir/pg-*.txt", Algebraic.WordCountAlgebraic)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Aggregate"), plan.take(500))
    assert(!plan.contains("MapGroups"), plan.take(500))
  }

  test("reference intermediate JSON decodes and re-encodes faithfully") {
    assume(Files.exists(Paths.get(s"$refMain/mr-1-1")))
    // committed artifact of a real reference run (src/mr/worker.go:96-113)
    val kv = MapReduce.fromReferenceJson(spark, s"$refMain/mr-1-1").collect()
    assert(kv.nonEmpty)
    assert(kv.forall(_.value == "1")) // wc map output
    // re-encode one line and compare shape with the raw file's first line
    val firstRaw = Files.readAllLines(Paths.get(s"$refMain/mr-1-1")).get(0)
    assert(firstRaw.startsWith("{\"Key\":"))
    val reencoded = MapReduce.toReferenceJson(
      MapReduce.fromReferenceJson(spark, s"$refMain/mr-1-1"))
    assert(reencoded.columns.toSeq === Seq("Key", "Value"))
    assert(reencoded.count() === kv.length)
  }
}
