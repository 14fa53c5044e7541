package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

import graft.functions.Fnv1a32
import graft.operators.{Apps, KV, MapReduce, MRApp}

/** Unit + property tests of the generic MapReduce surface: results match a
  * naive single-threaded fold, are invariant to the reduce partition count,
  * and `run` places keys exactly like the reference (ihash(key) % nReduce,
  * src/mr/worker.go:90), sorted by key within each bucket.
  */
class MapReduceSpec extends SparkTestBase {

  /** Plan traversal that descends into AQE's final plan and query stages. */
  private object Plans extends AdaptiveSparkPlanHelper

  private lazy val corpusDir: String = {
    val d = Files.createTempDirectory("mr-corpus")
    Files.writeString(d.resolve("f1.txt"), "the quick brown fox jumps over the lazy dog\nthe fox")
    Files.writeString(d.resolve("f2.txt"), "pack my box with five dozen liquor jugs; the box")
    Files.writeString(d.resolve("f3.txt"), "fox dog fox DOG Fox")
    d.toString
  }

  private def naiveWordCount: Map[String, String] = {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog\nthe fox",
      "pack my box with five dozen liquor jugs; the box",
      "fox dog fox DOG Fox")
    texts.flatMap(_.split("[^\\p{L}]+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toString }
  }

  test("WordCount app matches a naive fold") {
    val got = MapReduce.run(spark, s"$corpusDir/*.txt", Apps.WordCount)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(got === naiveWordCount)
  }

  test("results are invariant to nReduce / shuffle partitioning") {
    val expected = naiveWordCount
    Seq(1, 5, 10).foreach { n =>
      val got = MapReduce.run(spark, s"$corpusDir/*.txt", Apps.WordCount, n).collect()
      // each key reduced exactly once, to the same pairs as the naive fold
      assert(got.map(_.key).distinct.length === got.length, s"nReduce=$n")
      assert(got.map(kv => kv.key -> kv.value).toMap === expected, s"nReduce=$n")
    }
  }

  test("run places every key at ihash(key) % nReduce, sorted within its bucket") {
    Seq(1, 3, 7).foreach { n =>
      val parts = MapReduce.run(spark, s"$corpusDir/*.txt", Apps.WordCount, n).rdd.glom().collect()
      assert(parts.length === n)
      parts.zipWithIndex.foreach { case (part, i) =>
        val keys = part.map(_.key).toSeq
        val misplaced = keys.filterNot(k => Fnv1a32.hash(k.getBytes("UTF-8")) % n == i)
        assert(misplaced === Nil, s"n=$n bucket $i")
        assert(keys === keys.sorted.distinct, s"n=$n bucket $i not key-sorted: $keys")
      }
      assert(parts.flatten.map(kv => kv.key -> kv.value).toMap === naiveWordCount, s"n=$n")
    }
  }

  test("a null key is grouped as one key") {
    val nullKeys = new MRApp {
      def map(file: String, contents: String): IterableOnce[KV] =
        Iterator(KV(null, "x"), KV("a", "y"), KV(null, "z"))
      def reduce(key: String, values: Seq[String]): String = values.sorted.mkString("+")
    }
    val got = MapReduce.run(spark, s"$corpusDir/f1.txt", nullKeys, 3).collect()
      .map(kv => s"${kv.key}=${kv.value}").sorted.mkString(",")
    assert(got === "a=y,null=x+z")
  }

  test("run's executed plan has exactly one shuffle and no range partitioning") {
    val ds = MapReduce.run(spark, s"$corpusDir/*.txt", Apps.WordCount, 3)
    ds.collect()
    val plan = ds.queryExecution.executedPlan
    val shuffles = Plans.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.map(_.shuffleOrigin) === Seq(REPARTITION_BY_NUM), plan.toString)
    assert(Plans.collect(plan) { case p if p.outputPartitioning.isInstanceOf[RangePartitioning] => p }
      .isEmpty, plan.toString)
  }

  test("Indexer app: distinct docs per word, sorted CSV") {
    val got = MapReduce.run(spark, s"$corpusDir/*.txt", Apps.Indexer)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(got("fox") === "2 f1.txt,f3.txt")
    assert(got("the") === "2 f1.txt,f2.txt")
    assert(got("box") === "1 f2.txt")
  }

  test("KvFold app: sorted space-joined values per fixed key") {
    val got = MapReduce.run(spark, s"$corpusDir/*.txt", Apps.KvFold)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(got("a") === "f1.txt f2.txt f3.txt")
    assert(got("d") === "xyzzy xyzzy xyzzy")
  }
}
