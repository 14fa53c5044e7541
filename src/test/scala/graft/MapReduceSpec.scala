package graft

import java.nio.file.Files

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

import graft.functions.Fnv1a32
import graft.operators.{AlgebraicApp, Apps, KV, MapReduce, MRApp}

object MapReduceSpec {

  /** `app` as a plain MRApp (same map and reduce), so `MapReduce.run`
    * takes the uncombined path for it.
    */
  case class Uncombined(app: MRApp) extends MRApp {
    def map(file: String, contents: String): IterableOnce[KV] = app.map(file, contents)
    def reduce(key: String, values: Seq[String]): String = app.reduce(key, values)
  }
}

/** Unit + property tests of the MapReduce surface, on both reduce paths (a
  * plain MRApp and a per-file-combined AlgebraicApp): results match a
  * naive single-threaded fold, are invariant to the reduce partition count,
  * and `run` places keys exactly like the reference (ihash(key) % nReduce,
  * src/mr/worker.go:90), sorted by key within each bucket.
  */
class MapReduceSpec extends SparkTestBase {
  import MapReduceSpec.Uncombined

  /** Plan traversal that descends into AQE's final plan and query stages. */
  private object Plans extends AdaptiveSparkPlanHelper

  private val files = Seq(
    "f1.txt" -> "the quick brown fox jumps over the lazy dog\nthe fox",
    "f2.txt" -> "pack my box with five dozen liquor jugs; the box",
    "f3.txt" -> "fox dog fox DOG Fox")

  private lazy val corpusDir: String = {
    val d = Files.createTempDirectory("mr-corpus")
    files.foreach { case (name, text) => Files.writeString(d.resolve(name), text) }
    d.toString
  }

  private def words(text: String): Seq[String] = text.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty)

  private def naiveWordCount: Map[String, String] =
    files.flatMap { case (_, text) => words(text) }
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toString }

  /** The sequential oracle (`mrsequential`): the app's own map and reduce
    * folded on the driver.
    */
  private def sequential(app: MRApp): Map[String, String] =
    files.flatMap { case (f, text) => app.map(f, text).iterator }
      .groupBy(_.key).map { case (k, kvs) => k -> app.reduce(k, kvs.map(_.value)) }

  /** Records written by the one shuffle of `MapReduce.run(app)`. */
  private def shuffleRecords(app: MRApp, nReduce: Int): Long = {
    val ds = MapReduce.run(spark, s"$corpusDir/*.txt", app, nReduce)
    ds.collect()
    val shuffles = Plans.collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.length === 1)
    shuffles.head.metrics("shuffleRecordsWritten").value
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
    for (app <- Seq(Apps.WordCount, Apps.Indexer); n <- Seq(1, 3, 7)) {
      val parts = MapReduce.run(spark, s"$corpusDir/*.txt", app, n).rdd.glom().collect()
      assert(parts.length === n)
      parts.zipWithIndex.foreach { case (part, i) =>
        val keys = part.map(_.key).toSeq
        val misplaced = keys.filterNot(k => Fnv1a32.hash(k.getBytes("UTF-8")) % n == i)
        assert(misplaced === Nil, s"$app n=$n bucket $i")
        assert(keys === keys.sorted.distinct, s"$app n=$n bucket $i not key-sorted: $keys")
      }
      assert(parts.flatten.map(kv => kv.key -> kv.value).toMap === sequential(app), s"$app n=$n")
    }
  }

  test("a null key is grouped as one key") {
    val emitted = Seq(KV(null, "x"), KV("a", "y"), KV(null, "z"))
    val listing = new MRApp {
      def map(file: String, contents: String): IterableOnce[KV] = emitted
      def reduce(key: String, values: Seq[String]): String = values.sorted.mkString("+")
    }
    val counting = new AlgebraicApp[Long] {
      def map(file: String, contents: String): IterableOnce[KV] = emitted
      def zero: Long = 0L
      def fold(n: Long, value: String): Long = n + 1
      def merge(a: Long, b: Long): Long = a + b
      def finish(n: Long): String = n.toString
      def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    }
    Seq(listing -> "a=y,null=x+z", counting -> "a=1,null=2").foreach { case (app, want) =>
      val parts = MapReduce.run(spark, s"$corpusDir/f1.txt", app, 3).rdd.glom().collect()
      val got = parts.flatten.map(kv => s"${kv.key}=${kv.value}").sorted.mkString(",")
      assert(got === want)
      assert(parts(0).count(_.key == null) === 1, parts(0).toSeq)
    }
  }

  test("run's executed plan has exactly one shuffle and no range partitioning") {
    Seq(Apps.WordCount, Apps.Indexer).foreach { app =>
      val ds = MapReduce.run(spark, s"$corpusDir/*.txt", app, 3)
      ds.collect()
      val plan = ds.queryExecution.executedPlan
      val shuffles = Plans.collect(plan) { case e: ShuffleExchangeExec => e }
      assert(shuffles.map(_.shuffleOrigin) === Seq(REPARTITION_BY_NUM), plan.toString)
      assert(Plans.collect(plan) { case p if p.outputPartitioning.isInstanceOf[RangePartitioning] => p }
        .isEmpty, plan.toString)
    }
  }

  test("generic wordcount equals algebraic wordcount") {
    Seq(1, 3, 8).foreach { n =>
      def layout(app: MRApp) = MapReduce.run(spark, s"$corpusDir/*.txt", app, n)
        .rdd.glom().collect().map(_.toSeq).toSeq
      val combined = layout(Apps.WordCount)
      assert(combined.flatten.nonEmpty)
      assert(combined === layout(Uncombined(Apps.WordCount)), s"n=$n")
    }
  }

  test("wc shuffles one record per distinct (file, word); a plain MRApp, one per token") {
    val distinctPairs = files.map { case (_, text) => words(text).distinct.size }.sum
    val tokens = files.map { case (_, text) => words(text).size }.sum
    assert(distinctPairs < tokens)
    Seq(1, 3).foreach { n =>
      assert(shuffleRecords(Apps.WordCount, n) === distinctPairs, s"n=$n")
      assert(shuffleRecords(Uncombined(Apps.WordCount), n) === tokens, s"n=$n")
    }
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
