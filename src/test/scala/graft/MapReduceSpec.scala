package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.{RangePartitioner, ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

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

  private val files = Seq(
    "f1.txt" -> "the quick brown fox jumps over the lazy dog\nthe fox",
    "f2.txt" -> "pack my box with five dozen liquor jugs; the box",
    "f3.txt" -> "fox dog fox DOG Fox")

  private lazy val corpusDir: String = {
    val d = tempDir("mr-corpus")
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

  /** Every RDD of `rdd`'s lineage, `rdd` first. */
  private def lineage(rdd: RDD[_]): Seq[RDD[_]] = rdd +: rdd.dependencies.flatMap(d => lineage(d.rdd))

  private def shuffles(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
    lineage(rdd).flatMap(_.dependencies).collect { case s: ShuffleDependency[_, _, _] => s }

  /** Records written by the one shuffle of `MapReduce.run(app)`, summed
    * from the task metrics a `SparkListener` sees for that job alone.
    */
  private def shuffleRecords(app: MRApp, nReduce: Int): Long = {
    val rdd = MapReduce.run(spark, s"$corpusDir/*.txt", app, nReduce)
    assert(shuffles(rdd).length === 1)
    val tag = "mapreduce-spec.shuffle-records"
    val token = java.util.UUID.randomUUID().toString
    // the bus calls the listener from one thread, and the latch publishes
    // its writes to this one
    var jobId = -1
    var stages = Set.empty[Int]
    var written = 0L
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) == token)) {
          jobId = e.jobId
          stages = e.stageIds.toSet
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written += e.taskMetrics.shuffleWriteMetrics.recordsWritten
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == jobId) ended.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, token)
    try {
      rdd.collect()
      assert(ended.await(30, TimeUnit.SECONDS), "the job's end never reached the listener")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    written
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
      val parts = MapReduce.run(spark, s"$corpusDir/*.txt", app, n).glom().collect()
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
    }
    Seq(listing -> "a=y,null=x+z", counting -> "a=1,null=2").foreach { case (app, want) =>
      val parts = MapReduce.run(spark, s"$corpusDir/f1.txt", app, 3).glom().collect()
      val got = parts.flatten.map(kv => s"${kv.key}=${kv.value}").sorted.mkString(",")
      assert(got === want)
      assert(parts(0).count(_.key == null) === 1, parts(0).toSeq)
    }
  }

  test("run's lineage has exactly one shuffle and no range partitioning") {
    Seq(Apps.WordCount, Apps.Indexer).foreach { app =>
      val rdd = MapReduce.run(spark, s"$corpusDir/*.txt", app, 3)
      val deps = shuffles(rdd)
      assert(deps.length === 1, rdd.toDebugString)
      assert(deps.head.partitioner.numPartitions === 3, rdd.toDebugString)
      assert(rdd.getNumPartitions === 3)
      val partitioners = lineage(rdd).flatMap(_.partitioner) ++ deps.map(_.partitioner)
      assert(!partitioners.exists(_.isInstanceOf[RangePartitioner[_, _]]), rdd.toDebugString)
    }
  }

  test("a bucket lists U+FF21 before U+10400: key order is code-point order, not UTF-16 order") {
    val deseret = "\uD801\uDC00" // U+10400, a surrogate pair
    val fullwidthA = "\uFF21"
    assert(deseret.compareTo(fullwidthA) < 0) // UTF-16 order would list it first
    val dir = tempDir("mr-planes")
    Files.writeString(dir.resolve("p.txt"), s"$deseret b $fullwidthA $deseret")
    for (app <- Seq(Apps.WordCount, Uncombined(Apps.WordCount))) {
      val got = MapReduce.run(spark, s"$dir/*.txt", app, 1).collect().toSeq
      assert(got === Seq(KV("b", "1"), KV(fullwidthA, "1"), KV(deseret, "2")), app)
    }
  }

  test("generic wordcount equals algebraic wordcount") {
    Seq(1, 3, 8).foreach { n =>
      def layout(app: MRApp) = MapReduce.run(spark, s"$corpusDir/*.txt", app, n)
        .glom().collect().map(_.toSeq).toSeq
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

  test("map sees each file's OS name: no URL escaping of ' ' or '%'") {
    val dir = tempDir("mr-names")
    Files.writeString(dir.resolve("a b.txt"), "x y")
    Files.writeString(dir.resolve("c%d.txt"), "x")
    val got = MapReduce.run(spark, s"$dir/*.txt", Apps.Indexer)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(got === Map("x" -> "2 a b.txt,c%d.txt", "y" -> "1 a b.txt"))
  }

  test("an empty input file still reaches map, as mrsequential reads every file") {
    val dir = tempDir("mr-empty")
    Files.writeString(dir.resolve("empty.txt"), "")
    Files.writeString(dir.resolve("full.txt"), "x")
    val got = MapReduce.run(spark, s"$dir/*.txt", Apps.PerFileCount)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(got === Map("empty.txt" -> "1", "full.txt" -> "1"))
  }

  test("KvFold app: sorted space-joined values per fixed key") {
    val got = MapReduce.run(spark, s"$corpusDir/*.txt", Apps.KvFold)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(got("a") === "f1.txt f2.txt f3.txt")
    assert(got("d") === "xyzzy xyzzy xyzzy")
  }
}
