package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

import graft.functions.Fnv1a32

/** One intermediate/output record of the MapReduce surface — the reference's
  * only data type (`KeyValue{Key,Value string}`, reference
  * `src/mr/worker.go:18-21`; SURVEY §1.1).
  */
case class KV(key: String, value: String)

/** A user Map/Reduce application — the reference's plugin contract
  * (`Map(filename, contents) []KeyValue`, `Reduce(key, values []string)
  * string`; reference `src/mrapps/wc.go:14-18,34-36`, loaded at
  * `src/main/mrworker.go:32-49`).
  */
trait MRApp extends Serializable {
  def map(file: String, contents: String): IterableOnce[KV]
  def reduce(key: String, values: Seq[String]): String
}

/** An MRApp whose reduce is a fold into a commutative monoid `B`
  * (`zero`, `merge`), so `MapReduce.run` may combine each file's map
  * output before the shuffle — the paper's Combiner (Dean & Ghemawat
  * §4.3). `reduce` is derived from the fold, so both paths agree. The
  * buffers cross the shuffle through Spark's default serializer, so a
  * `B` must be serializable.
  */
trait AlgebraicApp[B] extends MRApp {
  def zero: B
  def fold(b: B, value: String): B
  def merge(a: B, b: B): B
  def finish(b: B): String
  final def reduce(key: String, values: Seq[String]): String =
    finish(values.foldLeft(zero)(fold))
}

/** The generic MapReduce engine, re-expressed on Spark's RDD shuffle.
  *
  * The reference's coordinator/worker/RPC machinery (E9-E12 in SURVEY §2.1)
  * is NOT ported: Spark's DAGScheduler + shuffle + task retry +
  * `spark.speculation` already implement scheduling, the map→reduce barrier
  * and straggler re-execution, and its one-winner-per-partition result
  * gives `graft.cli.Main` exactly-once-visible output: each reduce attempt
  * stages its own file and the driver renames the winners into place
  * (the reference's temp file + `os.Rename`, `src/mr/worker.go:180-219`).
  * What remains is the dataflow itself, and its user
  * functions are opaque to Catalyst, so it is one RDD pipeline — no query
  * plan and no generated code per job:
  *
  *   `wholeTextFiles` scan (E1, `src/mr/worker.go:73-84`)
  *     → flatMap of the user map fn (E2, `src/mr/worker.go:83`)
  *     → ONE shuffle straight into reduce bucket `ihash(key) % nReduce`
  *       (E3/E4, `src/mr/worker.go:25-29,86-113`), each bucket sorted by
  *       key in the shuffle reader (the paper's reduce-side sort, §3.1
  *       step 5; `src/main/mrsequential.go:59` with nReduce = 1)
  *     → [[SortedRuns]]: the user reduce once per run of equal keys
  *       (E5/E7, `src/mr/worker.go:139-155`)
  *
  * Reduce task i holds exactly bucket i, its keys in order, so a writer
  * straight above `run` emits the reference's `mr-out-i` layout.
  *
  * A plain [[MRApp]] keeps the reference contract: no combiner, the
  * reducer sees every value of its key (`src/mr/worker.go:150-155`; the
  * jobcount test, `src/main/test-mr.sh:210-218`). An [[AlgebraicApp]]
  * (word count) is combined per input file instead: each file's map
  * output is folded into one buffer per key before the shuffle, and each
  * run of equal keys merges those buffers. The combine holds one file's
  * keys, which the whole-file scan already holds in memory.
  *
  * Scale note: the generic reduce buffers one key's values at a time —
  * exactly the reference reducer's own contract (it materializes
  * `map[string][]string`); the shuffle's sort spills to disk like any
  * Spark sort. With nReduce = 1 the whole reduce is one task, as in
  * `mrsequential`.
  */
object MapReduce {

  /** Bucket `Fnv1a32(UTF-8 key) % nReduce`; a null key goes to bucket 0. */
  private case class FnvPartitioner(numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key match {
      case k: String => Fnv1a32.hash(k.getBytes(UTF_8)) % numPartitions
      case _ => 0
    }
  }

  /** Null first, then code-point order — the order of the keys' UTF-8
    * bytes, which is how Spark SQL sorts strings. `String.compareTo`
    * compares UTF-16 units instead, which puts a supplementary-plane
    * key (a surrogate pair, D800-DFFF) before a BMP key from E000-FFFF.
    */
  private object CodePointOrder extends Ordering[String] {
    /** UTF-16 unit → its rank in code-point order at a first mismatch. */
    private def rank(c: Char): Int =
      if (c >= 0xe000) c - 0x800 else if (c >= 0xd800) c + 0x2000 else c

    def compare(a: String, b: String): Int =
      if (a eq b) 0
      else if (a == null) -1
      else if (b == null) 1
      else {
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n && a.charAt(i) == b.charAt(i)) i += 1
        if (i < n) rank(a.charAt(i)) - rank(b.charAt(i)) else a.length - b.length
      }
  }

  /** Run an MRApp end-to-end; result partition i is reduce bucket
    * `Fnv1a32(key) % nReduce` (a null key goes to bucket 0), sorted by key
    * in [[CodePointOrder]]. `map` sees each file's own name (the last
    * path segment, unescaped), as `mrsequential` passes it.
    */
  def run(spark: SparkSession, inputGlob: String, app: MRApp, nReduce: Int = 10): RDD[KV] = {
    val sc = spark.sparkContext
    val files = sc.wholeTextFiles(inputGlob, sc.defaultParallelism)
      .map { case (path, contents) => (path.substring(path.lastIndexOf('/') + 1), contents) }
    app match {
      case a: AlgebraicApp[b] =>
        // `b` is erased, so its buffers cross the shuffle through the
        // default serializer
        implicit val bufTag: ClassTag[b] = ClassTag.AnyRef.asInstanceOf[ClassTag[b]]
        // the per-file combine: one buffer per key of this file's map output
        val combined = files.flatMap { case (f, c) =>
          val bufs = mutable.HashMap.empty[String, b]
          a.map(f, c).iterator.foreach(kv => bufs(kv.key) = a.fold(bufs.getOrElse(kv.key, a.zero), kv.value))
          bufs
        }
        reduceRuns(combined, nReduce) { (k, run) =>
          KV(k, a.finish(run.foldLeft(a.zero)((acc, kb) => a.merge(acc, kb._2))))
        }
      case _ =>
        val kvs = files.flatMap { case (f, c) => app.map(f, c).iterator.map(kv => kv.key -> kv.value) }
        reduceRuns(kvs, nReduce)((k, run) => KV(k, app.reduce(k, run.map(_._2).toList)))
    }
  }

  /** Shuffle each pair to its FNV bucket, sorted by key in the shuffle
    * reader, and call `reduce` once per run of equal keys.
    */
  private def reduceRuns[V: ClassTag](pairs: RDD[(String, V)], nReduce: Int)(
      reduce: (String, Iterator[(String, V)]) => KV): RDD[KV] = {
    implicit val order: Ordering[String] = CodePointOrder
    pairs.repartitionAndSortWithinPartitions(FnvPartitioner(nReduce))
      .mapPartitions(SortedRuns.runs(_)(_._1)((k, run) => Iterator.single(reduce(k, run))))
  }

  /** Render the reference's `mr-out-*` line format: `"<key> <value>"`
    * (`fmt.Fprintf("%v %v\n")`, reference `src/mr/worker.go:150-155`);
    * a null side is left out, as SQL's `concat_ws` does.
    */
  def toOutputLines(kvs: RDD[KV]): RDD[String] =
    kvs.map(kv => Iterator(kv.key, kv.value).filter(_ != null).mkString(" "))
}
