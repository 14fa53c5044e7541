package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.Fnv1a32Expr

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
  * §4.3). `reduce` is derived from the fold, so both paths agree.
  */
trait AlgebraicApp[B] extends MRApp {
  def zero: B
  def fold(b: B, value: String): B
  def merge(a: B, b: B): B
  def finish(b: B): String
  def bufferEncoder: Encoder[B]
  final def reduce(key: String, values: Seq[String]): String =
    finish(values.foldLeft(zero)(fold))
}

/** The generic MapReduce engine, re-expressed on Spark.
  *
  * The reference's coordinator/worker/RPC machinery (E9-E12 in SURVEY §2.1)
  * is NOT ported: Spark's DAGScheduler + shuffle + task retry +
  * `spark.speculation` already implement scheduling, the map→reduce barrier,
  * straggler re-execution and exactly-once-visible output (atomic rename ==
  * FileOutputCommitter). What remains is the dataflow itself:
  *
  *   whole-file scan (E1, `src/mr/worker.go:73-84`)
  *     → flatMap of the user map fn (E2, `src/mr/worker.go:83`)
  *     → ONE shuffle straight into reduce bucket `ihash(key) % nReduce`
  *       (E3/E4, `src/mr/worker.go:25-29,86-113`)
  *     → [[SortedRuns]]: sort each bucket by key (the paper's reduce-side
  *       sort, §3.1 step 5; `src/main/mrsequential.go:59` with nReduce = 1)
  *       and call the user reduce once per run of equal keys (E5/E7,
  *       `src/mr/worker.go:139-155`)
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
  * keys, which the `wholetext` scan already holds in memory.
  *
  * Scale note: the generic reduce buffers one key's values at a time —
  * exactly the reference reducer's own contract (it materializes
  * `map[string][]string`); the sort spills to disk like any Spark sort.
  * With nReduce = 1 the whole reduce is one task, as in `mrsequential`.
  */
object MapReduce {

  /** Scan input files as (fileName, wholeContents) — one record per file,
    * mirroring E1. `input_file_name` yields a URI; `fileName` keeps just the
    * final path segment, matching how the reference passes plain filenames.
    */
  def wholeFiles(spark: SparkSession, inputGlob: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(inputGlob)
      .select(
        element_at(split(input_file_name(), "/"), -1).as("file"),
        col("value").as("contents"))
      .as[(String, String)]
  }

  /** Run an MRApp end-to-end; result partition i is reduce bucket
    * `Fnv1a32(key) % nReduce` (a null key goes to bucket 0), sorted by key.
    * The bucket is a `repartitionById` (REPARTITION_BY_NUM), which AQE
    * never coalesces, so the layout holds after execution too.
    */
  def run(spark: SparkSession, inputGlob: String, app: MRApp, nReduce: Int = 10): Dataset[KV] = {
    import spark.implicits._
    val files = wholeFiles(spark, inputGlob)
    app match {
      case a: AlgebraicApp[b] =>
        // the per-file combine: one buffer per key of this file's map output
        val combined = files.flatMap { case (f, c) =>
          val bufs = mutable.HashMap.empty[String, b]
          a.map(f, c).iterator.foreach(kv => bufs(kv.key) = a.fold(bufs.getOrElse(kv.key, a.zero), kv.value))
          bufs
        }(Encoders.tuple(Encoders.STRING, a.bufferEncoder))
        SortedRuns(buckets(combined, col("_1"), nReduce), col("_1"))(_._1) { (k, run) =>
          Iterator.single(KV(k, a.finish(run.foldLeft(a.zero)((acc, kb) => a.merge(acc, kb._2)))))
        }
      case _ =>
        val kvs = files.flatMap { case (f, c) => app.map(f, c) }
        SortedRuns(buckets(kvs, col("key"), nReduce), col("key"))(_.key) { (k, run) =>
          Iterator.single(KV(k, app.reduce(k, run.map(_.value).toList)))
        }
    }
  }

  /** Shuffle each record to bucket `Fnv1a32(key) % nReduce`. */
  private def buckets[T](ds: Dataset[T], key: Column, nReduce: Int): Dataset[T] =
    ds.repartitionById(nReduce, coalesce(
      ColumnBridge.column(Fnv1a32Expr(ColumnBridge.expression(key))) % nReduce, lit(0)))

  /** Render the reference's `mr-out-*` line format: `"<key> <value>"`
    * (`fmt.Fprintf("%v %v\n")`, reference `src/mr/worker.go:150-155`).
    */
  def toOutputLines(ds: Dataset[KV]): DataFrame =
    ds.toDF().select(concat_ws(" ", col("key"), col("value")).as("value"))
}
