package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
  *     → sort each bucket by key (the paper's reduce-side sort, §3.1 step
  *       5; `src/main/mrsequential.go:59` with nReduce = 1)
  *     → user reduce once per run of equal keys (E5/E7,
  *       `src/mr/worker.go:139-155`)
  *
  * Reduce task i holds exactly bucket i, its keys in order, so a writer
  * straight above `run` emits the reference's `mr-out-i` layout.
  *
  * Scale note: the reduce buffers one key's values at a time — exactly the
  * reference reducer's own contract (it materializes `map[string][]string`);
  * the sort spills to disk like any Spark sort. With nReduce = 1 the whole
  * reduce is one task, as in `mrsequential`. Algebraic apps (e.g. word
  * count) should instead use the DataFrame queries in `graft.queries` or
  * [[Algebraic]], which keep partial aggregation + whole-stage codegen;
  * this generic path exists for arbitrary, non-algebraic reducers.
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
    val bucket = ColumnBridge.column(Fnv1a32Expr(ColumnBridge.expression(col("key")))) % nReduce
    wholeFiles(spark, inputGlob).flatMap { case (f, c) => app.map(f, c) }
      .repartitionById(nReduce, coalesce(bucket, lit(0)))
      .sortWithinPartitions("key")
      .mapPartitions(reduceRuns(app, _))
  }

  /** Call `app.reduce` once per run of equal keys in a key-sorted bucket,
    * holding only the current key's values.
    */
  private def reduceRuns(app: MRApp, sorted: Iterator[KV]): Iterator[KV] = {
    val in = sorted.buffered
    Iterator.continually(in).takeWhile(_.hasNext).map { _ =>
      val key = in.head.key
      val values = List.newBuilder[String]
      while (in.hasNext && in.head.key == key) values += in.next().value
      KV(key, app.reduce(key, values.result()))
    }
  }

  /** Render the reference's `mr-out-*` line format: `"<key> <value>"`
    * (`fmt.Fprintf("%v %v\n")`, reference `src/mr/worker.go:150-155`).
    */
  def toOutputLines(ds: Dataset[KV]): DataFrame =
    ds.toDF().select(concat_ws(" ", col("key"), col("value")).as("value"))

  /** The reference's intermediate-file JSON encoding: one object per line,
    * capitalized field names (`{"Key":…,"Value":…}`, encoder at reference
    * `src/mr/worker.go:96-113`; committed examples `src/main/mr-1-1`).
    */
  def toReferenceJson(ds: Dataset[KV]): DataFrame =
    ds.toDF().select(col("key").as("Key"), col("value").as("Value"))

  /** Read reference-format intermediate files back as KV (decoder parity
    * with `src/mr/worker.go:157-178`).
    */
  def fromReferenceJson(spark: SparkSession, path: String): Dataset[KV] = {
    import spark.implicits._
    spark.read
      .schema("Key STRING, Value STRING")
      .json(path)
      .select(col("Key").as("key"), col("Value").as("value"))
      .as[KV]
  }
}
