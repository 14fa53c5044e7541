package graft.operators

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

/** Algebraic reduce path (SURVEY §7.3): the generic `MapReduce.run`
  * matches the reference exactly — the reducer sees *all* values of a key
  * at once (`src/mr/worker.go:150-155`, no combiners; confirmed by the
  * jobcount contract, `src/main/test-mr.sh:210-218`). But when a user
  * reduce is algebraic (commutative monoid), Spark can do strictly better
  * than the reference: a typed `Aggregator` regains map-side partial
  * aggregation, so a key's values never materialize in one place — the
  * difference between O(values-per-key) memory and O(1) at 100 TB.
  */
object Algebraic {

  /** An algebraic MR reduce: fold values into a buffer monoid. */
  trait AlgebraicApp[B] extends Serializable {
    def map(file: String, contents: String): IterableOnce[KV]
    def zero: B
    def fold(b: B, value: String): B
    def merge(a: B, b: B): B
    def finish(b: B): String
    def bufferEncoder: Encoder[B]
  }

  /** Word count as an algebraic app — same output as Apps.WordCount but
    * with partial aggregation (the count monoid).
    */
  object WordCountAlgebraic extends AlgebraicApp[Long] {
    def map(file: String, contents: String): IterableOnce[KV] =
      Apps.WordCount.map(file, contents)
    def zero = 0L
    def fold(b: Long, value: String): Long = b + 1L
    def merge(a: Long, b: Long): Long = a + b
    def finish(b: Long): String = b.toString
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Run an algebraic app: same dataflow as MapReduce.run, but the reduce
    * is a Spark `Aggregator` → `HashAggregate` with map-side combine
    * instead of a sorted reduce over fully-gathered values.
    */
  def run[B](spark: SparkSession, inputGlob: String, app: AlgebraicApp[B]): Dataset[KV] = {
    import spark.implicits._
    val agg = new Aggregator[KV, B, String] {
      def zero: B = app.zero
      def reduce(b: B, kv: KV): B = app.fold(b, kv.value)
      def merge(a: B, b: B): B = app.merge(a, b)
      def finish(b: B): String = app.finish(b)
      def bufferEncoder: Encoder[B] = app.bufferEncoder
      def outputEncoder: Encoder[String] = Encoders.STRING
    }
    MapReduce.wholeFiles(spark, inputGlob)
      .flatMap { case (f, c) => app.map(f, c) }
      .groupByKey(_.key)
      .agg(agg.toColumn.name("value"))
      .map { case (k, v) => KV(k, v) }
  }
}
