package graft

import org.apache.spark.sql.functions._

/** Capability probe: AQE SKEW-JOIN handling — the runtime guard the
  * engine's fact⋈fact joins (order_revenue, anti_join) rely on when a
  * real corpus hands them a hot key no static plan anticipated.
  *
  * The queries' own salting/capping covers the skew we can PREDICT (hot
  * labels — SimilarityQueries' salt grids; hot minhash buckets and media
  * chunks — PostingPairs' caps); AQE's `OptimizeSkewedJoin` is the
  * declared backstop for the skew we can't.
  * This spec proves the mechanism actually engages in this engine's
  * session configuration: a sort-merge join with one partition holding
  * ~90% of the rows must come out of adaptive replanning with its skewed
  * partition SPLIT (an `AQEShuffleRead` marked `skewed`), and the join
  * result must be byte-identical to the unskewed-config run.
  *
  * Thresholds are lowered in-test (and restored) because the defaults
  * (256 MB) are sized for real executors, not a test corpus: the point
  * is the MECHANISM, not the threshold values.
  */
class SkewCapabilitySpec extends SparkTestBase {

  test("AQE splits a skewed sort-merge join partition; result unchanged") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    def restore(): Unit = saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // hot partition is ~90% of ~3 MB shuffled bytes; these make it
      // qualify as skewed and ask for ~64 KB split targets
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // both broadcast paths off so the join stays a shuffled SMJ
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      import spark.implicits._
      // 200k-row fact, ~90% on key 0 (the unpredicted hot key), plus a
      // filler column so the hot partition's bytes clear the threshold
      val fact = spark.range(0, 200000).toDF("id")
        .select(
          when(col("id") % 10 < 9, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("v"),
          concat(lit("x" * 64), col("id")).as("pad"))
      val dim = spark.range(0, 1000).toDF("k")
        .select(col("k"), concat(lit("d"), col("k")).as("name"))

      // NOTE: the probe consumes the JOIN OUTPUT directly. A keyed
      // aggregation right after the join would REQUIRE the join's hash
      // partitioning, and OptimizeSkewedJoin (correctly) refuses to split
      // a partition some downstream operator depends on — the mechanism
      // only engages where splitting is transparent, which is exactly the
      // fact⋈fact-then-reshape shape order_revenue ends in.
      val joined = fact.hint("merge").join(dim, "k").select(col("k"), col("v"))
      val rows = joined.collect()

      // adaptive replan must have split the hot partition: the final plan
      // reads the skewed shuffle through an AQEShuffleRead marked 'skewed'
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("SortMergeJoin"), s"join must stay SMJ:\n$finalPlan")
      assert(finalPlan.toLowerCase.contains("skewed"),
        s"expected a skewed AQEShuffleRead in the adaptive final plan:\n$finalPlan")

      // and splitting must not change the answer
      restore()
      val control = fact.hint("merge").join(dim, "k").select(col("k"), col("v"))
        .collect()
      def agg(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (k, vs) => k -> (vs.length.toLong, vs.map(_._2).sum) }
      val (got, want) = (agg(rows), agg(control))
      assert(got === want)
      assert(got(0L)._1 === 180000L) // the hot key survived the split intact
    } finally restore()
  }
}
