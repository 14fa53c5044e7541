package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._

import graft.functions.TopKLongsAgg

/** GraftSession is the single source of truth for engine-required session
  * configuration (round-15 verdict #2: the sf100 hash-mode fix must travel
  * to EVERY entry point, including an embedder's caller-built session).
  *
  * The forced-fallback test reproduces the failure class the conf fixes,
  * at toy scale: a bounded top-k heap aggregation over MORE distinct keys
  * per task than the 128-key default threshold. With the default conf the
  * ObjectHashAggregate abandons hash mode and sorts its input (the
  * behavior that spilled ~300 GB and died at sf100); with GraftSession
  * applied it stays in hash mode — asserted via the operator's own
  * `numTasksFallBacked` metric, not by timing.
  */
class GraftSessionSpec extends SparkTestBase {

  /** Recursively collect ObjectHashAggregateExec nodes, crossing AQE
    * wrapper and query-stage boundaries (both are leaves to `collect`).
    */
  private def objectHashNodes(p: SparkPlan): Seq[ObjectHashAggregateExec] = {
    val here = p match {
      case o: ObjectHashAggregateExec => Seq(o)
      case a: AdaptiveSparkPlanExec => objectHashNodes(a.executedPlan)
      case q: QueryStageExec => objectHashNodes(q.plan)
      case _ => Seq.empty
    }
    here ++ p.children.flatMap(objectHashNodes)
  }

  /** Build a FRESH plan each call — the fallback conf is captured at
    * execution, so re-using one DataFrame would pin the first run's conf.
    * 4000 rows → 1000 distinct groups forced into ONE task's hash map.
    */
  private def heapAgg(s: SparkSession): DataFrame =
    s.range(0, 4000).repartition(1)
      .groupBy((col("id") % 1000).as("g"))
      .agg(TopKLongsAgg(col("id"), 4).as("tk"))

  private def fallbackTasks(df: DataFrame): Long = {
    // execute THIS queryExecution (df.write would plan and execute a
    // separate one, leaving these nodes' metrics untouched)
    df.collect()
    val nodes = objectHashNodes(df.queryExecution.executedPlan)
    assert(nodes.nonEmpty, "scenario must plan an ObjectHashAggregate")
    nodes.map(_.metrics("numTasksFallBacked").value).sum
  }

  test("embedder session: GraftSession(spark) keeps the bounded heap agg in hash mode past 128 keys") {
    // the embedder path: a session graft did NOT build (newSession shares
    // the context but takes its own SQLConf), with the Spark default
    // threshold restored — first PROVE the scenario trips the sort
    // fallback at the default, so the green assertion below means
    // something
    val embedder = spark.newSession()
    embedder.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
    assert(fallbackTasks(heapAgg(embedder)) > 0,
      "control failed: 1000 keys at the 128-key default must trip the sort fallback")

    // one GraftSession call is the documented embedder contract
    GraftSession(embedder)
    assert(embedder.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ===
      GraftSession.HashAggFallbackThreshold.toString)
    assert(fallbackTasks(heapAgg(embedder)) === 0,
      "hash mode must hold for the bounded heap after GraftSession(spark)")
  }

  test("the engine's own entry-point builder carries every required conf") {
    // SparkTestBase builds through GraftSession.configure — the same path
    // as Verify, the dev mains and the CLI; assert the session
    // actually running this inventory has every required value
    (GraftSession.runtimeConfs ++ GraftSession.staticConfs).foreach {
      case (k, v) => assert(spark.conf.get(k) === v, s"conf $k")
    }
  }

  test("static-conf verification: match passes, mismatch and default both diagnose") {
    // a test cannot re-create the JVM's first session to force a REAL
    // static mismatch, so the check is a pure function — exercise all
    // three branches, then the integrated pass on this JVM's session
    // (whose static conf SparkTestBase set through GraftSession.configure)
    val (k, v) = GraftSession.staticConfs.head
    assert(GraftSession.staticConfError(k, v, Some(v)).isEmpty)
    assert(GraftSession.staticConfError(k, v, Some("100")).exists(_.contains(k)))
    assert(GraftSession.staticConfError(k, v, None).exists(_.contains("<default>")))
    GraftSession(spark.newSession()) // integrated: must not throw in this JVM
    succeed
  }
}
