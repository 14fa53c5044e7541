package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec

/** GraftSession raises the ObjectHashAggregate sort-fallback threshold to
  * 2^22 keys SESSION-WIDE (the sf100 fix). That removes the spill safety
  * valve for every ObjectHashAggregate — including ones whose per-group
  * buffer GROWS with group size (collect_list/collect_set): under key
  * cardinality the old 128-key fallback would have spilled, the raised
  * threshold instead holds up to 2^22 groups' buffers in the task heap.
  *
  * This audit makes the raise safe by construction (round-15 advice,
  * medium): every ObjectHashAggregate node in the full 141-query inventory
  * must carry ONLY bounded-state aggregate buffers — O(k)/O(sketch) per
  * group regardless of group size — or appear in an explicit per-query
  * allowlist whose justification bounds EITHER the per-group buffer (the
  * collected value count is capped by construction) OR the task-local key
  * cardinality. A new query that puts an unbounded collect into an
  * ObjectHashAggregate fails here with the offending plan named, forcing
  * the review to bound it or consciously extend the allowlist.
  */
class ObjectHashAggregateAuditSpec extends SparkTestBase {

  private def nodes(p: SparkPlan): Seq[ObjectHashAggregateExec] = {
    val here = p match {
      case o: ObjectHashAggregateExec => Seq(o)
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => Seq.empty
    }
    here ++ p.children.flatMap(nodes)
  }

  private val dir = sf("sf0.001")

  /** Aggregate buffers that are bounded-size per group BY TYPE: the
    * engine's own O(k) heaps/summaries and Spark's fixed-size sketches.
    */
  private def boundedByType(f: AggregateFunction): Boolean = f match {
    case _: graft.functions.TopKLongsAgg => true // k-slot heap
    case _: graft.functions.FreqItemsAgg => true // Misra-Gries k-counter map
    case other =>
      Set(
        "HyperLogLogPlusPlus", // fixed register array
        "ApproximatePercentile", // QuantileSummaries, compressed to O(1/err)
        "CountMinSketchAgg", // fixed depth×width
        "BloomFilterAggregate" // fixed bit array
      ).contains(other.getClass.getSimpleName)
  }

  /** Queries whose ObjectHashAggregate carries a collect_list/collect_set
    * buffer (growing with group size) that is nonetheless safe in hash
    * mode. Two honest justification shapes:
    *
    *  (a) BOUNDED BY CONSTRUCTION — the group's collected count is capped
    *      by a fixed constant or an upstream cap, independent of corpus
    *      size.
    *  (b) OUTPUT-SIZED — the collected list IS the query's declared
    *      output payload (posting list, fold, journey): a task's total
    *      buffer mass equals its shuffle-partition share of the result
    *      the query must materialize anyway, so the memory bound is the
    *      partition-sizing discipline every hash aggregate relies on; the
    *      sort fallback would not shrink the result, only stream it — a
    *      fair trade the 128-key default never gets to make at 2^22.
    */
  private val unboundedAllowed: Map[String, String] = Map(
    "inverted_index" -> "(b) per-word doc-id set IS the posting-list output; task mass = its partition share of the result",
    "kv_fold" -> "(b) reference crash.go fold semantics: the concatenated value list IS the output; key domain is the fixed lang set",
    "user_journey" -> "(b) per-user event structs ARE the journey payload a sequence trainer reads; group size = per-user activity (the sessionize bound, measured under Zipf skew in BENCH_skew)",
    "bpe_vocab" -> "(a) collects the bpe_train merge table: <= BpeRounds (10) structs in ONE group",
    "triangle_count" -> "(a) PostingPairs over neighbor lists collected AFTER degree orientation: oriented out-degree <= O(sqrt(|E|)) per group",
    "link_predict" -> "(a) PostingPairs over the dup-graph adjacency: per-group degree capped upstream by dedup_minhash's MaxBandBucket hot-bucket rule; the O(d^2) pair expansion, not the O(d) buffer, is the governing cost and is the documented capped design",
    "ann_pq" -> "(a) fixed-size groups: PqM structs per codeword reassembly / PqM*PqK=2048 table entries per query",
    "ann_recall_report" -> "(a) composes ann_pq's fixed-size ADC-table collects; no new collect shape of its own",
    "media_neardup" -> "(a) PostingPairs per-fingerprint doc list capped at FpDfCap by its anti-join (df > cap rows never reach the collect)")

  test("every ObjectHashAggregate in the inventory carries bounded buffers (or is justified)") {
    val offenders = SparkEntry.all.toSeq.flatMap { case (name, q) =>
      val unbounded = nodes(q.fn(spark, dir).queryExecution.executedPlan)
        .flatMap(_.aggregateExpressions.map(_.aggregateFunction))
        .filterNot(boundedByType)
      if (unbounded.nonEmpty && !unboundedAllowed.contains(name))
        Some(s"$name: ${unbounded.map(f => f.prettyName).distinct.mkString(", ")}")
      else None
    }
    assert(offenders.isEmpty,
      "ObjectHashAggregate with growing (non-bounded) buffers outside the " +
        "justified allowlist — bound the buffer or extend unboundedAllowed " +
        s"with a real justification:\n  ${offenders.mkString("\n  ")}")
  }

  test("allowlist stays tight: no stale entries") {
    // an allowlisted query that no longer plans an unbounded-buffer
    // ObjectHashAggregate must leave the list (mirror of PlanGuardSpec's
    // staleness rule)
    val stale = unboundedAllowed.keys.filter { name =>
      nodes(SparkEntry.all(name).fn(spark, dir).queryExecution.executedPlan)
        .flatMap(_.aggregateExpressions.map(_.aggregateFunction))
        .forall(boundedByType)
    }
    assert(stale.isEmpty, s"stale allowlist entries: ${stale.mkString(", ")}")
  }
}
