package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.SortedRuns

/** Relational queries over the TPC-H-ish tables (SURVEY §2.4 Q5, Q6, Q8,
  * Q11, plus window/sessionization coverage).
  *
  * Money aggregation strategy: the driver's numeric columns are
  * decimal-intent doubles (2-dec prices, 2-dec discounts, integral
  * quantities). Sums are computed over *exact integer cents*
  * (`CAST(round(x * 10^s) AS BIGINT)`), which makes them associative,
  * order-independent, and bit-identical between Spark's parallel partial
  * aggregation and the sequential DuckDB oracle — then divided back once at
  * the end (an identical IEEE-754 op on both engines). This is also the
  * right call at 100 TB: long sums partial-aggregate map-side with no
  * floating-point drift across 1000 executors.
  */
object RelationalQueries {

  /** Exact integer sum of a decimal-intent double at `scale` decimals. */
  private def intSum(e: Column, scale: Int): Column =
    sum(round(e * math.pow(10, scale).toLong).cast("long"))

  private def sqlIntSum(e: String, scale: Int): String =
    s"CAST(sum(CAST(round(($e) * ${math.pow(10, scale).toLong}) AS BIGINT)) AS BIGINT)"

  /** The per-user sorted sweep of every bounded-time-window query: a user_id
    * exchange, then [[SortedRuns]] by (user_id, `order`…) hands each user's rows to `sweep`. */
  private def perUserSweep[T, K, U: Encoder](rows: Dataset[T], order: Column*)(user: T => K)(
      sweep: (K, Iterator[T]) => IterableOnce[U]): Dataset[U] =
    SortedRuns(rows.repartition(rows.sparkSession.sessionState.conf.numShufflePartitions,
      col("user_id")), col("user_id") +: order: _*)(user)(sweep)

  // --------------------------------------------------------------- group_agg
  /** Q5 `group_agg` — TPC-H Q1-shaped pricing summary: the canonical
    * MapReduce aggregate (map = classify, reduce = fold), expressed so
    * Catalyst plans scan → partial hash agg → single shuffle on the two
    * grouping keys → final agg.
    */
  def groupAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val discPrice = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charge = discPrice * (lit(1) + col("l_tax"))
    li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
      sum(col("l_quantity").cast("long")).as("sum_qty"),
      (intSum(col("l_extendedprice"), 2) / 100.0).as("sum_base_price"),
      (intSum(discPrice, 4) / 10000.0).as("sum_disc_price"),
      (intSum(charge, 6) / 1000000.0).as("sum_charge"),
      (sum(col("l_quantity").cast("long")) / count(lit(1))).as("avg_qty"),
      (intSum(col("l_extendedprice"), 2) / 100.0 / count(lit(1))).as("avg_price"),
      count(lit(1)).as("cnt"))
  }

  val groupAggSql: String = {
    val disc = "l_extendedprice * (1 - l_discount)"
    val charge = s"$disc * (1 + l_tax)"
    s"""SELECT l_returnflag, l_linestatus,
       |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       |       ${sqlIntSum("l_extendedprice", 2)} / 100.0 AS sum_base_price,
       |       ${sqlIntSum(disc, 4)} / 10000.0 AS sum_disc_price,
       |       ${sqlIntSum(charge, 6)} / 1000000.0 AS sum_charge,
       |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) / count(*) AS avg_qty,
       |       ${sqlIntSum("l_extendedprice", 2)} / 100.0 / count(*) AS avg_price,
       |       count(*) AS cnt
       |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin
  }

  // ----------------------------------------------------------- distinct_count
  /** Q6 `distinct_count` — exact distinct users per event type. At 100 TB
    * this is a two-stage shuffle (partial distinct per key); swap to
    * `approx_count_distinct` (HLL) when exactness is negotiable.
    */
  def distinctCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events").groupBy(col("event_type")).agg(
      countDistinct(col("user_id")).as("n_users"),
      count(lit(1)).as("n_events"),
      (intSum(col("value"), 2) / 100.0).as("total_value"))

  val distinctCountSql: String =
    s"""SELECT event_type,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |       count(*) AS n_events,
       |       ${sqlIntSum("value", 2)} / 100.0 AS total_value
       |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- histogram
  /** Q8 `histogram` — per-day / per-type event counts (MR with date-string
    * keys). Day is emitted as a yyyy-MM-dd string: timestamp-free and
    * engine-neutral. `ts` arrives as raw BIGINT nanos (see Tables), so the
    * day boundary is exact integer division, then formatted in UTC.
    */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(
        date_format(timestamp_seconds(expr("ts div 1000000000")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (intSum(col("value"), 2) / 100.0).as("total_value"))

  val histogramSql: String =
    s"""SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       |       count(*) AS n,
       |       ${sqlIntSum("value", 2)} / 100.0 AS total_value
       |FROM events GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------------------- join_enrich
  /** Q11 `join_enrich` — events ⋈ customer ⋈ nation rollup (the reference's
    * MR shape would need a reduce-side join; here Catalyst picks the
    * strategy). `nation` is explicitly broadcast (25 rows at any scale);
    * customer is a shuffle-hash/broadcast candidate AQE resolves from
    * runtime stats. events→customer shuffles on the join key only.
    */
  def joinEnrich(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
    val c = Tables(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val n = Tables(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))
    e.join(c, e("user_id") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name")).agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        (intSum(col("value"), 2) / 100.0).as("total_value"))
  }

  val joinEnrichSql: String =
    s"""SELECT n_name,
       |       count(*) AS n_events,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |       ${sqlIntSum("value", 2)} / 100.0 AS total_value
       |FROM events
       |JOIN customer ON user_id = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name""".stripMargin

  // -------------------------------------------------------------- window_rank
  /** `window_rank` — top-2 orders per customer by total price: the window
    * operator family (reference has none — SURVEY §2.3 — but the engine
    * surface includes it). Single shuffle on o_custkey; ties broken by
    * o_orderkey for a deterministic result.
    */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 2)
  }

  val windowRankSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      |  FROM orders)
      |WHERE rn <= 2""".stripMargin

  // ---------------------------------------------------------------- band_join
  /** `band_join` — the NON-EQUI BROADCAST range join ("rate-card lookup"):
    * every event priced into its declared value band — tiering, billing
    * rate tables, SLA buckets. The band table is a CONSTANT of the query
    * (4 disjoint [lo, hi) tiers covering (0, ∞)), so the right plan is
    * the one Spark is usually scolded for: a BroadcastNestedLoopJoin —
    * of an O(1) relation, evaluated per-row inside the scan stage. The
    * PlanGuard allowlist admits exactly this shape (the codebook
    * adjudication); what it still forbids is a corpus-sized BNLJ.
    *
    * Scale shape: zero corpus shuffles — each row meets the 4-row
    * broadcast scan-locally and the disjoint bands match exactly once, so
    * the only exchange is the final ≤4-row band aggregate. At 100 TB the
    * cost is one scan, same as a CASE ladder, but the band table stays
    * DATA (swappable per tenant/run) instead of plan text.
    */
  val ValueBands: Seq[(String, Double, Double)] = Seq(
    ("tier_0_1", 0.0, 1.0),
    ("tier_1_10", 1.0, 10.0),
    ("tier_10_100", 10.0, 100.0),
    ("tier_100_up", 100.0, 1e18))

  def bandJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = ValueBands.toDF("band", "lo", "hi")
    Tables(spark, dir, "events").select(col("value"))
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_events"),
        (intSum(col("value"), 2) / 100.0).as("total_value"))
  }

  val bandJoinSql: String = {
    val rows = ValueBands.map { case (b, lo, hi) => s"('$b', $lo, $hi)" }
      .mkString(", ")
    s"""SELECT band, count(*) AS n_events,
       |       ${sqlIntSum("e.value", 2)} / 100.0 AS total_value
       |FROM events e
       |JOIN (VALUES $rows) b(band, lo, hi)
       |  ON e.value >= b.lo AND e.value < b.hi
       |GROUP BY band""".stripMargin
  }

  // --------------------------------------------------------------- sessionize
  /** `sessionize` — 30-minute-gap sessionization of the event stream per
    * user (lag window + cumulative flag sum): the batch form of the
    * streaming `mapGroupsWithState` sessionizer. One shuffle on user_id.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id")) // ts = BIGINT nanos
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          (col("ts") - col("prev_ts")) > 1800L * 1000000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  val sessionizeSql: String =
    """WITH x AS (
      |  SELECT user_id, ts, event_id,
      |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events)
      |SELECT user_id,
      |       CAST(sum(CASE WHEN prev_ts IS NULL OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |       count(*) AS n_events
      |FROM x GROUP BY user_id""".stripMargin

  // ------------------------------------------------------------ session_stats
  /** `session_stats` — the SESSION TABLE build ([[sessionize]] counts
    * sessions per user; this MATERIALIZES them): one row per session with
    * its ordinal, event count, start/end, and duration — the
    * fact-table-of-sessions every product-analytics warehouse derives
    * before any engagement metric (time-in-app, bounce, depth) can be
    * asked. Same 30-minute gap rule and (ts, event_id) tie-break as
    * sessionize, so the two queries' session populations agree by
    * construction.
    *
    * Scale shape: ONE user-keyed shuffle for the whole query. The gap
    * flag (lag) and the session ordinal (running sum of flags) are
    * windows over the SAME (user_id | ts, event_id) partition-and-order,
    * so Catalyst reuses one exchange and one sort; the per-session
    * aggregate groups on (user_id, session_idx), which hash partitioning
    * on user_id already clusters — no further exchange (plan-asserted in
    * QueriesSpec). Durations are BIGINT nanos end-to-end.
    */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byTime))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          (col("ts") - col("prev_ts")) > 1800L * 1000000000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ns"), max(col("ts")).as("end_ns"))
      .withColumn("duration_ns", col("end_ns") - col("start_ns"))
  }

  val sessionStatsSql: String =
    """WITH x AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id,
      |         lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t
      |  FROM events),
      |f AS (SELECT user_id, t, event_id,
      |             CASE WHEN prev_t IS NULL OR t - prev_t > 1800000000000 THEN 1 ELSE 0 END AS is_new
      |      FROM x),
      |s AS (SELECT user_id, t,
      |             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      |      FROM f)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |       min(t) AS start_ns, max(t) AS end_ns,
      |       max(t) - min(t) AS duration_ns
      |FROM s GROUP BY user_id, session_idx""".stripMargin

  // --------------------------------------------------------------- asof_join
  /** `asof_join` — for every event, the most recent order of the same
    * customer at or before the event time (the point-in-time / as-of join:
    * feature lookup "state of X as of t", a primitive Spark has no native
    * operator for).
    *
    * Implemented as the SCALABLE form: tag and union both tables on a
    * common integer-nanos time axis, shuffle ONCE on the key, sort by
    * (t, tag, orderkey) within each key partition, and carry the latest
    * order forward with `last(col, ignoreNulls)` over a running ROWS frame.
    * This is O(n log n) with a single exchange — there is no range-join
    * explosion and no per-event probe, so it survives a 100 TB event table
    * where the naive `ON k = k AND o.t <= e.t` inequality join (the oracle
    * formulation below, fine at oracle scale) degenerates to a
    * nested-loop/banded join. Orders sort BEFORE events at an equal
    * timestamp (tag 0 < 1) so `o.t <= e.t` equality is included; ties among
    * same-instant orders resolve to the max o_orderkey — mirrored exactly by
    * the oracle's ORDER BY ... DESC tiebreak. Events with no prior order
    * keep NULL order columns (left-join semantics).
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ (naive wall clock); events.ts is raw
    // naive epoch nanos. Putting both on one integer axis goes through an
    // NTZ→LTZ cast, which reads the SESSION timezone — it must be UTC so the
    // epoch arithmetic is the identity wall-clock mapping the oracle's
    // naive `o_orderdate <= ts` comparison uses, on any machine TZ.
    // Require, don't set: every entry point (Verify, the dev mains, the
    // CLI, tests) pins UTC at session build, and silently mutating
    // the shared session here would change the semantics of every other
    // tz-sensitive query (e.g. pivot_daily's day bucketing) behind the
    // caller's back, in execution-order-dependent ways.
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "asof_join requires spark.sql.session.timeZone=UTC (naive-epoch axis); " +
        "set it at SparkSession build")
    val ev = Tables(spark, dir, "events")
      .select(col("user_id").as("k"), col("ts").as("t"), lit(1).as("tag"),
        col("event_id"),
        lit(null).cast("long").as("okey"), lit(null).cast("double").as("oprice"))
    val od = Tables(spark, dir, "orders")
      .select(col("o_custkey").as("k"),
        (unix_micros(col("o_orderdate").cast("timestamp")) * 1000L).as("t"),
        lit(0).as("tag"),
        lit(null).cast("long").as("event_id"),
        col("o_orderkey").as("okey"), col("o_totalprice").as("oprice"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("tag").asc, col("okey").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(od)
      .withColumn("asof_orderkey", last(col("okey"), ignoreNulls = true).over(w))
      .withColumn("asof_totalprice", last(col("oprice"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("k").as("user_id"),
        col("asof_orderkey"), col("asof_totalprice"))
  }

  val asofJoinSql: String =
    """SELECT e.event_id, e.user_id,
      |       o.o_orderkey AS asof_orderkey, o.o_totalprice AS asof_totalprice
      |FROM events e LEFT JOIN orders o
      |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
      |QUALIFY row_number() OVER (
      |  PARTITION BY e.event_id
      |  ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) = 1""".stripMargin

  // ------------------------------------------------------------- funnel_pairs
  /** `funnel_pairs` — event-sequence pairs: for every event, the same
    * user's events that FOLLOW it within [[FunnelGapS]] (30 min). This is
    * the funnel/attribution primitive ("A then B within Δt") product
    * analytics is built on, and the pair-forming step of session-graph
    * features.
    *
    * Scale shape: the [[perUserSweep]] over runs of equal us, not the
    * naive `BETWEEN` join (a per-user nested loop). A run expires the live
    * rows older than `us − Δ` (inclusive bound), is emitted against every
    * live row (same-µs peers are not followers), then joins them: work is
    * the output pairs plus the user's sort, memory one window. NULL
    * user_id or ts rows form no pair, as in the oracle's join.
    *
    * Time axis: MICROSECONDS — Spark's native timestamp tick, and the
    * exact axis the streaming twin's interval join compares, so batch and
    * stream share semantics down to sub-second follow-ups. The sub-µs
    * truncation of the nanos `ts` applies identically to both compared
    * instants; all arithmetic is BIGINT, so the output hash-matches the
    * oracle exactly.
    */
  val FunnelGapS = 1800L
  val FunnelGapUs: Long = FunnelGapS * 1000000L

  def funnelPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"))
      .filter(col("user_id").isNotNull && col("us").isNotNull)
      .as[(Long, Long, Option[Long])]
    perUserSweep(ev, col("us"))(_._1) { (user, rows) =>
      // live rows: (us, event_id), us non-decreasing
      val live = new scala.collection.mutable.ArrayDeque[(Long, Option[Long])]
      SortedRuns.runs(rows)(_._2) { (us, same) =>
        val run = scala.collection.mutable.ArrayBuffer.from(same.map(_._3))
        while (live.nonEmpty && live.head._1 < us - FunnelGapUs) live.removeHead()
        val earlier = live.size
        live ++= run.map(us -> _)
        Iterator.range(0, earlier).flatMap { i =>
          val (ua, ea) = live(i)
          run.iterator.map(eb => (ea, eb, user, us - ua))
        }
      }
    }.toDF("event_id", "next_event_id", "user_id", "gap_us")
  }

  val funnelPairsSql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events)
       |SELECT a.event_id, b.event_id AS next_event_id, a.user_id, b.us - a.us AS gap_us
       |FROM e a JOIN e b
       |  ON b.user_id = a.user_id AND b.us > a.us AND b.us <= a.us + $FunnelGapUs""".stripMargin

  // ------------------------------------------------------------ interval_join
  /** `interval_join` — the GENERAL bounded-interval join ([[funnelPairs]]
    * is the symmetric self-join special case): an ANCHOR relation opening
    * per-row time windows, a PROBE relation matched into them, aggregated
    * per anchor with zero-fill. Here the incident-impact staple: for every
    * `error` event, the same user's activity in the following hour — did
    * the error stall them or did they recover? The naive plan
    * (`ON user = user AND t BETWEEN t0 AND t0 + Δ`) is a per-user nested
    * loop; a RANGE window cannot express it (two relations).
    *
    * Scale shape: the [[perUserSweep]] over a union of two row kinds —
    * every event PROBES, every error also ANCHORS, probes first at equal
    * µs. A probe expires and emits the anchors with `t0 < us − Δ`, then
    * adds 1 and its cents to every live anchor; anchors live at the
    * user's end are flushed, so each is emitted once, with no zero-fill
    * join. Work is the (anchor, follower) pairs plus the user's sort.
    *
    * Axis: integer µs (the funnel convention, BIGINT arithmetic
    * throughout), follower semantics strictly-after: (t0, t0 + Δ]. As in
    * the oracle, an anchor with a NULL user_id, ts or event_id gets
    * (0, 0.0), and a NULL-value follower counts but adds no cents.
    */
  val ImpactWindowUs: Long = 3600000000L // 1-hour impact window
  val AnchorType = "error"

  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"),
        col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    // kind 0 = probe (every event), 1 = anchor (every error)
    val rows = e.select(col("user_id"), col("us"), lit(0).as("kind"), col("event_id"),
        col("cents"))
      .union(e.filter(col("event_type") === AnchorType)
        .select(col("user_id"), col("us"), lit(1).as("kind"), col("event_id"),
          lit(null).cast("long").as("cents")))
      .as[(Option[Long], Option[Long], Int, Option[Long], Option[Long])]
    perUserSweep(rows, col("us"), col("kind"))(_._1) { (_, rows) =>
      val live = new scala.collection.mutable.ArrayDeque[LiveAnchor] // t0-increasing
      def emit(a: LiveAnchor) = (a.eventId, a.user, a.n, a.cents)
      rows.flatMap { case (user, us, kind, eid, cents) =>
        (kind, us) match {
          case (1, Some(t0)) if user.nonEmpty && eid.nonEmpty =>
            live.append(new LiveAnchor(eid, user, t0))
            Iterator.empty
          case (1, _) => Iterator.single((eid, user, 0L, 0L))
          case (_, Some(t)) =>
            val expired = live.removeHeadWhile(_.t0 < t - ImpactWindowUs)
            live.foreach { a => a.n += 1; a.cents += cents.getOrElse(0L) }
            expired.iterator.map(emit)
          case _ => Iterator.empty
        }
      } ++ live.iterator.map(emit)
    }.toDF("event_id", "user_id", "n_follow", "cents")
      .select(col("event_id"), col("user_id"), col("n_follow"),
        (col("cents") / 100.0).as("total_value"))
  }

  /** An [[intervalJoin]] anchor in its window, with its followers so far. */
  private final class LiveAnchor(val eventId: Option[Long], val user: Option[Long], val t0: Long) {
    var n, cents = 0L
  }

  val intervalJoinSql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |                  epoch_ns(ts) // 1000 AS us, value FROM events),
       |a AS (SELECT user_id, event_id, us AS t0 FROM e
       |      WHERE event_type = '$AnchorType'),
       |m AS (SELECT a.event_id, count(*) AS n_follow,
       |             ${sqlIntSum("b.value", 2)} AS cents
       |      FROM a JOIN e b ON b.user_id = a.user_id
       |                     AND b.us > a.t0 AND b.us <= a.t0 + $ImpactWindowUs
       |      GROUP BY a.event_id)
       |SELECT a.event_id, a.user_id,
       |       coalesce(m.n_follow, 0) AS n_follow,
       |       coalesce(m.cents, 0) / 100.0 AS total_value
       |FROM a LEFT JOIN m USING (event_id)""".stripMargin

  // -------------------------------------------------------- funnel_conversion
  /** `funnel_conversion` — the ordered MULTI-STEP funnel ([[funnelPairs]]
    * counts adjacent pairs; this one answers the actual product question):
    * of the users who ever viewed, how many then clicked within a day of
    * their FIRST view, and of those, how many purchased within a day of
    * that first qualifying click? First-touch semantics — each step
    * anchors at the MINIMUM qualifying timestamp, the standard
    * strictly-ordered funnel definition (a click before the first view
    * does not count; neither does one outside the step window).
    *
    * Scale shape: the event stream is filtered to the three step types at
    * the scan (pruned + pushed), each step is one partial-final hash agg
    * to per-user anchor times, and each later step joins the previous
    * step's per-user anchor on user_id — all shuffles are user-keyed and
    * each stage's input only SHRINKS (step-k users ⊆ step-k−1 users). No
    * window over the raw stream, no per-user event collection. The
    * output is the 3-row funnel summary; counts are exact BIGINTs.
    */
  val FunnelStepGapUs = 86400000000L // 1 day per step
  private val FunnelSteps = Seq("view", "click", "purchase")

  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .filter(col("event_type").isin(FunnelSteps: _*))
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
    val s1 = e.filter(col("event_type") === FunnelSteps(0))
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val s2 = e.filter(col("event_type") === FunnelSteps(1))
      .join(s1, Seq("user_id"))
      .filter(col("us") > col("t1") && col("us") <= col("t1") + FunnelStepGapUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
    val s3 = e.filter(col("event_type") === FunnelSteps(2))
      .join(s2, Seq("user_id"))
      .filter(col("us") > col("t2") && col("us") <= col("t2") + FunnelStepGapUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
    val steps = Seq(s1, s2, s3)
    FunnelSteps.zip(steps).zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(s"step${i + 1}_$name").as("step"), col("n_users"))
    }.reduce(_ unionAll _)
  }

  val funnelConversionSql: String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
       |           FROM events
       |           WHERE event_type IN ('view', 'click', 'purchase')),
       |s1 AS (SELECT user_id, min(us) AS t1 FROM e
       |       WHERE event_type = 'view' GROUP BY user_id),
       |s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
       |       WHERE event_type = 'click'
       |         AND us > t1 AND us <= t1 + $FunnelStepGapUs GROUP BY e.user_id),
       |s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
       |       WHERE event_type = 'purchase'
       |         AND us > t2 AND us <= t2 + $FunnelStepGapUs GROUP BY e.user_id)
       |SELECT 'step1_view' AS step, CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
       |UNION ALL
       |SELECT 'step2_click', CAST((SELECT count(*) FROM s2) AS BIGINT)
       |UNION ALL
       |SELECT 'step3_purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)""".stripMargin

  // ------------------------------------------------------------- scd2_history
  /** `scd2_history` — changelog → SLOWLY-CHANGING-DIMENSION (type 2)
    * interval history: collapse each user's event stream to the runs of
    * consecutive equal `event_type`, each run a row with
    * [valid_from_us, valid_to_us) — the dimension-table build every
    * warehouse runs on its CDC feed ([[latestByKey]] is the degenerate
    * "current state only" form; this keeps the full validity history).
    * The open (current) run carries Long.MaxValue as its sentinel end —
    * the standard SCD2 "no end date yet" convention, and it keeps the
    * output null-free (the oracle harness compares sorted multisets and
    * NULL has no portable sort position).
    *
    * Scale shape: ONE user-keyed shuffle total. The change-point filter
    * (lag over (user, time)) and the run-closing lead BOTH partition by
    * user_id, and the second window's (valid_from_us, event_id) order is
    * a subsequence of the first's (us, event_id) order on the filtered
    * rows — Catalyst reuses the exchange AND the sort, so the corpus is
    * shuffled once and the surviving change points (≤ corpus, typically
    * ≪) never re-shuffle. Ties at the same microsecond are broken by
    * event_id in BOTH windows, so run boundaries — and the hash — are
    * deterministic.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    val byStart = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from_us").asc, col("event_id").asc)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byTime))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("us").as("valid_from_us"))
      .withColumn("valid_to_us",
        coalesce(lead(col("valid_from_us"), 1).over(byStart), lit(Long.MaxValue)))
      .select(col("user_id"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"))
  }

  val scd2HistorySql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |                  epoch_ns(ts) // 1000 AS us FROM events),
       |x AS (SELECT user_id, event_id, event_type, us,
       |             lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
       |      FROM e),
       |c AS (SELECT user_id, event_id, event_type, us AS valid_from_us FROM x
       |      WHERE prev_type IS NULL OR prev_type <> event_type)
       |SELECT user_id, event_type, valid_from_us,
       |       coalesce(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY valid_from_us, event_id),
       |                ${Long.MaxValue}) AS valid_to_us
       |FROM c""".stripMargin

  // -------------------------------------------------------- transition_matrix
  /** `transition_matrix` — the first-order Markov transition counts of the
    * event stream: for every (event_type → next event_type) adjacency
    * within a user's time-ordered stream, the transition count and its
    * row-normalized probability — session-path analysis ("what do users
    * do after an error?"), and the input to any sequence model baseline.
    * `share` is one BIGINT÷BIGINT division in an identical IEEE tree both
    * engines, computed over exact counts — hash-safe.
    *
    * Scale shape: the lead window shuffles on user_id once (same axis as
    * [[sessionize]]), the pair count is a partial-final hash agg to
    * ≤ \|types\|² rows, and the row normalization is a window over THAT
    * tiny aggregate — the codebook-window adjudication, never the corpus.
    */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    val byFrom = Window.partitionBy(col("event_type"))
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byTime))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / sum(col("n")).over(byFrom).cast("double"))
  }

  val transitionMatrixSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |                  epoch_ns(ts) // 1000 AS us FROM events),
      |p AS (SELECT event_type,
      |             lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
      |      FROM e),
      |t AS (SELECT event_type, next_type, count(*) AS n FROM p
      |      WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next_type, n,
      |       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) AS share
      |FROM t""".stripMargin

  // --------------------------------------------------------- peak_concurrency
  /** `peak_concurrency` — max concurrent activity presences per day, the
    * classic SWEEP-LINE / interval-overlap query (capacity planning,
    * connection-pool sizing, "how many sessions were live at once"):
    * every event opens a 30-minute presence interval; deltas (+1 at
    * start, −1 at end) are swept in time order and the running sum's
    * per-day maximum is the answer. (Presences are per-EVENT: a user
    * with two events 10 min apart holds two overlapping presences —
    * concurrent load, not distinct users.) Tie order at an identical
    * microsecond is −1 before +1 (an interval ending exactly when
    * another starts does not overlap it); within a tie group all deltas
    * are equal, so the running sum's per-day MULTISET — and hence the
    * max — is deterministic whatever order ties scan in.
    *
    * Scale shape — the naive form is ONE unpartitioned `ORDER BY t`
    * window over every delta: a single task sorting the corpus, the
    * worst plan in this file's repertoire. Instead the standard
    * distributed prefix-sum decomposition: (1) running sums WITHIN each
    * day partition (parallel, map-sized); (2) per-day delta totals
    * collapse to a \|days\|-row table whose exclusive prefix sum is the
    * day's opening concurrency (the only unpartitioned window — over
    * \|days\| rows, the tiny-relation adjudication of the codebook
    * windows); (3) broadcast the offsets back and add. Exact at any
    * corpus size with per-task work bounded by one day's deltas (and a
    * day split further by the same trick with finer buckets if needed).
    * A presence never spans more than 30 min, so it touches ≤ 2 day
    * buckets and the day decomposition stays exact: the −1 lands in
    * whatever bucket the interval END falls in, which is all the prefix
    * sum needs.
    */
  val PresenceUs = 30L * 60 * 1000000 // 30-min presence per event

  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = Tables(spark, dir, "events").select(expr("ts div 1000").as("t"))
    val deltas = ev.select(col("t"), lit(1L).as("d"))
      .unionAll(ev.select((col("t") + PresenceUs).as("t"), lit(-1L).as("d")))
      .withColumn("day_idx", expr(s"t div $dayUs"))
    val local = Window.partitionBy(col("day_idx")).orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // exclusive prefix of per-day totals = concurrency carried INTO the day
    val dayPrefix = Window.orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = deltas.groupBy(col("day_idx")).agg(sum(col("d")).as("dtot"))
      .select(col("day_idx"),
        coalesce(sum(col("dtot")).over(dayPrefix), lit(0L)).as("carry"))
    deltas
      .join(broadcast(offsets), Seq("day_idx"))
      .select(col("day_idx"), (col("carry") + sum(col("d")).over(local)).as("conc"))
      .groupBy(col("day_idx"))
      .agg(max(col("conc")).as("peak"))
  }

  val peakConcurrencySql: String =
    s"""WITH pts AS (
       |  SELECT epoch_ns(ts) // 1000 AS t, 1 AS d FROM events
       |  UNION ALL
       |  SELECT epoch_ns(ts) // 1000 + $PresenceUs, -1 FROM events),
       |c AS (
       |  SELECT t // 86400000000 AS day_idx,
       |         sum(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS conc
       |  FROM pts)
       |SELECT day_idx, CAST(max(conc) AS BIGINT) AS peak
       |FROM c GROUP BY day_idx""".stripMargin

  // ------------------------------------------------------------ order_revenue
  /** `order_revenue` — the plain LARGE⋈LARGE (fact⋈fact) equi-join +
    * aggregation, the single most common warehouse query shape (TPC-H
    * Q3/Q12 family): per-customer revenue from orders ⋈ lineitem on the
    * shared orderkey. Every other equi-join in the inventory has a
    * broadcastable dimension side or a bucketed/salted self-join — this
    * one has two corpus-sized sides, the case that MUST resolve to a
    * shuffle-both-sides SortMergeJoin at scale.
    *
    * Scale shape, in order:
    *   1. lineitem collapses to per-order (revenue, item count) FIRST —
    *      a partial-final hash agg on l_orderkey whose map-side combine
    *      folds the ~4 lines/order before any exchange. Joining raw
    *      lineitem and aggregating after would shuffle 4× the rows to
    *      produce the identical result.
    *   2. orders ⋈ that on orderkey: both sides shuffle ONCE on the
    *      shared key into a SortMergeJoin. `hint("merge")` pins the plan
    *      the optimizer picks from real 100 TB statistics — at test SF
    *      the 15k-row side sits under the broadcast threshold and AQE
    *      would measure the wrong operator. Neither side is hinted or
    *      eligible for broadcast at scale (both grow with the corpus).
    *   3. per-customer rollup: a second partial-final hash agg on
    *      o_custkey — state bounded by customer cardinality.
    * Money arithmetic is exact integer cents-of-cents (scale 4, the
    * price×discount product) like group_agg, so partial aggregation
    * order can never flip the hash; one division back at the end.
    */
  def orderRevenue(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(
        intSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("rev_c4"),
        count(lit(1)).as("n_items"))
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .hint("merge")
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("n_items")).as("n_items"),
        (sum(col("rev_c4")) / 10000.0).as("revenue"))
  }

  val orderRevenueSql: String =
    s"""WITH po AS (
       |  SELECT l_orderkey,
       |         ${sqlIntSum("l_extendedprice * (1 - l_discount)", 4)} AS rev_c4,
       |         count(*) AS n_items
       |  FROM lineitem GROUP BY l_orderkey)
       |SELECT o_custkey,
       |       count(*) AS n_orders,
       |       CAST(sum(n_items) AS BIGINT) AS n_items,
       |       CAST(sum(rev_c4) AS BIGINT) / 10000.0 AS revenue
       |FROM orders JOIN po ON l_orderkey = o_orderkey
       |GROUP BY o_custkey""".stripMargin

  // -------------------------------------------------------- regional_revenue
  /** `regional_revenue` — the canonical STAR-SCHEMA warehouse query (TPC-H
    * Q5 shape, the inventory's widest join: 6 tables): revenue per nation
    * within one region and a date window, counted only where the customer
    * and the supplier share a nation (Q5's signature local-supply
    * condition — it forces BOTH dimension chains to meet at the fact row,
    * which is what makes Q5 the classic join-planning benchmark).
    *
    * Scale shape — the textbook star plan: the two FACT sides (lineitem,
    * date-filtered orders) meet in ONE `hint("merge")`-pinned
    * SortMergeJoin on orderkey, exactly `order_revenue`'s fact⋈fact
    * spine; every DIMENSION (customer, supplier, nation⋈region) attaches
    * by explicit `broadcast()` — O(dims) bytes per executor, zero extra
    * exchanges of the fact stream. The date filter and the 2-column
    * projections push into the scans; the same-nation filter runs
    * scan-local on the joined row before the final ~\|nations\|-group
    * hash agg. Money is integer c4 (price·(1−disc) carries 4 decimals)
    * until one division on the output rows.
    */
  val RevenueRegion = "ASIA"
  val RevenueYearLo = 1995
  val RevenueYearHi = 1997

  def regionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val nations = Tables(spark, dir, "nation")
      .join(Tables(spark, dir, "region").filter(col("r_name") === RevenueRegion),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables(spark, dir, "orders")
      .filter(year(col("o_orderdate")).between(RevenueYearLo, RevenueYearHi))
      .select(col("o_orderkey"), col("o_custkey"))
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .hint("merge")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        (intSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4) / 10000.0)
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val regionalRevenueSql: String =
    s"""SELECT n_name,
       |       ${sqlIntSum("l_extendedprice * (1 - l_discount)", 4)} / 10000.0
       |         AS revenue,
       |       count(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE year(o_orderdate) BETWEEN $RevenueYearLo AND $RevenueYearHi
       |  AND c_nationkey = s_nationkey AND r_name = '$RevenueRegion'
       |GROUP BY n_name""".stripMargin

  // -------------------------------------------------------- reconcile_totals
  /** `reconcile_totals` — two-sided table reconciliation (the FULL OUTER
    * join family, the one join type no other inventory query exercises):
    * does every order header's `o_totalprice` equal the total its
    * lineitems imply, are there headers with no detail rows, detail rows
    * with no header? This is the migration-validation / invariant-audit
    * shape every pipeline runs after a backfill or a dual-write: FULL
    * OUTER join the two independently-derived per-key summaries, classify
    * each key (`match` / `mismatch` / `header_only` / `detail_only`),
    * and aggregate counts + total absolute drift per class. (On the
    * synthetic tables the header-detail invariant does NOT hold — 27
    * header-only orders and zero exact matches at sf0.001 — which is
    * precisely what a reconciliation exists to surface.)
    *
    * Scale shape: lineitem collapses to per-order totals FIRST (one
    * partial-final hash agg, map-side combine over the ~4 lines/order);
    * the FULL OUTER join shuffles both corpus-sized sides ONCE on the
    * shared key into a SortMergeJoin (`hint("merge")` pins the 100 TB
    * plan at test SF, as order_revenue does — neither side of a full
    * outer is broadcastable anyway at scale); the classification is a
    * scan-local CASE over the joined row; the final rollup is a 4-group
    * hash agg. Money stays integer c6 (the group_agg charge scale)
    * end-to-end; the single division to dollars happens on 4 rows.
    */
  def reconcileTotals(spark: SparkSession, dir: String): DataFrame = {
    val charge = col("l_extendedprice") * (lit(1) - col("l_discount")) *
      (lit(1) + col("l_tax"))
    val detail = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(intSum(charge, 6).as("det_c6"))
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"),
        (round(col("o_totalprice") * 100).cast("long") * 10000L).as("hdr_c6"))
      .hint("merge")
      .join(detail, col("o_orderkey") === col("l_orderkey"), "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("l_orderkey")).as("okey"),
        col("hdr_c6"), col("det_c6"))
      .withColumn("status",
        when(col("hdr_c6").isNull, "detail_only")
          .when(col("det_c6").isNull, "header_only")
          .when(col("det_c6") === col("hdr_c6"), "match")
          .otherwise("mismatch"))
      .groupBy(col("status"))
      .agg(
        count(lit(1)).as("n_orders"),
        (sum(abs(coalesce(col("det_c6"), lit(0L)) -
          coalesce(col("hdr_c6"), lit(0L)))) / 1000000.0).as("abs_diff_total"),
        min(col("okey")).as("first_okey"))
  }

  val reconcileTotalsSql: String = {
    val charge = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"
    s"""WITH det AS (
       |  SELECT l_orderkey, ${sqlIntSum(charge, 6)} AS det_c6
       |  FROM lineitem GROUP BY l_orderkey),
       |hdr AS (
       |  SELECT o_orderkey,
       |         CAST(round(o_totalprice * 100) AS BIGINT) * 10000 AS hdr_c6
       |  FROM orders),
       |j AS (
       |  SELECT coalesce(o_orderkey, l_orderkey) AS okey, hdr_c6, det_c6,
       |         CASE WHEN hdr_c6 IS NULL THEN 'detail_only'
       |              WHEN det_c6 IS NULL THEN 'header_only'
       |              WHEN det_c6 = hdr_c6 THEN 'match'
       |              ELSE 'mismatch' END AS status
       |  FROM hdr FULL OUTER JOIN det ON o_orderkey = l_orderkey)
       |SELECT status, count(*) AS n_orders,
       |       CAST(sum(abs(coalesce(det_c6, 0) - coalesce(hdr_c6, 0))) AS BIGINT)
       |         / 1000000.0 AS abs_diff_total,
       |       CAST(min(okey) AS BIGINT) AS first_okey
       |FROM j GROUP BY status""".stripMargin
  }

  // ------------------------------------------------------------ latest_by_key
  /** `latest_by_key` — the latest record per key (CDC log compaction /
    * upsert materialization / "dedup by recency": collapse an append-only
    * event log to the current state of each entity — the shape behind
    * every changelog→snapshot job, and behind versioned-document dedup in
    * a crawl pipeline where re-fetches append rather than overwrite).
    *
    * Implemented as `row_number() = 1` over (user, ts DESC, event_id DESC)
    * rather than a `max_by` aggregate: the ordering key is the (ts,
    * event_id) PAIR — two longs that cannot pack into one — and a
    * struct-ordered `max_by` abandons hash aggregation for a SortAggregate
    * (the ann_ivf lesson, PLANS.md), while `rank = 1` filters over a
    * window trigger Spark's `WindowGroupLimit`: each input partition keeps
    * only its own per-key top-1 BEFORE the exchange, so the shuffle moves
    * ≤ one row per (input partition, live key) — the map-side combine of
    * the window world. One exchange on user_id, per-key state O(1).
    * Deterministic total order: event_id breaks same-microsecond ties.
    */
  def latestByKey(spark: SparkSession, dir: String): DataFrame = {
    // Recency axis = MICROSECONDS (`ts div 1000`, the funnel_pairs
    // convention): Spark reads the parquet nano timestamps as full nanos
    // while the oracle's TIMESTAMP truncates to micros, so ordering by raw
    // nanos could pick a different same-microsecond row than the oracle.
    // Both engines order by (us, event_id DESC) — a deterministic total
    // order; event_id breaks same-microsecond ties.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    Tables(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"),
        col("event_type"), col("value")) // ts = BIGINT nanos
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("us").as("last_ts_us"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value"))
  }

  val latestByKeySql: String =
    """SELECT user_id, epoch_ns(ts) // 1000 AS last_ts_us,
      |       event_id AS last_event_id,
      |       event_type AS last_event_type,
      |       value AS last_value
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- anti_join
  /** `anti_join` — customers with NO urgent order (the NOT EXISTS / LEFT
    * ANTI shape: "entities that never did X" — inactive users, dimensions
    * never referenced by a (filtered) fact, orphan detection). The
    * priority predicate pushes to the orders scan, then the anti join
    * subtracts the surviving key set.
    *
    * Scale shape: filtered orders first collapse to DISTINCT o_custkey —
    * a partial-final hash distinct whose map-side combine folds repeat
    * orders per customer before any exchange (the anti join needs key
    * EXISTENCE, not rows, so shuffling raw orders would move ~10× the
    * data to produce the identical result — order_revenue's
    * pre-aggregation trick applied to a semi-family join). Both sides
    * then shuffle once on custkey into a `hint("merge")`-pinned
    * sort-merge LEFT ANTI join — at real scale both sides are
    * corpus-sized, and at test SF AQE would broadcast the small side and
    * bench the wrong operator; the distinct's exchange is reused as its
    * join exchange.
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgentCust = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT") // pushed to the scan
      .select(col("o_custkey")).distinct()
    Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .hint("merge")
      .join(urgentCust, col("c_custkey") === col("o_custkey"), "left_anti")
  }

  val antiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  // --------------------------------------------------------------- semi_join
  /** `semi_join` — customers WITH at least one urgent order: the EXISTS /
    * LEFT SEMI complement of [[antiJoin]] ("entities that ever did X" —
    * active users, dimensions referenced by a filtered fact). Same
    * predicate as anti_join on purpose: semi ⊎ anti must partition the
    * customer table exactly, which QueriesSpec pins — the pair is
    * self-verifying.
    *
    * Scale shape: identical to anti_join (see there) — filtered orders
    * collapse to DISTINCT o_custkey map-side before any exchange (the semi
    * join needs key existence, not rows), then one shuffle per side into a
    * `hint("merge")`-pinned sort-merge LEFT SEMI join; the distinct's
    * exchange is reused as its join exchange.
    */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgentCust = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT") // pushed to the scan
      .select(col("o_custkey")).distinct()
    Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .hint("merge")
      .join(urgentCust, col("c_custkey") === col("o_custkey"), "left_semi")
  }

  val semiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  // ---------------------------------------------------------- outlier_events
  /** `outlier_events` — per-type 3-sigma outlier detection, EXACTLY: flag
    * events whose value deviates from its type's mean by more than 3
    * standard deviations. The data-quality / anomaly-triage primitive of
    * any metrics pipeline. The test `(v - μ)² > 9σ²` is evaluated in the
    * cross-multiplied integer form `(n·v - s)² > 9·(n·s2 - s²)` over exact
    * integer cents (n = count, s = Σv, s2 = Σv² per type), so mean and
    * variance never appear as rounded intermediates; the two squarings are
    * done in DOUBLE with an identical expression tree on both engines
    * (the products can exceed 2^63 at scale, and identical IEEE-754 op
    * order is bit-reproducible where BIGINT overflow is a crash).
    *
    * Scale shape: one partial-final hash agg collapses the corpus to
    * |event_type| stat rows; those broadcast back onto the scan and the
    * flag is evaluated scan-locally. One shuffle of 5 rows total — the
    * corpus is read once and never reshuffled.
    */
  def outlierEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100).cast("long").as("vc"))
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("vc")).as("s"),
      sum(col("vc") * col("vc")).as("s2"))
    val d = (col("n") * col("vc") - col("s")).cast("double")
    ev.join(broadcast(stats), "event_type")
      .filter(d * d > lit(9.0) * (col("n").cast("double") * col("s2").cast("double")
        - col("s").cast("double") * col("s").cast("double")))
      .select(col("event_id"), col("event_type"), col("value"))
  }

  val outlierEventsSql: String =
    """WITH v AS (SELECT event_id, event_type, value,
      |                  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(vc) AS BIGINT) AS s,
      |             CAST(sum(vc * vc) AS BIGINT) AS s2
      |      FROM v GROUP BY event_type)
      |SELECT event_id, event_type, value FROM v JOIN s USING (event_type)
      |WHERE CAST(n * vc - s AS DOUBLE) * CAST(n * vc - s AS DOUBLE) >
      |      9.0 * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      |             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))""".stripMargin

  // ------------------------------------------------------- retention_cohorts
  /** Distinct (user_id, day) activity grid — the shared spine of
    * [[retentionCohorts]] and [[activeUsers]]: the partial-final hash
    * distinct is the ONLY stage that sees raw events, and its output is
    * bounded by |users|·|days| regardless of corpus size. Memoized so the
    * two queries (and repeated bench invocations) build it once.
    */
  private def activityGrid(spark: SparkSession, dir: String): DataFrame =
    Memo.memoize(spark, dir, "activity_grid")(
      Tables(spark, dir, "events")
        .select(col("user_id"), expr("ts div 86400000000000").as("d"))
        .distinct())

  /** `retention_cohorts` — cohort/retention analysis, the classic product-
    * analytics shape: users grouped by first-activity day (their cohort),
    * then for each (cohort_day, day_offset) the number of cohort members
    * still active that many days later. Day axis = integer day numbers
    * (`ts div 86400000000000`, the rolling_counts convention).
    *
    * Scale shape: the corpus collapses FIRST to the distinct (user, day)
    * activity grid — a partial-final hash distinct bounded by
    * |users|·|days|, the only stage that sees raw events. The cohort day
    * is a `min` window over the user partition (one exchange of the GRID,
    * not the corpus), and the final rollup counts plain rows — (user, day)
    * is already distinct, and a user has exactly one cohort, so no
    * countDistinct pass is ever needed.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val act = activityGrid(spark, dir)
    val w = Window.partitionBy(col("user_id"))
    act.withColumn("cohort_day", min(col("d")).over(w))
      .groupBy(col("cohort_day"), (col("d") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  val retentionCohortsSql: String =
    """WITH act AS (SELECT DISTINCT user_id,
      |                    epoch_ns(ts) // 86400000000000 AS day_idx FROM events),
      |c AS (SELECT user_id, day_idx,
      |             min(day_idx) OVER (PARTITION BY user_id) AS cohort_day FROM act)
      |SELECT cohort_day, day_idx - cohort_day AS day_offset,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM c GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------- active_users
  /** `active_users` — DAU/WAU: for every day in the observed span, the
    * number of distinct users active that day and in the trailing 7-day
    * window [day−6, day]. The growth-dashboard staple — and the one
    * rolling metric a RANGE window CANNOT express, because rolling
    * DISTINCT does not decompose into mergeable per-day partials
    * (`rolling_counts`' windowed `sum(n)` trick silently overcounts
    * users active on several days of the window).
    *
    * The exact-at-scale decomposition: collapse the corpus to the
    * distinct (user, day) grid FIRST (the only corpus-sized stage, same
    * spine as `retention_cohorts`), then explode each grid row into the
    * ≤7 window-days it covers and DISTINCT again — a user active twice
    * inside one window contributes two covered-day rows that collapse to
    * one — so the final per-day count is a plain row count. Every stage
    * after the first is bounded by 7·|users|·|days|, independent of
    * corpus size. The day spine densifies gaps (hourly_gapfill
    * convention): a day with no activity still reports its WAU from the
    * trailing window, with DAU zero-filled.
    */
  def activeUsers(spark: SparkSession, dir: String): DataFrame = {
    val act = activityGrid(spark, dir)
    val bounds = act.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
    val spine = bounds
      .select(explode(sequence(col("dmin"), col("dmax"))).as("day_idx"))
    val dau = act.groupBy(col("d").as("day_idx")).agg(count(lit(1)).as("dau"))
    val cover = act.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(sequence(col("d"), least(col("d") + 6, col("dmax")))).as("day_idx"))
      .distinct()
    val wau = cover.groupBy(col("day_idx")).agg(count(lit(1)).as("wau"))
    spine.join(dau, Seq("day_idx"), "left").join(wau, Seq("day_idx"), "left")
      .select(col("day_idx"), coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"))
  }

  val activeUsersSql: String =
    """WITH act AS (SELECT DISTINCT user_id,
      |                    epoch_ns(ts) // 86400000000000 AS d FROM events),
      |b AS (SELECT min(d) AS dmin, max(d) AS dmax FROM act),
      |spine AS (SELECT unnest(generate_series(dmin, dmax)) AS day_idx FROM b),
      |dau AS (SELECT d AS day_idx, CAST(count(*) AS BIGINT) AS dau
      |        FROM act GROUP BY 1),
      |cover AS (SELECT DISTINCT act.user_id, act.d + g.g AS day_idx
      |          FROM act, (SELECT unnest(generate_series(0, 6)) AS g) g, b
      |          WHERE act.d + g.g <= b.dmax),
      |wau AS (SELECT day_idx, CAST(count(*) AS BIGINT) AS wau
      |        FROM cover GROUP BY 1)
      |SELECT spine.day_idx, coalesce(dau.dau, 0) AS dau,
      |       coalesce(wau.wau, 0) AS wau
      |FROM spine LEFT JOIN dau USING (day_idx) LEFT JOIN wau USING (day_idx)""".stripMargin

  // --------------------------------------------------------------- corr_stats
  /** `corr_stats` — per-type Pearson correlation + least-squares slope
    * between hour-of-day and event value, EXACTLY: the six cross-moments
    * (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as BIGINT over integer inputs
    * (hour 0–23, value in cents), so partial-aggregation order can never
    * perturb them; corr and slope are then single IEEE-754 expressions
    * over the exact sums — `(n·Σxy−Σx·Σy) / sqrt((n·Σx²−Σx²)·(n·Σy²−Σy²))`
    * with every product taken in DOUBLE (they exceed 2^63 at scale;
    * identical expression trees on both engines are bit-reproducible,
    * and IEEE sqrt/division are correctly rounded). The does-the-metric-
    * depend-on-time-of-day question every metrics pipeline asks; `corr`/
    * `covar_samp` built-ins stream float partials whose merge order is
    * nondeterministic — this is the hash-exact form.
    *
    * Scale shape: ONE partial-final hash agg collapses the corpus to
    * |event_type| moment rows; the scalar math runs on those 5 rows.
    */
  def corrStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").select(col("event_type"),
      expr("(ts div 3600000000000) % 24").as("hx"),
      round(col("value") * 100).cast("long").as("vc"))
    val s = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("hx")).as("sx"), sum(col("vc")).as("sy"),
      sum(col("hx") * col("vc")).as("sxy"),
      sum(col("hx") * col("hx")).as("sx2"),
      sum(col("vc") * col("vc")).as("sy2"))
    def d(c: Column) = c.cast("double")
    val cov = d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
    val vx = d(col("n")) * d(col("sx2")) - d(col("sx")) * d(col("sx"))
    val vy = d(col("n")) * d(col("sy2")) - d(col("sy")) * d(col("sy"))
    s.select(col("event_type"), col("n"),
      (cov / sqrt(vx * vy)).as("corr"), (cov / vx).as("slope"))
  }

  val corrStatsSql: String =
    """WITH v AS (SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS hx,
      |                  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(hx) AS BIGINT) AS sx, CAST(sum(vc) AS BIGINT) AS sy,
      |             CAST(sum(hx * vc) AS BIGINT) AS sxy,
      |             CAST(sum(hx * hx) AS BIGINT) AS sx2,
      |             CAST(sum(vc * vc) AS BIGINT) AS sy2
      |      FROM v GROUP BY event_type)
      |SELECT event_type, n,
      |       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |                * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr,
      |       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
      |FROM s""".stripMargin

  // ----------------------------------------------------------- hourly_gapfill
  /** `hourly_gapfill` — time-series densification + imputation: the
    * high-value event stream bucketed per (type, hour), with MISSING
    * hours materialized (zero-filled counts, `is_gap` flag) and the last
    * observed hourly revenue CARRIED FORWARD across gaps. The
    * resample/gap-fill/ffill triple is the standard feature-engineering
    * step before any time-series model — rolling_counts is gap-CORRECT
    * (RANGE frame) but never OUTPUTS the missing buckets; this query
    * does.
    *
    * Scale shape: the corpus collapses to (type, hour) in one
    * partial-final hash agg — everything after runs on the aggregate
    * (|types|·|hours| rows). The hour spine is GENERATED per type
    * (`sequence(min, max)` + explode: O(span) rows, no corpus scan), the
    * left join re-attaches observations, and the forward-fill is one
    * `last(ignoreNulls)` running window per type. The expensive input
    * never touches a window or a generator.
    */
  def hourlyGapfill(spark: SparkSession, dir: String): DataFrame = {
    val HourNs = 3600L * 1000000000L
    val d = Tables(spark, dir, "events")
      .filter(col("value") > 99.0) // sparse high-value stream → real gaps
      .groupBy(col("event_type"), expr(s"ts div $HourNs").as("hr"))
      .agg(count(lit(1)).as("n0"), intSum(col("value"), 2).as("sv_c"))
    val spine = d.groupBy(col("event_type"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("hr"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(d, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        coalesce(col("n0"), lit(0L)).as("n"),
        col("n0").isNull.as("is_gap"),
        (last(col("sv_c"), ignoreNulls = true).over(w) / 100.0).as("last_sv"))
  }

  val hourlyGapfillSql: String =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr, count(*) AS n0,
       |         ${sqlIntSum("value", 2)} AS sv_c
       |  FROM events WHERE value > 99 GROUP BY 1, 2),
       |b AS (SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM d GROUP BY 1),
       |s AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hr FROM b),
       |j AS (SELECT s.event_type, s.hr, d.n0, d.sv_c
       |      FROM s LEFT JOIN d ON s.event_type = d.event_type AND s.hr = d.hr)
       |SELECT event_type, hr, CAST(coalesce(n0, 0) AS BIGINT) AS n,
       |       n0 IS NULL AS is_gap,
       |       CAST(last_value(sv_c IGNORE NULLS) OVER (
       |         PARTITION BY event_type ORDER BY hr
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0 AS last_sv
       |FROM j""".stripMargin

  // -------------------------------------------------------------- hourly_lerp
  /** `hourly_lerp` — LINEAR interpolation over the gap-filled hourly
    * spine: the densification family's second member (`hourly_gapfill` =
    * step/forward-fill, the "last known state" semantics of status
    * metrics; this = linear, the semantics of continuously-varying
    * measurements where a 3-hour gap should ramp, not plateau). Each gap
    * hour gets `prev + (next − prev)·(hr − prev_hr)/(next_hr − prev_hr)`
    * between its two nearest OBSERVED hours. The spine spans [min, max]
    * observed hours per type, so every gap has both neighbors and the
    * interpolant is total (no edge NULLs by construction).
    *
    * Engine-exact: all inputs are integers (cents totals, hour indices);
    * the interpolant is ONE fixed expression tree of exact products and
    * two IEEE divisions, identical on both engines; observed hours emit
    * their own exact value, never the degenerate 0/0 lerp.
    *
    * Scale shape: inherits `hourly_gapfill`'s — corpus collapses
    * partial-final to the (type, hour) grid; the windows (forward +
    * backward fills, one WindowExec pass each direction) run over the
    * calendar-bounded spine, never the corpus.
    */
  def hourlyLerp(spark: SparkSession, dir: String): DataFrame = {
    val HourNs = 3600L * 1000000000L
    val d = Tables(spark, dir, "events")
      .filter(col("value") > 99.0)
      .groupBy(col("event_type"), expr(s"ts div $HourNs").as("hr"))
      .agg(intSum(col("value"), 2).as("sv_c"))
    val spine = d.groupBy(col("event_type"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("hr"))
    val back = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsHr = when(col("sv_c").isNotNull, col("hr"))
    val j = spine.join(d, Seq("event_type", "hr"), "left")
      .withColumn("pc", last(col("sv_c"), ignoreNulls = true).over(back))
      .withColumn("ph", last(obsHr, ignoreNulls = true).over(back))
      .withColumn("nc", first(col("sv_c"), ignoreNulls = true).over(fwd))
      .withColumn("nh", first(obsHr, ignoreNulls = true).over(fwd))
    val lerp = (col("pc").cast("double") +
      ((col("nc") - col("pc")) * (col("hr") - col("ph"))).cast("double") /
        (col("nh") - col("ph")).cast("double")) / 100.0
    j.select(col("event_type"), col("hr"),
      col("sv_c").isNull.as("is_gap"),
      when(col("sv_c").isNotNull, col("sv_c") / 100.0)
        .otherwise(lerp).as("v"))
  }

  val hourlyLerpSql: String =
    s"""WITH d AS (
       |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
       |         ${sqlIntSum("value", 2)} AS sv_c
       |  FROM events WHERE value > 99 GROUP BY 1, 2),
       |b AS (SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM d GROUP BY 1),
       |s AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hr FROM b),
       |j AS (SELECT s.event_type, s.hr, d.sv_c,
       |             last_value(d.sv_c IGNORE NULLS) OVER wb AS pc,
       |             last_value(CASE WHEN d.sv_c IS NOT NULL THEN s.hr END IGNORE NULLS) OVER wb AS ph,
       |             first_value(d.sv_c IGNORE NULLS) OVER wf AS nc,
       |             first_value(CASE WHEN d.sv_c IS NOT NULL THEN s.hr END IGNORE NULLS) OVER wf AS nh
       |      FROM s LEFT JOIN d ON s.event_type = d.event_type AND s.hr = d.hr
       |      WINDOW wb AS (PARTITION BY s.event_type ORDER BY s.hr
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |             wf AS (PARTITION BY s.event_type ORDER BY s.hr
       |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       |SELECT event_type, hr, sv_c IS NULL AS is_gap,
       |       CASE WHEN sv_c IS NOT NULL THEN sv_c / 100.0
       |            ELSE (CAST(pc AS DOUBLE) +
       |                  CAST((nc - pc) * (hr - ph) AS DOUBLE) /
       |                    CAST(nh - ph AS DOUBLE)) / 100.0 END AS v
       |FROM j""".stripMargin

  // ---------------------------------------------------------------- key_skew
  /** `key_skew` — join-key distribution diagnostic: for each join/group
    * key the inventory actually shuffles on (lineitem.l_orderkey — the
    * order_revenue SMJ key; events.user_id — the window/sessionize key;
    * documents.source — the mix stratum), the exact facts that decide a
    * 100 TB join strategy: row/key cardinalities, the heaviest key's
    * count, the exact p99 per-key count, and the max/mean skew ratio.
    * This is the query you run BEFORE picking broadcast vs sort-merge vs
    * salting — AQE's runtime skew split (SkewCapabilitySpec) is the
    * in-flight safety net; this is the ahead-of-time audit.
    *
    * Scale shape: per table, ONE partial-final hash agg collapses the
    * corpus to |keys| count rows; those collapse again to the
    * COUNT-OF-COUNTS histogram (|distinct count values| rows — tiny), so
    * the exact p99 is a cumulative-share scan of the histogram, NOT a
    * global sort of a billion-key table (the value_quantiles rank-window
    * approach would be the non-scalable form here). The p99 pick is pure
    * integer arithmetic (`100·cum ≥ 99·n_keys`); skew_ratio and
    * top_share are single identical-tree double expressions over exact
    * BIGINTs (products in DOUBLE — they overflow BIGINT at corpus
    * scale). The cumulative window runs on the tiny histogram (same
    * single-partition adjudication as the codebook rank windows).
    */
  def keySkew(spark: SparkSession, dir: String): DataFrame = {
    def d(c: Column) = c.cast("double")
    def prof(rel: String, key: String): DataFrame = {
      // ONE linear lineage, no self-joins: corpus → per-key counts (the
      // only corpus-sized stage, one partial-final hash agg) → count-of-
      // counts histogram (tiny) → one single-partition window pass that
      // carries BOTH the ascending cumulative and the grand total → one
      // 1-row aggregate deriving every output. Totals come from the
      // histogram (n_rows = Σ c·nk, n_keys = Σ nk), so the key table is
      // aggregated exactly once and the plan has exactly one scan —
      // a join-shaped formulation re-derived the corpus agg 6× here.
      val w = Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(spark, dir, rel)
        .groupBy(col(key).cast("string").as("k")).agg(count(lit(1)).as("c"))
        .groupBy(col("c")).agg(count(lit(1)).as("nk"))
        .select(col("c"), col("nk"),
          sum(col("nk")).over(w).as("cum"), sum(col("nk")).over(wAll).as("tot"))
        .agg(
          sum(col("c") * col("nk")).as("n_rows"), max(col("tot")).as("n_keys"),
          max(col("c")).as("max_cnt"),
          min(when(col("cum") * 100 >= col("tot") * 99, col("c"))).as("p99_cnt"))
        .select(
          lit(rel + "." + key).as("rel_key"), col("n_rows"), col("n_keys"),
          col("max_cnt"), col("p99_cnt"),
          (d(col("max_cnt")) * d(col("n_keys")) / d(col("n_rows"))).as("skew_ratio"),
          (d(col("max_cnt")) / d(col("n_rows"))).as("top_share"))
    }
    prof("lineitem", "l_orderkey")
      .unionAll(prof("events", "user_id"))
      .unionAll(prof("documents", "source"))
  }

  val keySkewSql: String = {
    def prof(rel: String, key: String): String =
      s"""SELECT * FROM (
         |  WITH counts AS (SELECT CAST($key AS VARCHAR) AS k, count(*) AS c
         |                  FROM $rel GROUP BY 1),
         |  hist AS (SELECT c, count(*) AS nk FROM counts GROUP BY c),
         |  tot AS (SELECT CAST(sum(c * nk) AS BIGINT) AS n_rows,
         |                 CAST(sum(nk) AS BIGINT) AS n_keys,
         |                 CAST(max(c) AS BIGINT) AS max_cnt FROM hist),
         |  cum AS (SELECT c, sum(nk) OVER (ORDER BY c
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |          FROM hist),
         |  p99 AS (SELECT CAST(min(c) AS BIGINT) AS p99_cnt FROM cum, tot
         |          WHERE cum * 100 >= n_keys * 99)
         |  SELECT '$rel.$key' AS rel_key, n_rows, n_keys, max_cnt, p99_cnt,
         |         CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
         |           / CAST(n_rows AS DOUBLE) AS skew_ratio,
         |         CAST(max_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top_share
         |  FROM tot, p99)""".stripMargin
    Seq(prof("lineitem", "l_orderkey"), prof("events", "user_id"),
      prof("documents", "source")).mkString("\nUNION ALL\n")
  }

  // ------------------------------------------------------------ profile_table
  /** `profile_table` — exact data-profiling of a table: per-column null
    * count and exact distinct cardinality, the data-quality audit every
    * ingest pipeline runs before trusting a new drop (schema drift, id
    * collisions, a column gone silently all-NULL).
    *
    * ONE pass over the table: Spark plans the 6 `countDistinct`s as a
    * single Expand (×7: one replica per distinct column + one for the
    * plain counts) feeding a partial-final hash aggregate — not 6
    * separate scans of a 100 TB table. The 1-row wide result then
    * unpivots to long form with `stack` (a 1-row reshape, plan-free).
    * Exact multi-distinct is the audit-grade form; `approx_stats` (HLL)
    * is this query's declared sketch twin when ±2% suffices at scale.
    * ts profiles on the shared microsecond axis (`ts div 1000`): Spark's
    * nano resolution would count same-microsecond instants the oracle's
    * TIMESTAMP cannot distinguish.
    */
  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "ts_us", "user_id", "event_type", "value", "props")
    // Round-17 note: spreading the events scan (Tables.spread) to
    // parallelize the Expand×7 partial aggregate was tried and measured
    // WORSE — the repartition's row shuffle cost 15.4 s of executor CPU
    // against the 1.1 s single-core aggregate it replaced. The one-task
    // scan stays the cheaper plan at test scale; at real scale the scan
    // splits naturally.
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val aggs = count(lit(1)).as("n") +:
      cols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c")))
    val stackArgs = cols
      .map(c => s"'$c', n - nn_$c, nd_$c")
      .mkString(", ")
    e.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${cols.length}, $stackArgs) AS (col_name, n_null, n_distinct)")
  }

  val profileTableSql: String = {
    val cols = Seq("event_id", "ts_us", "user_id", "event_type", "value", "props")
    val aggsSql = cols
      .map(c => s"count($c) AS nn_$c, count(DISTINCT $c) AS nd_$c")
      .mkString(", ")
    val rows = cols
      .map(c => s"SELECT '$c' AS col_name, CAST(n - nn_$c AS BIGINT) AS n_null," +
        s" CAST(nd_$c AS BIGINT) AS n_distinct FROM w")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT event_id, epoch_ns(ts) // 1000 AS ts_us, user_id,
       |         event_type, value, props FROM events),
       |w AS (SELECT count(*) AS n, $aggsSql FROM e)
       |$rows""".stripMargin
  }

  // -------------------------------------------------------------- props_stats
  /** `props_stats` — aggregate over a field parsed out of the JSON `props`
    * payload (semi-structured column handling: the "typed metadata in a
    * string column" shape every event pipeline has). The JSON path
    * extraction runs inside codegen (`get_json_object`), the aggregate is a
    * plain partial-final hash agg — scan-local until the final 5-row
    * exchange, so it scales like any other single-pass aggregation.
    */
  def propsStats(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    Tables(spark, dir, "events")
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
  }

  val propsStatsSql: String = {
    val k = "CAST(json_extract_string(props, '$.k') AS BIGINT)"
    s"""SELECT event_type, count(*) AS n,
       |       CAST(sum($k) AS BIGINT) AS sum_k,
       |       min($k) AS min_k, max($k) AS max_k,
       |       CAST(count(DISTINCT $k) AS BIGINT) AS n_distinct_k
       |FROM events GROUP BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------- pii_scrub
  /** `pii_scrub` — the privacy pass every training-data / analytics
    * pipeline runs before retention or export: direct identifiers are
    * PSEUDONYMIZED (user_id → salted content-independent hash, so joins
    * and per-user aggregation still work downstream but the raw id never
    * leaves this stage) and free-text payloads are SCRUBBED by a regex
    * chain — emails → `<EMAIL>`, dotted quads → `<IP>`, then residual
    * digit runs → `<NUM>` (account numbers, phone fragments, quasi-
    * identifiers). Each pattern's match count is counted on the residual
    * of the previous scrub, so a digit that was part of an email/IP is
    * never double-counted and the chain is order-deterministic.
    *
    * On this synthetic corpus only the digit-run pattern fires (the JSON
    * props carry numbers but no emails/IPs — the oracle still compares
    * the full chain bit-for-bit); the email/IP patterns are exercised on
    * crafted rows in QueriesSpec, where each chain stage is pinned.
    *
    * Scale shape: pure per-row projection — zero shuffles at any corpus
    * size; the regexes run inside whole-stage codegen. The pattern set is
    * a constant of the query, so 100 TB costs exactly one scan.
    */
  private val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiIpv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  private val PiiNumRe = "[0-9]+"

  /** The scrub core over any events relation — shared VERBATIM by the
    * batch query and the streaming twin (`StreamingOps.piiScrubStream`),
    * so batch/stream agreement is structural: pure per-row expressions,
    * no shuffle, no state.
    */
  def piiScrubOf(events: DataFrame): DataFrame = {
    def nMatches(e: Column, re: String) =
      size(regexp_extract_all(e, lit(re), lit(0))).cast("long")
    val s1 = regexp_replace(col("props"), PiiEmailRe, "<EMAIL>")
    val s2 = regexp_replace(s1, PiiIpv4Re, "<IP>")
    val s3 = regexp_replace(s2, PiiNumRe, "<NUM>")
    events.select(
      col("event_id"),
      graft.functions.TextFns
        .hash60(concat(lit("pseud:"), col("user_id").cast("string")))
        .as("user_pseud"),
      nMatches(col("props"), PiiEmailRe).as("n_email"),
      nMatches(s1, PiiIpv4Re).as("n_ipv4"),
      nMatches(s2, PiiNumRe).as("n_num"),
      s3.as("props_scrub"))
  }

  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubOf(Tables(spark, dir, "events"))

  val piiScrubSql: String = {
    val pseud = Oracle.hash60("'pseud:' || CAST(user_id AS VARCHAR)")
    val email = PiiEmailRe // same RE2/Java-compatible pattern text
    s"""WITH s AS (
       |  SELECT event_id, user_id, props,
       |         regexp_replace(props, '$email', '<EMAIL>', 'g') AS s1
       |  FROM events),
       |t AS (SELECT *, regexp_replace(s1, '$PiiIpv4Re', '<IP>', 'g') AS s2 FROM s)
       |SELECT event_id, $pseud AS user_pseud,
       |       CAST(len(regexp_extract_all(props, '$email')) AS BIGINT) AS n_email,
       |       CAST(len(regexp_extract_all(s1, '$PiiIpv4Re')) AS BIGINT) AS n_ipv4,
       |       CAST(len(regexp_extract_all(s2, '$PiiNumRe')) AS BIGINT) AS n_num,
       |       regexp_replace(s2, '$PiiNumRe', '<NUM>', 'g') AS props_scrub
       |FROM t""".stripMargin
  }

  // ---------------------------------------------------------- value_quantiles
  /** `value_quantiles` — EXACT p50/p90/p99 of `value` per event type by
    * rank selection: the quantile is the element at row_number
    * ceil(q·n) under a total (value, event_id) order, so the result is a
    * real data value picked deterministically — no interpolation, hence
    * bit-identical across engines (`percentile_cont`'s interpolated
    * arithmetic differs between engines and would never hash-match).
    * ceil(q·n) is computed in BIGINT ((n·q100 + 99) div 100) — exact at any
    * n. One shuffle on event_type, one sort for the rank window; the
    * unordered count window shares the same exchange. At 100 TB with a
    * low-cardinality group key this is the sort-based exact form; when
    * approximation is acceptable, `approx_percentile` (t-digest) drops the
    * per-group sort entirely.
    */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    val wAll = Window.partitionBy(col("event_type"))
    def pick(p: Int) =
      max(when(col("rk") === expr(s"(n * $p + 99) div 100"), col("value")))
    Tables(spark, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rk", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        pick(50).as("p50"), pick(90).as("p90"), pick(99).as("p99"))
  }

  val valueQuantilesSql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS rk,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |       max(CASE WHEN rk = (n*50+99)//100 THEN value END) AS p50,
      |       max(CASE WHEN rk = (n*90+99)//100 THEN value END) AS p90,
      |       max(CASE WHEN rk = (n*99+99)//100 THEN value END) AS p99
      |FROM r GROUP BY event_type""".stripMargin

  // --------------------------------------------------------------- ewma_daily
  /** `ewma_daily` — EXACT exponentially-decayed daily aggregate per event
    * type, as of the corpus's latest day: decayed event mass
    * Σ 2^−age and decayed value Σ value·2^−age with half-life = 1 day —
    * the trend/recency signal behind alerting baselines and "what's hot"
    * rankings, where a plain 7-day window forgets shape and a mean
    * forgets time.
    *
    * The exactness trick, in the house cross-multiplied-integer
    * tradition: with a 2^−age decay every weight is a POWER OF TWO, so
    * scaling by 2^29 makes every weight an exact BIGINT (`1L << (29 −
    * age)`; age > 29 underflows the scale to an exact 0 — stated in both
    * engines identically). All sums are then associative BIGINT
    * arithmetic — partial-agg merge order can never flip a bit — and the
    * two output doubles are each ONE division by the power-of-two scale
    * (exact in IEEE) and one by 100.0, identical trees both engines.
    *
    * Scale shape: one partial-final hash agg collapses the corpus to
    * ≤ \|type\|·30 (type, age) rows (the only corpus-sized stage; the
    * age filter prunes everything older than the 29-day horizon at the
    * scan once dmax is known); the scaled fold runs over that tiny
    * aggregate. `dmax` attaches as a 1-row broadcast (the active_users
    * bounds pattern, PlanGuard-allowlisted). BIGINT headroom: the scaled
    * fold needs Σ day_cents·2^29 < 2^63 ≈ decayed-window volume of
    * $1.7×10⁸ per type — beyond that, drop EwmaScaleBits (each bit
    * halves precision floor and doubles headroom) or fold the ≤30-row
    * aggregate in DOUBLE (the corr_stats adjudication).
    */
  val EwmaScaleBits = 29
  private val EwmaScale = (1L << EwmaScaleBits).toDouble

  def ewmaDaily(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400000000000L
    val e = Tables(spark, dir, "events").select(col("event_type"),
      expr(s"ts div $dayNs").as("d"),
      round(col("value") * 100).cast("long").as("cents"))
    val dmax = e.agg(max(col("d")).as("dmax"))
    e.crossJoin(broadcast(dmax))
      .withColumn("age", col("dmax") - col("d"))
      .filter(col("age") <= EwmaScaleBits)
      .groupBy(col("event_type"), col("age"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .withColumn("w",
        expr(s"shiftleft(1L, cast($EwmaScaleBits - age AS INT))"))
      .groupBy(col("event_type"))
      .agg(
        (sum(col("n") * col("w")) / lit(EwmaScale)).as("eff_n"),
        (sum(col("c") * col("w")) / lit(EwmaScale) / lit(100.0)).as("ewma_value"))
  }

  val ewmaDailySql: String =
    s"""WITH e AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
       |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
       |m AS (SELECT max(d) AS dmax FROM e),
       |a AS (SELECT event_type, dmax - d AS age,
       |             count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
       |      FROM e, m WHERE dmax - d <= $EwmaScaleBits GROUP BY 1, 2),
       |w AS (SELECT event_type, n, c,
       |             (CAST(1 AS BIGINT) << CAST($EwmaScaleBits - age AS INT)) AS wt
       |      FROM a)
       |SELECT event_type,
       |       CAST(sum(n * wt) AS BIGINT) / ${1L << EwmaScaleBits}.0 AS eff_n,
       |       CAST(sum(c * wt) AS BIGINT) / ${1L << EwmaScaleBits}.0 / 100.0 AS ewma_value
       |FROM w GROUP BY event_type""".stripMargin

  // -------------------------------------------------------------- anomaly_mad
  /** The per-type (med_cents, mad_cents) MODEL TABLE behind [[anomalyMad]]
    * — memoized as a session index artifact so the batch flagger and the
    * streaming scorer (`StreamingOps.anomalyStream`, the offline-model /
    * online-inference pattern) share one build.
    */
  def madModel(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type"))
      .orderBy(col("cents").asc, col("event_id").asc)
    val wAll = Window.partitionBy(col("event_type"))
    val wDev = Window.partitionBy(col("event_type"))
      .orderBy(col("dev").asc, col("event_id").asc)
    val e = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val med = Memo.memoize(spark, dir, "mad_median")(e
      .withColumn("rk", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(when(col("rk") === expr("(n * 50 + 99) div 100"),
        col("cents"))).as("med_cents")))
    Memo.memoizeDisk(spark, dir, "mad_model", "pct=hi-median")(e
      .join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("cents") - col("med_cents")))
      .withColumn("rk", row_number().over(wDev).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("med_cents")).as("med_cents"), // constant within the type
        max(when(col("rk") === expr("(n * 50 + 99) div 100"),
          col("dev"))).as("mad_cents")))
  }

  /** `anomaly_mad` — ROBUST outlier detection by the median/MAD rule:
    * flag events whose value deviates from the per-type MEDIAN by more
    * than 3× the MEDIAN ABSOLUTE DEVIATION. The robust complement of
    * [[outlierEvents]]' mean/3σ test — mean and σ are themselves dragged
    * by the outliers they hunt (masking), while the 50% breakdown point
    * of median/MAD survives heavy contamination; running both and
    * diffing the flag sets is the standard anomaly-triage practice.
    *
    * EXACT, like the σ form: the median is [[valueQuantiles]]' rank
    * selection (element at ceil(n/2) under the total (cents, event_id)
    * order), MAD the same selection over |cents − med_cents|, and the
    * flag `|cents − med| > 3·mad` compares BIGINTs — no float anywhere,
    * so the flag set hash-matches the oracle bit-for-bit.
    *
    * Scale shape: TWO corpus exchanges — one rank sort per pass (median,
    * then deviation); the per-type median and MAD tables are ≤\|type\|
    * rows and attach as broadcasts, and the final flag evaluates
    * scan-locally against them (the corpus is never shuffled for the
    * flag). The median table is memoized so its corpus pass runs once
    * even though two branches (the deviation window and the final flag)
    * consume it. Same exact-form caveat as value_quantiles: at 100 TB
    * with a low-cardinality key this is the sort-based exact path; the
    * sketch path (approx_percentile of deviations) drops the sorts when
    * approximation is acceptable.
    */
  def anomalyMad(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100).cast("long").as("cents"))
      .join(broadcast(madModel(spark, dir)), Seq("event_type"))
      .filter(abs(col("cents") - col("med_cents")) > lit(3L) * col("mad_cents"))
      .select(col("event_id"), col("event_type"), col("value"))

  val anomalyMadSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type, value,
      |         CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |r AS (SELECT *,
      |             CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS rk,
      |             count(*) OVER (PARTITION BY event_type) AS n
      |      FROM e),
      |med AS (SELECT event_type,
      |               max(CASE WHEN rk = (n*50+99)//100 THEN cents END) AS med_cents
      |        FROM r GROUP BY event_type),
      |d AS (SELECT e.*, abs(e.cents - med.med_cents) AS dev
      |      FROM e JOIN med USING (event_type)),
      |dr AS (SELECT *,
      |              CAST(row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS BIGINT) AS rk,
      |              count(*) OVER (PARTITION BY event_type) AS n
      |       FROM d),
      |mad AS (SELECT event_type,
      |               max(CASE WHEN rk = (n*50+99)//100 THEN dev END) AS mad_cents
      |        FROM dr GROUP BY event_type)
      |SELECT d.event_id, d.event_type, d.value
      |FROM d JOIN mad USING (event_type)
      |WHERE d.dev > 3 * mad.mad_cents""".stripMargin

  // ------------------------------------------------------------- decile_stats
  /** `decile_stats` — the NTILE window family: each event assigned to its
    * per-type value decile (deterministic under the total (cents,
    * event_id) order — NTILE's first `n mod 10` buckets take the extra
    * row, the standard definition both engines share), then per
    * (type, decile) count, value bounds, and integer-cents total — the
    * equal-frequency binning behind score calibration, price-tier
    * discovery, and monotonicity checks (bounds must be non-decreasing
    * across deciles, test-pinned).
    *
    * Scale shape: one event_type shuffle + one in-partition sort (the
    * NTILE window), then a partial-final hash agg to ≤ \|type\|·10 rows.
    * Same exact-form caveat as value_quantiles.
    */
  def decileStats(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type"))
      .orderBy(col("cents").asc, col("event_id").asc)
    Tables(spark, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("decile", ntile(10).over(wOrd).cast("long"))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"),
        (intSum(col("value"), 2) / 100.0).as("total_value"))
  }

  val decileStatsSql: String =
    s"""WITH e AS (
       |  SELECT event_type, value, event_id,
       |         CAST(round(value * 100) AS BIGINT) AS cents FROM events),
       |d AS (SELECT *,
       |             CAST(ntile(10) OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS decile
       |      FROM e)
       |SELECT event_type, decile, count(*) AS n,
       |       min(value) AS lo, max(value) AS hi,
       |       ${sqlIntSum("value", 2)} / 100.0 AS total_value
       |FROM d GROUP BY event_type, decile""".stripMargin

  // --------------------------------------------------------------- rollup_agg
  /** `rollup_agg` — the multi-level aggregate family (ROLLUP/CUBE/GROUPING
    * SETS): lineitem pricing totals at (returnflag, linestatus), per
    * returnflag, and grand-total levels in ONE pass. `grouping_id`
    * disambiguates a NULL grouping value from a rolled-up level (the
    * standard SQL mechanism, identical bit semantics in Spark and
    * DuckDB). Catalyst plans rollup as a single Expand + hash aggregate —
    * each input row fans out to its 3 grouping sets map-side and partial
    * aggregation collapses them before the one exchange, so the scale
    * shape is the same as `group_agg` at 3× the aggregate state (still
    * bounded by key cardinality, not row count).
    */
  private def multiLevelAgg(g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    g.agg(
      grouping_id().cast("long").as("gid"),
      count(lit(1)).as("cnt"),
      sum(col("l_quantity").cast("long")).as("sum_qty"),
      (intSum(col("l_extendedprice"), 2) / 100.0).as("sum_base_price"))
      // rolled-up levels emit NULL grouping values; surface them as an
      // 'ALL' sentinel (gid already disambiguates) so the output is
      // null-free — the oracle harness compares sorted row multisets and
      // NULL has no portable sort position across engines/drivers
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("gid"), col("cnt"), col("sum_qty"), col("sum_base_price"))

  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    multiLevelAgg(Tables(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus")))

  private def multiLevelSql(op: String): String =
    s"""SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       |       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       |       count(*) AS cnt,
       |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       |       ${sqlIntSum("l_extendedprice", 2)} / 100.0 AS sum_base_price
       |FROM lineitem GROUP BY $op (l_returnflag, l_linestatus)""".stripMargin

  val rollupAggSql: String = multiLevelSql("ROLLUP")

  // ----------------------------------------------------------------- cube_agg
  /** `cube_agg` — the CUBE member of the GROUPING SETS family: every
    * subset of (returnflag, linestatus), i.e. rollup_agg plus the
    * per-linestatus-only level. Catalyst plans CUBE as the same single
    * Expand + hash aggregate as ROLLUP — each input row fans out to its
    * 4 grouping sets map-side, partial aggregation collapses before the
    * one exchange; state is bounded by key cardinality × 4, not rows.
    */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    multiLevelAgg(Tables(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus")))

  val cubeAggSql: String = multiLevelSql("CUBE")

  // ------------------------------------------------------------ grouping_sets
  /** `grouping_sets` — the USER-DECLARED member of the GROUPING SETS
    * family ([[rollupAgg]] and [[cubeAgg]] are its two canned lattices):
    * exactly the levels asked for, here ((event_type, day), (day),
    * (event_type)) — both single-column marginals but NO grand total, a
    * set neither ROLLUP nor CUBE can express. Catalyst compiles declared
    * sets to the identical single Expand + partial-final hash aggregate as
    * rollup/cube with fan-out exactly \|sets\| = 3: each input row expands
    * to its declared levels map-side and partials collapse before the one
    * exchange, so aggregate state stays bounded by key cardinality × 3 at
    * any corpus size — where the hand-rolled alternative (one grouped
    * query per level, unioned) scans the corpus once per level.
    *
    * `grouping_id` disambiguates a NULL key value from a rolled-up level
    * (identical bit semantics in Spark and DuckDB: leftmost grouping
    * column = most significant bit), and rolled-up keys surface as the
    * 'ALL' sentinel — the rollup_agg null-free output convention.
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame = {
    val day = date_format(timestamp_seconds(expr("ts div 1000000000")), "yyyy-MM-dd")
    Tables(spark, dir, "events")
      .select(col("event_type"), day.as("day"), col("value"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("day")), Seq(col("day")), Seq(col("event_type"))),
        col("event_type"), col("day"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("cnt"),
        (intSum(col("value"), 2) / 100.0).as("total_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("gid"), col("cnt"), col("total_value"))
  }

  val groupingSetsAggSql: String =
    s"""WITH e AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM events)
       |SELECT coalesce(event_type, 'ALL') AS event_type,
       |       coalesce(day, 'ALL') AS day,
       |       CAST(GROUPING(event_type, day) AS BIGINT) AS gid,
       |       count(*) AS cnt,
       |       ${sqlIntSum("value", 2)} / 100.0 AS total_value
       |FROM e
       |GROUP BY GROUPING SETS ((event_type, day), (day), (event_type))""".stripMargin

  // -------------------------------------------------------------- pivot_daily
  /** `pivot_daily` — the PIVOT operator family: one row per day, one
    * count column per event type. The pivot values are DECLARED (the
    * 5 event types), not discovered: `pivot(col)` without values runs a
    * distinct job at planning time — at 100 TB that is a full extra scan
    * before the query even plans, and an unbounded column explosion if
    * the key is dirty. With declared values Catalyst compiles the pivot
    * to one partial-final hash aggregate with 5 conditional counts — the
    * same single-exchange shape as `histogram`, just transposed.
    */
  val PivotTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")

  def pivotDaily(spark: SparkSession, dir: String): DataFrame = {
    val day = date_format(timestamp_seconds(expr("ts div 1000000000")), "yyyy-MM-dd")
    val pivoted = Tables(spark, dir, "events")
      .select(day.as("day"), col("event_type"))
      .groupBy(col("day"))
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
    // absent (day, type) combinations pivot to NULL; surface as 0 like
    // the oracle's conditional sums (and keep the output null-free)
    pivoted.select(col("day") +: PivotTypes.map(t =>
      coalesce(col(t), lit(0L)).as(t)): _*)
  }

  val pivotDailySql: String = {
    val cols = PivotTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
      .mkString(",\n|       ")
    s"""SELECT strftime(ts, '%Y-%m-%d') AS day,
       |       $cols
       |FROM events GROUP BY 1""".stripMargin
  }

  // ------------------------------------------------------------------ set_ops
  /** `set_ops` — the set-operation family (INTERSECT/EXCEPT, absent from
    * the reference per SURVEY §2.3, free from Catalyst): which event
    * users are also order customers, and which are event-only. Both set
    * ops plan as a distinct aggregation + one hash-partitioned
    * left-semi/anti join on the id — a single shuffle each at any scale;
    * the tagged union just concatenates partitions.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val eu = Tables(spark, dir, "events").select(col("user_id").as("id")).distinct()
    val oc = Tables(spark, dir, "orders").select(col("o_custkey").as("id")).distinct()
    eu.intersect(oc).withColumn("tag", lit("both"))
      .unionByName(eu.except(oc).withColumn("tag", lit("events_only")))
      .select(col("tag"), col("id"))
  }

  val setOpsSql: String =
    """SELECT 'both' AS tag, id FROM
      |  (SELECT DISTINCT user_id AS id FROM events
      |   INTERSECT
      |   SELECT DISTINCT o_custkey AS id FROM orders)
      |UNION ALL
      |SELECT 'events_only' AS tag, id FROM
      |  (SELECT DISTINCT user_id AS id FROM events
      |   EXCEPT
      |   SELECT DISTINCT o_custkey AS id FROM orders)""".stripMargin

  // ----------------------------------------------------------- rolling_counts
  /** `rolling_counts` — per-day event counts with a 7-day trailing window
    * (the rolling-aggregate / RANGE-frame family; the engine's other
    * windows use ROWS frames or plain rankings). Day is an exact integer
    * day number (ts div 86400·10⁹ — no timestamp arithmetic), so the
    * RANGE frame [day−6, day] is integer range logic, identical in both
    * engines, and skips missing days correctly — a ROWS frame would
    * silently span gaps.
    *
    * Shape: one partial-final hash agg on (type, day) collapses the
    * stream to |types|·|days| rows BEFORE the window; the RANGE window
    * then shuffles only that tiny aggregate on event_type. At 100 TB the
    * pre-aggregation is what makes the window affordable — never window
    * over the raw stream.
    */
  def rollingCounts(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
      .rangeBetween(-6, Window.currentRow)
    Tables(spark, dir, "events")
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("day_idx"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n7", sum(col("n")).over(w))
  }

  val rollingCountsSql: String =
    """WITH d AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day_idx, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day_idx, n,
      |       CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day_idx
      |                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7
      |FROM d""".stripMargin

  // ------------------------------------------------------------- approx_stats
  /** `approx_stats` — the APPROXIMATE twins of `distinct_count` and
    * `value_quantiles`, as one query: HLL distinct counts
    * (`approx_count_distinct`, ~2% rsd) and quantile-sketch percentiles
    * (`percentile_approx` at accuracy 10000). These are the 100 TB scale
    * path the exact queries document pointing at: the HLL sketch replaces
    * the two-stage partial-distinct shuffle with constant per-group
    * state, and the quantile sketch drops the per-group sort entirely —
    * both merge associatively map-side, so the plan is ONE partial-final
    * hash aggregate at any scale.
    *
    * No DuckDB oracle is declared: sketch results are
    * implementation-defined and cannot hash-match across engines (the
    * driver records the weaker rows-only check). The engine-side
    * ERROR-BOUND contract is pinned by a test instead: approx_users
    * within 5% of the exact distinct count, each percentile within the
    * group's exact neighborhood (QueriesSpec).
    */
  def approxStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("ps"))
      .select(col("event_type"), col("approx_users"),
        element_at(col("ps"), 1).as("p50"),
        element_at(col("ps"), 2).as("p90"),
        element_at(col("ps"), 3).as("p99"))

  // -------------------------------------------------------- incremental_merge
  /** `incremental_merge` — INCREMENTAL MATERIALIZATION / CDC upsert apply
    * (MERGE INTO semantics): the latest-per-user snapshot computed the way
    * a daily production job actually computes it — merge yesterday's
    * materialized BASE snapshot with today's DELTA partition — rather than
    * re-scanning the full history like [[latestByKey]]. The declared
    * result is identical to the full recompute, and the ORACLE IS the full
    * recompute: the driver's hash compare itself certifies
    * `merge(state(<T), state(≥T)) ≡ state(all)` — the invariant that makes
    * incremental pipelines trustworthy (plus an in-spec equality against
    * latestByKey). The cut T is derived from the data (midpoint day
    * boundary, exact integer arithmetic both engines) so the split stays
    * meaningful whenever the driver regenerates testdata.
    *
    * Scale shape: each half collapses to ≤|users| rows via the
    * latest_by_key plan (a row_number window whose `WindowGroupLimit` runs
    * partial BEFORE the exchange); the merge is one `hint("merge")`-pinned
    * FULL OUTER SortMergeJoin of two snapshot-sized sides on user_id —
    * neither side of a full outer can broadcast (reconcile_totals
    * adjudication), and both windows' hashpartitioning(user_id) already
    * satisfies the join's distribution so EnsureRequirements adds sorts
    * only. At 100 TB the base side is a STORED snapshot (no history
    * re-scan) and the delta scan prunes to the new partitions — the whole
    * point: per-run cost ∝ |delta|, not |history|. Delta wins ties by
    * construction: base `us` < cut_us ≤ delta `us` strictly (the cut is a
    * nanos day boundary, micros truncation preserves the strict split).
    */
  val MergeDayNs = 86400000000000L

  def incrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), expr("ts div 1000").as("us"),
        col("event_id"), col("event_type"), col("value"))
    // midpoint day boundary: exact integer arithmetic, oracle-reproducible
    val bounds = ev.agg(
      min(expr(s"ts div $MergeDayNs")).as("dmin"),
      max(expr(s"ts div $MergeDayNs")).as("dmax"))
      .select(expr(s"((dmin + dmax) div 2 + 1) * $MergeDayNs").as("cut_ns"))
    val tagged = ev.crossJoin(broadcast(bounds)) // 1-row bounds attach
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    def snapshot(half: DataFrame): DataFrame = half
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("us"), col("event_id"),
        col("event_type"), col("value"))
    val base = snapshot(tagged.filter(col("ts") < col("cut_ns")))
      .withColumnRenamed("us", "b_us").withColumnRenamed("event_id", "b_eid")
      .withColumnRenamed("event_type", "b_type").withColumnRenamed("value", "b_val")
    val delta = snapshot(tagged.filter(col("ts") >= col("cut_ns")))
      .withColumnRenamed("us", "d_us").withColumnRenamed("event_id", "d_eid")
      .withColumnRenamed("event_type", "d_type").withColumnRenamed("value", "d_val")
    base.hint("merge").join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("d_us"), col("b_us")).as("last_ts_us"),
        coalesce(col("d_eid"), col("b_eid")).as("last_event_id"),
        coalesce(col("d_type"), col("b_type")).as("last_event_type"),
        coalesce(col("d_val"), col("b_val")).as("last_value"))
  }

  /** The oracle is deliberately the FULL RECOMPUTE (latest over the whole
    * history): hash-matching it certifies incremental ≡ batch.
    */
  val incrementalMergeSql: String =
    """SELECT user_id, epoch_ns(ts) // 1000 AS last_ts_us,
      |       event_id AS last_event_id,
      |       event_type AS last_event_type,
      |       value AS last_value
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1""".stripMargin

  // -------------------------------------------------------------- first_touch
  /** `first_touch` — FIRST-TOUCH ATTRIBUTION: each `purchase` event
    * attributed to the same user's EARLIEST touchpoint (`view`/`click`)
    * in the 24 hours strictly before it ([t0−24h, t0) — marketing
    * attribution's "which touchpoint started this conversion").
    * Completes the temporal-join family: [[asofJoin]] is
    * latest-before-UNBOUNDED, [[intervalJoin]] is forward-window
    * AGGREGATION, this is backward-bounded-window ARGMIN RETRIEVAL.
    * Window membership is exact integer nanos both engines; the argmin
    * order is (us, event_id) — the latest_by_key micros convention, so
    * nano-resolution ordering can't diverge from the micros-truncated
    * oracle. Purchases with no touch in window survive with NULL
    * attribution (zero-fill).
    *
    * Scale shape: the [[perUserSweep]] holding a MONOTONIC DEQUE of live
    * touches — the classic sliding-window-minimum: a touch evicts every
    * queued touch with a ≥ (us, event_id) rank (it arrived later, so it
    * expires later AND ranks better), so the deque stays rank-increasing
    * in arrival order and each purchase's first-touch is the deque head
    * after expiring entries older than t0 − 24 h. Each event enters and
    * leaves the deque at most once, so a hot user costs the time of its
    * sort (measured history: a (user, day-bucket) join took 67.0 s on the
    * sf10 Zipf hot user vs 1.7 s uniform, and lost to this scan on
    * uniform corpora too). Rows sort (ts, kind purchase-first, event_id),
    * so a touch AT a purchase's own timestamp is not yet in the deque
    * (the strict `< t0` bound); the inclusive lower bound is the
    * `front.ts < t0 − W` expiry.
    *
    * NULLs follow the oracle's join: a NULL user_id, ts or purchase id
    * matches no touch (the purchase survives with NULL attribution), and
    * a NULL touch event_id ranks last among same-microsecond touches
    * (DuckDB's `ORDER BY us, event_id` is NULLS LAST).
    */
  val TouchWindowNs = 86400000000000L // 24 h
  val ConversionType = "purchase"
  val TouchTypes: Seq[String] = Seq("view", "click")

  def firstTouch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables(spark, dir, "events")
      .filter(col("event_type") === ConversionType ||
        col("event_type").isin(TouchTypes: _*))
      .select(col("user_id"), col("ts"),
        when(col("event_type") === ConversionType, lit(0)).otherwise(lit(1)).as("kind"),
        col("event_id"), col("event_type"))
      .as[(Option[Long], Option[Long], Int, Option[Long], String)]
    perUserSweep(rows, col("ts"), col("kind"), col("event_id"))(_._1) { (_, rows) =>
      // deque entries: (ts, us, event_id, event_type), arrival-ordered
      // (ts non-decreasing) AND (us, event_id)-increasing by construction
      val dq = new scala.collection.mutable.ArrayDeque[(Long, Long, Option[Long], String)]
      rows.flatMap { case (user, ts, kind, eid, typ) =>
        if (kind == 0) { // purchase: answer = head after expiry
          val ans =
            if (user.isEmpty || eid.isEmpty) None
            else ts.flatMap { t =>
              while (dq.nonEmpty && dq.head._1 < t - TouchWindowNs) dq.removeHead()
              dq.headOption
            }
          Iterator.single((eid, user, ans.map(_._2), ans.flatMap(_._3), ans.map(_._4)))
        } else { // touch: evict dominated tails, enqueue
          for (_ <- user; t <- ts) {
            val u = t / 1000 // micros, truncated like the oracle's `// 1000`
            while (dq.nonEmpty && (dq.last._2 > u ||
                (dq.last._2 == u && dq.last._3.forall(q => eid.exists(q >= _)))))
              dq.removeLast()
            dq.append((t, u, eid, typ))
          }
          Iterator.empty
        }
      }
    }.toDF("purchase_id", "user_id", "first_ts_us", "first_event_id",
      "first_event_type")
  }

  val firstTouchSql: String = {
    val touchList = TouchTypes.map(t => s"'$t'").mkString(", ")
    s"""WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_ns(ts) AS t0
       |           FROM events WHERE event_type = '$ConversionType'),
       |t AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tn,
       |             epoch_ns(ts) // 1000 AS us
       |      FROM events WHERE event_type IN ($touchList)),
       |m AS (SELECT p.purchase_id, t.event_id, t.event_type, t.us
       |      FROM p JOIN t ON t.user_id = p.user_id
       |       AND t.tn >= p.t0 - $TouchWindowNs AND t.tn < p.t0),
       |r AS (SELECT purchase_id, us, event_id, event_type,
       |             row_number() OVER (PARTITION BY purchase_id
       |                                ORDER BY us, event_id) AS rn
       |      FROM m)
       |SELECT p.purchase_id, p.user_id,
       |       r.us AS first_ts_us,
       |       r.event_id AS first_event_id,
       |       r.event_type AS first_event_type
       |FROM p LEFT JOIN (SELECT * FROM r WHERE rn = 1) r USING (purchase_id)""".stripMargin
  }

  // ------------------------------------------------------- linear_attribution
  /** `linear_attribution` — multi-touch revenue attribution: each
    * conversion's value splits EQUALLY across every touch event
    * ([[TouchTypes]]) of the same user inside the backward
    * [[TouchWindowNs]] window — the linear model completing the
    * attribution family ([[firstTouch]] = who opened the path, this = the
    * whole path paid pro rata). The split is EXACT to the cent by the
    * largest-remainder method: each of the k touches gets
    * `cents div k`, and the first `cents mod k` touches in (time,
    * event_id) order get one extra cent — shares are integers, per-
    * conversion shares sum to the conversion's cents EXACTLY (no
    * 1/3+1/3+1/3 ≠ 1.00 float leakage), and the remainder assignment is
    * deterministic on both engines.
    *
    * Scale shape: [[firstTouch]]'s rows (non-NULL user_id and ts) through
    * the [[perUserSweep]], holding every live touch: each purchase expires
    * the touches with `ts < t0 − 24 h` and emits one row per live touch.
    * The per-conversion windows then partition by purchase_id — one
    * exchange for the sweep, one for the windows, which stay because the
    * oracle ranks every NULL-id purchase of every user together.
    *
    * Note: conversion values are non-negative (pinned by dq_audit's
    * domain checks on this corpus), where Spark's truncating `div` and
    * the oracle's floor `//` coincide; a ledger with REFUNDS would floor
    * both sides explicitly before splitting.
    *
    * The OUTPUT is one row per (conversion, in-window touch) pair —
    * quadratic in per-user rate under a Zipf hot user BY DEFINITION of the
    * linear model. NULLs follow the oracle: a NULL user_id or ts matches
    * nothing, and a NULL touch event_id ranks last within its
    * microsecond (`ORDER BY us, touch_id` is NULLS LAST).
    */
  def linearAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables(spark, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        (col("event_type") === ConversionType || col("event_type").isin(TouchTypes: _*)))
      .select(col("user_id"), col("ts"),
        when(col("event_type") === ConversionType, lit(0)).otherwise(lit(1)).as("kind"),
        col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Int, Option[Long], String, Option[Long])]
    val pairs = perUserSweep(rows, col("ts"), col("kind"))(_._1) { (_, rows) =>
      // live touches: (ts, us, touch_id, touch_type), ts non-decreasing
      val live = new scala.collection.mutable.ArrayDeque[(Long, Long, Option[Long], String)]
      rows.flatMap { case (_, ts, kind, eid, typ, cents) =>
        if (kind == 0) {
          while (live.nonEmpty && live.head._1 < ts - TouchWindowNs) live.removeHead()
          live.iterator.map { case (_, us, tid, ttyp) => (eid, cents, tid, ttyp, us) }
        } else {
          live.append((ts, ts / 1000, eid, typ))
          Iterator.empty
        }
      }
    }.toDF("purchase_id", "cents", "touch_id", "touch_type", "us")
    val byTime = Window.partitionBy(col("purchase_id"))
      .orderBy(col("us").asc, col("touch_id").asc_nulls_last)
    val perConv = Window.partitionBy(col("purchase_id"))
    pairs
      .withColumn("rn", row_number().over(byTime).cast("long"))
      .withColumn("n_touches", count(lit(1)).over(perConv))
      .select(col("purchase_id"), col("touch_id"), col("touch_type"),
        col("rn"), col("n_touches"),
        (expr("cents div n_touches") +
          when(col("rn") <= col("cents") % col("n_touches"), lit(1L))
            .otherwise(lit(0L))).as("share_cents"))
  }

  val linearAttributionSql: String = {
    val touchList = TouchTypes.map(t => s"'$t'").mkString(", ")
    s"""WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_ns(ts) AS t0,
       |                  CAST(round(value * 100) AS BIGINT) AS cents
       |           FROM events WHERE event_type = '$ConversionType'),
       |t AS (SELECT user_id, event_id AS touch_id, event_type AS touch_type,
       |             epoch_ns(ts) AS tn, epoch_ns(ts) // 1000 AS us
       |      FROM events WHERE event_type IN ($touchList)),
       |m AS (SELECT p.purchase_id, p.cents, t.touch_id, t.touch_type, t.us
       |      FROM p JOIN t ON t.user_id = p.user_id
       |       AND t.tn >= p.t0 - $TouchWindowNs AND t.tn < p.t0),
       |r AS (SELECT purchase_id, cents, touch_id, touch_type,
       |             CAST(row_number() OVER (PARTITION BY purchase_id
       |                                     ORDER BY us, touch_id) AS BIGINT) AS rn,
       |             CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touches
       |      FROM m)
       |SELECT purchase_id, touch_id, touch_type, rn, n_touches,
       |       cents // n_touches +
       |         CASE WHEN rn <= cents % n_touches THEN 1 ELSE 0 END AS share_cents
       |FROM r""".stripMargin
  }

  // -------------------------------------------------------------- global_rank
  /** `global_rank` — the TOTAL-ORDER SORT family (the OSDI 2004 §2.3
    * "Distributed Sort" benchmark — TeraSort's shape): every event ranked
    * globally by (value cents DESC, event_id ASC), a strict total order.
    * Global ranking is what a naive `row_number() OVER (ORDER BY …)`
    * cannot do at scale — one task sorts the whole corpus (Spark even
    * warns). The scalable decomposition mirrors the range-partitioned
    * sort: (1) assign each row a value bucket via SAMPLED RANGE BOUNDS —
    * the production TeraSort step, made deterministic: a hash-selected
    * [[RankSampleK]]-row sample (smallest hash60(event_id), the IVF-
    * codebook selection trick) yields the [[RankBuckets]]-quantile bound
    * values, and a row's bucket is the count of bounds ≤ its value (a
    * monotone function of vc, so bucketing can NEVER change the output —
    * partitioning-invariance is pinned by test against both the fixed-
    * width variant and a driver-side sort, on a skewed distribution
    * where it matters); (2) per-bucket counts collapse to a TINY table
    * whose running sum over buckets-above gives each bucket's global
    * OFFSET (an unpartitioned window over |buckets| rows, the
    * codebook-window adjudication — likewise the sample-rank window runs
    * over ≤ RankSampleK rows); (3) offsets broadcast back and each
    * bucket ranks internally in parallel (`row_number` partitioned BY
    * bucket) — global rank = offset + local rank. One corpus exchange
    * (on bucket, which IS the range partitioning), one tiny sample pass
    * + aggregate exchange. Sampled bounds are what keep the buckets
    * BALANCED under skewed value distributions (a fixed width collapses
    * an exponential distribution into its first bucket — one straggler
    * task sorts ~everything; the sample splits by mass instead); equal
    * values necessarily co-bucket under any vc-functional bucketing, so
    * a single massively-duplicated value remains the one irreducible
    * hot key — the documented limit of every range-partitioned sort.
    */
  val RankBucketCents = 500L // the fixed-width variant (kept for the invariance test)
  val RankSampleK = 1024
  val RankBuckets = 128

  /** Bucket-decomposed global rank over any (event_id, vc) input with a
    * `bkt` column that is monotone non-decreasing in vc. The input is
    * explicitly repartitioned on bkt FIRST: both consumers (the offsets
    * aggregation and the per-bucket rank window) are then satisfied by
    * that one hash partitioning, so ReuseExchange computes the bucketed
    * corpus — including the sampled-bounds subtree — exactly ONCE (two
    * bare references would run the bound sampling twice).
    */
  private[graft] def rankByBucket(ev: DataFrame): DataFrame = {
    val evb = ev.repartition(col("bkt"))
    val above = Window.orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = evb.groupBy(col("bkt")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(above), lit(0L)))
      .select(col("bkt"), col("off"))
    val local = Window.partitionBy(col("bkt"))
      .orderBy(col("vc").desc, col("event_id").asc)
    evb.join(broadcast(offsets), "bkt")
      .withColumn("rnk", row_number().over(local).cast("long") + col("off"))
      .select(col("event_id"), col("vc"), col("rnk"))
  }

  /** Deterministic sampled range bounds: hash-sample `sampleK` rows, take
    * the `buckets`-quantile vc values of the sample as bounds (the last
    * row of each quantile block, B−1 bounds), and assign
    * bkt = #bounds ≤ vc per row.
    *
    * The bound VALUES are pulled to the driver — O(buckets) longs of
    * PLANNING metadata, the same class of driver pull as the parquet
    * footer row counts and the finished Bloom sketch, and exactly what a
    * production TeraSort does (the driver computes split points in one
    * sampling pass and ships them inside the partitioner; the sampling
    * PLAN never reaches the sort). Two wins over carrying the bounds as
    * a broadcast array column: the sample pass runs ONCE (the bucketed
    * corpus is consumed twice and column pruning makes the copies
    * canonically different, defeating exchange reuse — measured as the
    * sample re-executing per consumer), and the per-row assignment
    * becomes an UNROLLED BINARY-SEARCH CASE tree over literals —
    * ⌈log₂ buckets⌉ codegen'd comparisons per row instead of a
    * 127-element interpreted array-HOF scan.
    */
  private[graft] def sampledRangeBuckets(ev: DataFrame,
      buckets: Int = RankBuckets, sampleK: Int = RankSampleK): DataFrame =
    applyRangeBounds(ev, sampledRangeBounds(ev, buckets, sampleK))

  /** The driver-side sampling job: runs a full scan + top-K, so callers
    * on the hot path must memoize the result per (session, dir) —
    * [[globalRank]] does, via [[Memo.memoizeValue]] — rather than re-run
    * it on every plan construction.
    */
  private[graft] def sampledRangeBounds(ev: DataFrame,
      buckets: Int = RankBuckets, sampleK: Int = RankSampleK): Array[Long] = {
    import graft.functions.TextFns
    val byRank = Window.orderBy(col("vc").asc, col("r0").asc)
    ev.withColumn("h", TextFns.hash60(col("event_id").cast("string")))
      .orderBy(col("h").asc, col("event_id").asc).limit(sampleK)
      .select(col("vc"), col("event_id").as("r0"))
      .withColumn("r", row_number().over(byRank).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .filter(col("r") < col("n") &&
        expr(s"(r * $buckets) div n") > expr(s"((r - 1) * $buckets) div n"))
      .agg(sort_array(collect_list(col("vc"))).as("bs"))
      .head().getSeq[Long](0).toArray
  }

  private[graft] def applyRangeBounds(ev: DataFrame, bs: Array[Long]): DataFrame = {
    // bkt = #bounds ≤ vc, as a balanced CASE tree: answer ∈ [lo, hi];
    // vc < bs(mid) keeps bounds mid.. all above vc → recurse left
    def bkt(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2
        when(col("vc") < lit(bs(mid)), bkt(lo, mid)).otherwise(bkt(mid + 1, hi))
      }
    ev.withColumn("bkt", bkt(0, bs.length))
  }

  /** The fixed-width bucketing the query used before round 13 — retained
    * as the second partitioning for the invariance property test.
    */
  private[graft] def fixedWidthBuckets(ev: DataFrame): DataFrame =
    ev.withColumn("bkt", expr(s"vc div $RankBucketCents"))

  def globalRank(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").select(
      col("event_id"),
      round(col("value") * 100).cast("long").as("vc"))
    // the sampled split points are O(RankBuckets) longs of planning
    // metadata (like the codebooks and parquet row counts), memoized: the
    // sampling scan runs once per (session, dir), not once per plan
    // construction
    val bs = Memo.memoizeValue(spark, dir, "global_rank_bounds")(sampledRangeBounds(ev))
    rankByBucket(applyRangeBounds(ev, bs))
  }

  val globalRankSql: String =
    """WITH e AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS vc FROM events)
      |SELECT event_id, vc,
      |       CAST(row_number() OVER (ORDER BY vc DESC, event_id) AS BIGINT) AS rnk
      |FROM e""".stripMargin

  // ------------------------------------------------------------ pareto_front
  /** `pareto_front` — the SKYLINE operator family: per event type, the
    * Pareto-optimal events under (value, recency) — an event is on the
    * frontier iff no same-type event has value ≥ AND ts ≥ with at least
    * one strict. The classic multi-criteria shortlist ("best trade-offs"),
    * a shape plain top-k/window ranking can't express: the frontier is
    * jointly defined, not per-column.
    *
    * Dominance is evaluated on exact integer axes (value in BIGINT cents,
    * ts in BIGINT nanos), so membership is discrete — no float epsilon.
    * Equal (value, ts) points don't dominate each other: all co-located
    * optima are kept, tie semantics pinned in-spec.
    *
    * Scale shape (NOT the naive all-pairs dominance test): one
    * partial-final hash agg collapses the corpus to the per-(type, cents)
    * max-ts table — vocabulary-sized, like cooc_pmi's collapse — and the
    * single window (running max-ts over strictly-higher cents) runs over
    * THAT table, never the corpus. Frontier groups (running-max argmax
    * chain, expected O(log n) per type) survive; the corpus meets only a
    * (type, cents) equi-join against that tiny table (AQE broadcasts it —
    * the corpus never shuffles) plus a scan-local `ts = group max`
    * filter. The ORACLE is the orientation-opposite decomposition — a
    * raw-row DESC RANGE-frame window — so the hash-match proves the
    * collapse loses/invents no frontier point.
    */
  def paretoFront(spark: SparkSession, dir: String): DataFrame =
    paretoFrontOf(Tables(spark, dir, "events").select(
      col("event_type"), col("event_id"),
      round(col("value") * 100).cast("long").as("value_cents"), col("ts")))

  /** The skyline core over any (event_type, event_id, value_cents, ts)
    * point set — factored so tie/dominance semantics can be pinned on
    * crafted points (the corpus rarely produces exact co-located optima).
    */
  private[graft] def paretoFrontOf(pts: DataFrame): DataFrame = {
    val am = pts.groupBy(col("event_type"), col("value_cents"))
      .agg(max(col("ts")).as("mts"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value_cents").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = am.withColumn("thr", max(col("mts")).over(w))
      .filter(col("thr").isNull || col("thr") < col("mts"))
    pts.join(sky, Seq("event_type", "value_cents"))
      .filter(col("ts") === col("mts"))
      .select(col("event_type"), col("event_id"), col("value_cents"), col("ts"))
  }

  val paretoFrontSql: String =
    """WITH pts AS (SELECT event_type, event_id,
      |               CAST(round(value * 100) AS BIGINT) AS value_cents,
      |               epoch_ns(ts) AS ts
      |             FROM events),
      |w AS (SELECT event_type, event_id, value_cents, ts,
      |        max(ts) OVER (PARTITION BY event_type ORDER BY value_cents DESC
      |                      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
      |        max(ts) OVER (PARTITION BY event_type, value_cents) AS m2
      |      FROM pts)
      |SELECT event_type, event_id, value_cents, ts FROM w
      |WHERE (m1 IS NULL OR m1 < ts) AND m2 <= ts""".stripMargin

  // ---------------------------------------------------------------- path_topk
  /** `path_topk` — the most frequent length-3 event-type paths across all
    * user timelines (sequence mining's "what do users actually do", one
    * step past [[transitionMatrix]]'s first-order pairs). Each user's
    * events are ordered by the (us, event_id) convention; every window of
    * 3 consecutive events contributes one (t1, t2, t3) path; paths are
    * counted corpus-wide and the top [[PathTopK]] returned with a
    * deterministic rank (count desc, then path lexicographic — integer
    * count ties can't diverge across engines).
    *
    * Scale shape: ONE per-user window (two `lead`s share the same
    * partition+order spec → one sort, partitions bounded by per-user
    * activity), then a partial-final hash agg that collapses the corpus to
    * at most |types|³ path rows — the only unpartitioned Sort+Window runs
    * over that vocabulary-sized aggregate, never the corpus.
    */
  val PathTopK = 20

  def pathTopk(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    val ranked = Window.orderBy(
      col("n").desc, col("t1").asc, col("t2").asc, col("t3").asc)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        col("event_type").as("t1"), expr("ts div 1000").as("us"))
      .withColumn("t2", lead(col("t1"), 1).over(byTime))
      .withColumn("t3", lead(col("t1"), 2).over(byTime))
      .filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(ranked).cast("long"))
      .filter(col("rnk") <= PathTopK)
  }

  val pathTopkSql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type AS t1,
       |                  epoch_ns(ts) // 1000 AS us FROM events),
       |p AS (SELECT t1,
       |        lead(t1, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t2,
       |        lead(t1, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t3
       |      FROM e),
       |c AS (SELECT t1, t2, t3, count(*) AS n FROM p
       |      WHERE t3 IS NOT NULL GROUP BY 1, 2, 3),
       |r AS (SELECT t1, t2, t3, n,
       |        row_number() OVER (ORDER BY n DESC, t1, t2, t3) AS rnk FROM c)
       |SELECT t1, t2, t3, n, rnk FROM r WHERE rnk <= $PathTopK""".stripMargin

  // -------------------------------------------------------- time_weighted_avg
  /** `time_weighted_avg` — per-type time-weighted mean of `value`: each
    * event's value is held until the same user's NEXT event (any type), and
    * weighted by that holding duration in whole seconds. The metric every
    * state-valued telemetry pipeline wants ("average balance", "average
    * queue depth") where a plain `avg` over-counts bursty samplers.
    * EXACT: weights are integer seconds (micros difference `div` 10⁶),
    * values integer cents, so `Σ(cents·dur)` and `Σdur` accumulate as
    * BIGINT — associative and order-free across any partial-agg plan; the
    * final mean is one identical double division on both engines.
    * (BIGINT headroom: cents ≤ 10⁵, dur ≤ 10⁷ s ⇒ ≤ 10¹² per row — a
    * per-type partial sum overflows only past ~10⁶ row-equivalents × 10¹²,
    * i.e. ~9·10¹⁸; at that corpus scale the same query runs with the
    * sums cast to DECIMAL(38,0), an order-free exact type as well.)
    * Each user's LAST event has no successor and carries no weight —
    * excluded, like zero-duration (same-second) successors which
    * contribute 0 to both sums.
    *
    * Scale shape: one per-user window sort (bounded by per-user
    * activity) → partial-final hash agg to |event_type| rows; the
    * division runs on those 5 rows.
    */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("nxt_us", lead(col("us"), 1).over(byTime))
      .filter(col("nxt_us").isNotNull)
      .withColumn("dur_s", expr("(nxt_us - us) div 1000000"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("dur_s")).as("weight_s"),
        sum(col("cents") * col("dur_s")).as("wsum_cents"))
      .withColumn("twa_value",
        col("wsum_cents").cast("double") / col("weight_s").cast("double") / lit(100.0))
  }

  val timeWeightedAvgSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |                  epoch_ns(ts) // 1000 AS us,
      |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |d AS (SELECT event_type, cents,
      |        (lead(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) - us)
      |          // 1000000 AS dur_s
      |      FROM e),
      |a AS (SELECT event_type, count(*) AS n,
      |             CAST(sum(dur_s) AS BIGINT) AS weight_s,
      |             CAST(sum(cents * dur_s) AS BIGINT) AS wsum_cents
      |      FROM d WHERE dur_s IS NOT NULL GROUP BY 1)
      |SELECT event_type, n, weight_s, wsum_cents,
      |       CAST(wsum_cents AS DOUBLE) / CAST(weight_s AS DOUBLE) / 100.0
      |         AS twa_value
      |FROM a""".stripMargin

  // --------------------------------------------------------------- ohlc_daily
  /** `ohlc_daily` — per-type daily OPEN/HIGH/LOW/CLOSE of the value in
    * integer cents: the financial candlestick aggregation, and the
    * inventory's ARGMIN/ARGMAX-BY-TIME member (open = value of the
    * day's FIRST event, close = the LAST, ties broken by event_id — the
    * house (us, event_id) order; high/low are plain extremes). Computed
    * as `min/max(struct(us, event_id, cents))` — Spark's lexicographic
    * struct ordering makes the aggregate an argmin/argmax whose partials
    * merge associatively in ANY order, so no window and no sort ever
    * touch the corpus. The oracle states the same semantics as
    * first/last row_number selections, proving the struct-extreme
    * decomposition equals the declarative definition.
    *
    * Scale shape: ONE partial-final hash agg to the (type, day) grid —
    * the same shape as `group_agg`; nothing else.
    */
  def ohlcDaily(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400000000000L
    Tables(spark, dir, "events")
      .select(col("event_type"), expr(s"ts div $dayNs").as("d"),
        expr("ts div 1000").as("us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("d"))
      .agg(
        count(lit(1)).as("n"),
        min(struct(col("us"), col("event_id"), col("cents")))
          .getField("cents").as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max(struct(col("us"), col("event_id"), col("cents")))
          .getField("cents").as("close_cents"))
  }

  val ohlcDailySql: String =
    """WITH e AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS d,
      |                  epoch_ns(ts) // 1000 AS us, event_id,
      |                  CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |r AS (SELECT event_type, d, cents,
      |        row_number() OVER (PARTITION BY event_type, d
      |                           ORDER BY us, event_id) AS rn_open,
      |        row_number() OVER (PARTITION BY event_type, d
      |                           ORDER BY us DESC, event_id DESC) AS rn_close
      |      FROM e),
      |a AS (SELECT event_type, d, count(*) AS n, max(cents) AS high_cents,
      |             min(cents) AS low_cents
      |      FROM e GROUP BY 1, 2)
      |SELECT a.event_type, a.d, a.n, o.cents AS open_cents, a.high_cents,
      |       a.low_cents, c.cents AS close_cents
      |FROM a
      |JOIN (SELECT event_type, d, cents FROM r WHERE rn_open = 1) o
      |  USING (event_type, d)
      |JOIN (SELECT event_type, d, cents FROM r WHERE rn_close = 1) c
      |  USING (event_type, d)""".stripMargin

  // ------------------------------------------------------- quantile_normalize
  /** `quantile_normalize` — per-type PERCENT_RANK and CUME_DIST of every
    * event's value (integer cents): the rank-based normalization feature
    * pipelines use to make heavy-tailed metrics comparable across types
    * (the quantile-transform of sklearn fame). Tie semantics are the SQL
    * standard's: percent_rank = (min-rank − 1)/(n − 1), cume_dist =
    * (rows ≤ value)/n — both one IEEE division of exact BIGINTs, so the
    * oracle's NATIVE window functions must reproduce our decomposition
    * bit-for-bit.
    *
    * Scale shape: a naive `percent_rank() OVER (PARTITION BY type ORDER
    * BY value)` sorts each type's full corpus slice in one task chain;
    * instead the corpus collapses to the (type, cents) VALUE VOCABULARY
    * with counts (one partial-final hash agg), the running sums walk
    * that vocabulary-sized table per type, and the per-row ranks return
    * by broadcast-joining the vocabulary back to the corpus — the corpus
    * itself is never sorted and never enters a window (the pareto_front /
    * global_rank collapse, applied to rank normalization).
    */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events").select(
      col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val byValue = Window.partitionBy(col("event_type"))
      .orderBy(col("cents").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val vocab = e.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("below", coalesce(sum(col("cnt")).over(byValue), lit(0L)))
      .withColumn("upto", col("below") + col("cnt"))
    val totals = e.groupBy(col("event_type")).agg(count(lit(1)).as("nn"))
    e.join(broadcast(vocab.join(totals, "event_type")),
        Seq("event_type", "cents"))
      .withColumn("pr",
        col("below").cast("double") / (col("nn") - lit(1L)).cast("double"))
      .withColumn("cd", col("upto").cast("double") / col("nn").cast("double"))
      .select(col("event_id"), col("event_type"), col("cents"),
        col("pr"), col("cd"))
  }

  val quantileNormalizeSql: String =
    """WITH e AS (SELECT event_id, event_type,
      |                  CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events)
      |SELECT event_id, event_type, cents,
      |       percent_rank() OVER (PARTITION BY event_type ORDER BY cents) AS pr,
      |       cume_dist() OVER (PARTITION BY event_type ORDER BY cents) AS cd
      |FROM e""".stripMargin

  // ------------------------------------------------------------- basket_rules
  /** `basket_rules` — MARKET-BASKET association rules over daily activity
    * baskets: a basket is the DISTINCT event-type set of one (user, day);
    * for every type pair the support, per-direction confidence, and lift
    * — the affinity analysis behind "users who err also buy" questions,
    * and the co-occurrence family's SESSION-scoped member (`cooc_pmi`
    * scores token windows; this scores behavioral baskets). Exact:
    * supports are BIGINTs; confidence = one division; lift is evaluated
    * as `(supp_ab · n_baskets) / (supp_a · supp_b)` — double products of
    * exact ints in one identical tree, no intermediate rounding.
    *
    * Scale shape: the corpus collapses FIRST to the distinct (user, day,
    * type) basket-membership table (partial-final agg; ≤ |types| rows
    * per basket); pair counts are a self-equi-join on the basket key
    * with fanout bounded by |types|² per basket — never a corpus×corpus
    * join; the pair table is vocabulary-sized (≤ |types|²) and meets
    * only broadcast-joined support totals.
    */
  def basketRules(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400000000000L
    // memoized basket-membership table: referenced four times below (supp,
    // both pair sides, basket total) — one distinct-collapse corpus pass
    // per (session, dir) instead of four
    val m = Memo.memoizeDisk(spark, dir, "basket_membership",
      s"day=$dayNs")(
      Tables(spark, dir, "events")
        .select(col("user_id"), expr(s"ts div $dayNs").as("d"),
          col("event_type"))
        .distinct())
    val nb = m.select(col("user_id"), col("d")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val supp = m.groupBy(col("event_type")).agg(count(lit(1)).as("s"))
    val pairs = m.as("a").join(m.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.d") === col("b.d") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      .agg(count(lit(1)).as("supp_ab"))
    pairs
      .join(broadcast(supp.select(col("event_type").as("ta"),
        col("s").as("supp_a"))), "ta")
      .join(broadcast(supp.select(col("event_type").as("tb"),
        col("s").as("supp_b"))), "tb")
      .crossJoin(broadcast(nb))
      .withColumn("conf_a_b",
        col("supp_ab").cast("double") / col("supp_a").cast("double"))
      .withColumn("conf_b_a",
        col("supp_ab").cast("double") / col("supp_b").cast("double"))
      .withColumn("lift",
        (col("supp_ab").cast("double") * col("n_baskets").cast("double")) /
          (col("supp_a").cast("double") * col("supp_b").cast("double")))
      .select(col("ta"), col("tb"), col("supp_ab"), col("supp_a"),
        col("supp_b"), col("n_baskets"), col("conf_a_b"), col("conf_b_a"),
        col("lift"))
  }

  val basketRulesSql: String =
    """WITH m AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS d,
      |                  event_type
      |           FROM events),
      |nb AS (SELECT count(*) AS n_baskets
      |       FROM (SELECT DISTINCT user_id, d FROM m)),
      |s AS (SELECT event_type, count(*) AS s FROM m GROUP BY 1),
      |p AS (SELECT a.event_type AS ta, b.event_type AS tb,
      |             count(*) AS supp_ab
      |      FROM m a JOIN m b ON a.user_id = b.user_id AND a.d = b.d
      |       AND a.event_type < b.event_type
      |      GROUP BY 1, 2)
      |SELECT p.ta, p.tb, p.supp_ab, sa.s AS supp_a, sb.s AS supp_b,
      |       nb.n_baskets,
      |       CAST(p.supp_ab AS DOUBLE) / CAST(sa.s AS DOUBLE) AS conf_a_b,
      |       CAST(p.supp_ab AS DOUBLE) / CAST(sb.s AS DOUBLE) AS conf_b_a,
      |       (CAST(p.supp_ab AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)) /
      |         (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)) AS lift
      |FROM p JOIN s sa ON sa.event_type = p.ta
      |       JOIN s sb ON sb.event_type = p.tb
      |       CROSS JOIN nb""".stripMargin

  // -------------------------------------------------------------- set_ops_all
  /** `set_ops_all` — the MULTISET set-operation variants (`INTERSECT ALL`
    * / `EXCEPT ALL`), completing the family [[setOps]] opened with
    * distinct semantics: the per-user view-occurrence bag against the
    * purchase-occurrence bag. `INTERSECT ALL` keeps each user min(views,
    * purchases) times (the matched-engagement bag), `EXCEPT ALL` keeps
    * the surplus max(views − purchases, 0) times (the unconverted-views
    * bag) — the multiplicity-preserving semantics a sampler or a
    * per-occurrence billing reconciliation needs, where DISTINCT set ops
    * silently collapse multiplicity. Results roll up per user so the
    * multiset cardinalities are hash-comparable.
    *
    * Scale shape (round-18 form, guide §2.3/§2.4): the rolled-up multiset
    * cardinalities are pure arithmetic over the per-user occurrence
    * counts — |EXCEPT ALL| = cv − cp where cv > cp, |INTERSECT ALL| =
    * least(cv, cp) where both ≥ 1 — so ONE partial-final conditional
    * count aggregation over one pushed-filter scan feeds both output
    * branches, and the branches' identical aggregate subtrees share one
    * exchange (ReusedExchange). The round-17 form ran Spark's generic
    * except/intersect-ALL pipelines per branch: four scans, two
    * union-aggregates (two user_id exchanges), and a replicate-Generate
    * whose expanded rows were immediately re-counted by the rollup —
    * multiplicity materialized only to be aggregated away.
    */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"))
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        count(when(col("event_type") === "view", lit(1))).as("cv"),
        count(when(col("event_type") === "purchase", lit(1))).as("cp"))
    counts.filter(col("cv") > col("cp"))
      .select(lit("views_minus_purchases").as("tag"), col("user_id"),
        (col("cv") - col("cp")).as("n"))
      .union(counts.filter(col("cv") >= 1 && col("cp") >= 1)
        .select(lit("min_views_purchases").as("tag"), col("user_id"),
          least(col("cv"), col("cp")).as("n")))
  }

  val setOpsAllSql: String =
    """SELECT 'views_minus_purchases' AS tag, user_id, count(*) AS n FROM (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  EXCEPT ALL
      |  SELECT user_id FROM events WHERE event_type = 'purchase')
      |GROUP BY 2
      |UNION ALL
      |SELECT 'min_views_purchases', user_id, count(*) FROM (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  INTERSECT ALL
      |  SELECT user_id FROM events WHERE event_type = 'purchase')
      |GROUP BY 2""".stripMargin

  // ------------------------------------------------------------ melt_measures
  /** `melt_measures` — UNPIVOT (melt), the inverse of [[pivotDaily]]'s
    * pivot and the last member of the reshape family: the four lineitem
    * measure columns unpivot into (measure, amount) rows via Spark's
    * native `Dataset.unpivot` operator, then roll up per
    * (returnflag, measure) with the engine's exact integer-cents sums.
    * The wide→long normalization every metrics warehouse runs to get
    * measure-generic downstream logic.
    *
    * Scale shape: unpivot is a scan-local Expand (4 rows out per input
    * row, zero shuffle — the rollup_agg Expand shape on the column axis);
    * the only exchange is the final partial-final hash agg to the
    * |flags|×|measures| grid. ReadSchema prunes to the 5 used columns.
    */
  def meltMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "measure", "amount")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"), intSum(col("amount"), 2).as("sum_cents"))

  val meltMeasuresSql: String =
    """WITH u AS (
      |  SELECT l_returnflag, measure, amount
      |  FROM (SELECT l_returnflag, l_quantity, l_extendedprice, l_discount,
      |               l_tax FROM lineitem)
      |  UNPIVOT (amount FOR measure IN (l_quantity, l_extendedprice,
      |                                  l_discount, l_tax)))
      |SELECT l_returnflag, measure, count(*) AS n,
      |       CAST(sum(CAST(round(amount * 100) AS BIGINT)) AS BIGINT)
      |         AS sum_cents
      |FROM u GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------- user_journey
  /** `user_journey` — per-user ORDERED event-type sequence as an ARRAY
    * column plus summary stats (event count, first/last micros). The
    * "full customer journey" export behind sequence models and
    * journey-map UIs. The DECLARED output encodes the sequence as ONE
    * scalar — `concat_ws(">", …)` over the ordered types — because the
    * driver's comparator order-normalizes rows with a pandas sort, which
    * cannot hash an ARRAY cell (round-8 incident: the array-valued form
    * was engine-correct but drew the inventory's only red CORRECTNESS row
    * with `TypeError: unhashable type: 'numpy.ndarray'`). The array-valued
    * aggregation survives as [[userJourneyOf]], the non-declared API a
    * sequence trainer would consume, with its own partitioning-invariance
    * test; SchemaContractSpec lints the whole declared inventory against
    * nested/binary output so the class cannot regress.
    *
    * Determinism: `collect_list` gives no ordering guarantee (partial
    * buffers merge in task-completion order), so the journey is built as
    * `array_sort(collect_list(struct(us, event_id, event_type)))` — the
    * (us, event_id) prefix is unique per user, so the sorted struct array
    * is a total order and the projected type sequence is reproducible on
    * any partitioning; the oracle's `list(... ORDER BY us, event_id)`
    * states the same order declaratively.
    *
    * Scale shape: ONE user-keyed ObjectHashAggregate (no window, no
    * sort of the corpus); per-group state is bounded by per-user
    * activity — the same bound sessionize/path_topk already rely on.
    * At 100 TB the journey column is the per-user payload a sequence
    * trainer reads; exporting it partitioned by user bucket is the
    * intended layout.
    */
  def userJourney(spark: SparkSession, dir: String): DataFrame =
    userJourneyOf(Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us")))
      .withColumn("journey", concat_ws(">", col("journey")))

  /** The journey aggregation over any (user_id, event_id, event_type, us)
    * rows — factored so the partitioning-invariance test can feed the
    * same input under adversarial repartitionings.
    */
  private[graft] def userJourneyOf(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("first_us"),
        max(col("us")).as("last_us"),
        expr("transform(array_sort(collect_list(struct(us, event_id, event_type)))," +
          " x -> x.event_type)").as("journey"))

  val userJourneySql: String =
    """SELECT user_id, count(*) AS n_events,
      |       min(epoch_ns(ts) // 1000) AS first_us,
      |       max(epoch_ns(ts) // 1000) AS last_us,
      |       string_agg(event_type, '>' ORDER BY epoch_ns(ts) // 1000, event_id) AS journey
      |FROM events GROUP BY user_id""".stripMargin

  // ----------------------------------------------------------------- dq_audit
  /** `dq_audit` — cross-table data-quality report: one labeled row per
    * invariant with its violation count (0 = clean), the admission gate a
    * production warehouse runs before publishing a snapshot. Checks span
    * the three violation families: REFERENTIAL (orphan foreign keys, via
    * anti-join), DOMAIN (nulls / out-of-range / empty payloads, scan-local
    * predicates), and UNIQUENESS (duplicate primary keys, via group-count).
    *
    * Scale shape: every check is an independent partial-final COUNT — the
    * scan-local checks read only their predicate columns (pruned scans);
    * the two referential checks are key-only anti-joins (shuffle or
    * broadcast by dim size under AQE); `events_dup_id` collapses by key
    * map-side before the exchange. Nothing ever materializes violating
    * ROWS — only counts cross the network, so a 100 TB audit moves KBs.
    * The final result is a fixed 9-row union of 1-row aggregates.
    */
  def dqAudit(spark: SparkSession, dir: String): DataFrame =
    dqAuditOf(
      Tables(spark, dir, "lineitem"), Tables(spark, dir, "orders"),
      Tables(spark, dir, "customer"), Tables(spark, dir, "events"),
      Tables(spark, dir, "documents"), Tables(spark, dir, "embeddings"))

  /** The audit core over any six table-shaped inputs — factored so the
    * crafted-violation test can inject one violation per family and pin
    * that every check actually FIRES (the clean corpus only proves they
    * don't false-positive).
    */
  private[graft] def dqAuditOf(li: DataFrame, ord: DataFrame, cust: DataFrame,
      ev: DataFrame, docs: DataFrame, emb: DataFrame): DataFrame = {
    def one(name: String, n: DataFrame): DataFrame =
      n.select(lit(name).as("check_name"), col("n"))
    val cnt = count(lit(1)).as("n")
    val checks = Seq(
      one("lineitem_orphan_order",
        li.select(col("l_orderkey"))
          .join(ord.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti").agg(cnt)),
      one("orders_orphan_customer",
        ord.select(col("o_custkey"))
          .join(cust.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti").agg(cnt)),
      one("orders_null_key",
        ord.filter(col("o_orderkey").isNull || col("o_custkey").isNull).agg(cnt)),
      one("lineitem_nonpositive_price",
        li.filter(col("l_extendedprice") <= 0 || col("l_quantity") <= 0).agg(cnt)),
      one("lineitem_discount_range",
        li.filter(col("l_discount") < 0 || col("l_discount") > 1).agg(cnt)),
      one("events_dup_id",
        ev.groupBy(col("event_id")).agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).agg(cnt)),
      one("events_null_user",
        ev.filter(col("user_id").isNull || col("ts").isNull).agg(cnt)),
      one("docs_empty_text",
        docs.filter(col("text").isNull || length(col("text")) === 0).agg(cnt)),
      one("embeddings_empty_vec",
        emb.filter(col("embedding").isNull || size(col("embedding")) === 0).agg(cnt)))
    checks.reduce(_.union(_))
  }

  val dqAuditSql: String =
    """SELECT 'lineitem_orphan_order' AS check_name, count(*) AS n FROM lineitem l
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |UNION ALL SELECT 'orders_orphan_customer', count(*) FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |UNION ALL SELECT 'orders_null_key', count(*) FROM orders
      |  WHERE o_orderkey IS NULL OR o_custkey IS NULL
      |UNION ALL SELECT 'lineitem_nonpositive_price', count(*) FROM lineitem
      |  WHERE l_extendedprice <= 0 OR l_quantity <= 0
      |UNION ALL SELECT 'lineitem_discount_range', count(*) FROM lineitem
      |  WHERE l_discount < 0 OR l_discount > 1
      |UNION ALL SELECT 'events_dup_id', count(*) FROM
      |  (SELECT event_id FROM events GROUP BY event_id HAVING count(*) > 1)
      |UNION ALL SELECT 'events_null_user', count(*) FROM events
      |  WHERE user_id IS NULL OR ts IS NULL
      |UNION ALL SELECT 'docs_empty_text', count(*) FROM documents
      |  WHERE text IS NULL OR length(text) = 0
      |UNION ALL SELECT 'embeddings_empty_vec', count(*) FROM embeddings
      |  WHERE embedding IS NULL OR len(embedding) = 0""".stripMargin

  // -------------------------------------------------------- trailing_features
  /** `trailing_features` — leakage-free point-in-time feature backfill: for
    * EVERY event, the same user's trailing-7-day activity summarized
    * STRICTLY BEFORE that event (prior-event count, exact cents volume,
    * nanoseconds since the most recent in-horizon event). This is the
    * feature-store primitive behind training-set materialization: each
    * example's features must be computable from data available at its own
    * timestamp, never at or after it — hence the RANGE frame ending at
    * −1 ns, which also excludes same-timestamp peers on both engines
    * (RANGE peers sit at distance 0).
    *
    * All three features are exact integers (count, BIGINT cents sum,
    * BIGINT nanosecond gap), so partial-frame accumulation order can never
    * hash-mismatch; `gap_ns` is NULL when the horizon holds no prior event.
    *
    * Scale shape: the [[perUserSweep]] over runs of equal ts, keeping a
    * deque of the in-horizon runs (ts, events, cents) with a running
    * count and cents sum: each run first expires runs older than `ts − H`
    * (the frame's lower bound is inclusive), is then emitted against that
    * state (peers at distance 0 are outside each other's frame, the −1 ns
    * bound), and only then joins the deque. `gap_ns` is `ts` minus the
    * newest live run. A user costs its sort, O(n log n), where a
    * `rangeBetween(−H, −1)` window costs O(n·f) (31.4 s vs 0.54 s uniform
    * on round 16's sf1 Zipf hot user).
    *
    * NULLs follow the oracle's window: a NULL user_id is one more user,
    * a user's NULL-ts rows form one run that is each row's whole frame,
    * itself included (with a NULL gap), and a NULL value counts in
    * `n_7d` but adds nothing to `cents_7d`.
    */
  val TrailingHorizonNs: Long = 7L * 86400000000000L

  def trailingFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Option[Long], Option[Long], Option[Long], Option[Long])]
    perUserSweep(rows, col("ts"))(_._1) { (user, rows) =>
      // in-horizon runs of this user: (ts, events, cents), ts-increasing
      val live = new scala.collection.mutable.ArrayDeque[(Long, Long, Long)]
      var n = 0L
      var cents = 0L
      SortedRuns.runs(rows)(_._2) { (ts, same) =>
        val run = scala.collection.mutable.ArrayBuffer.empty[Option[Long]]
        var runCents = 0L
        same.foreach { r => run += r._3; runCents += r._4.getOrElse(0L) }
        ts match {
          case None => run.map(eid => (eid, user, run.size.toLong, runCents, Option.empty[Long]))
          case Some(t) =>
            while (live.nonEmpty && live.head._1 < t - TrailingHorizonNs) {
              val (_, en, ec) = live.removeHead()
              n -= en; cents -= ec
            }
            val gap = live.lastOption.map(t - _._1)
            val out = run.map(eid => (eid, user, n, cents, gap))
            live.append((t, run.size.toLong, runCents))
            n += run.size; cents += runCents
            out
        }
      }
    }.toDF("event_id", "user_id", "n_7d", "cents_7d", "gap_ns")
  }

  val trailingFeaturesSql: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS tn,
       |                  CAST(round(value * 100) AS BIGINT) AS cents
       |           FROM events)
       |SELECT event_id, user_id,
       |       CAST(count(*) OVER w AS BIGINT) AS n_7d,
       |       CAST(coalesce(sum(cents) OVER w, 0) AS BIGINT) AS cents_7d,
       |       tn - max(tn) OVER w AS gap_ns
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY tn
       |             RANGE BETWEEN $TrailingHorizonNs PRECEDING
       |                       AND 1 PRECEDING)""".stripMargin

  // -------------------------------------------------------- changepoint_daily
  /** `changepoint_daily` — offline CUSUM changepoint detection over the
    * daily event-count series: for each day k (of n observed days, total
    * volume S, running sum cum_k) the scaled CUSUM statistic
    * `g_k = n·cum_k − k·S` — an integer multiple (by n) of the classic
    * `cum_k − k·(S/n)` mean-shift statistic, so the argmax |g| day is the
    * level-shift changepoint estimate (Page 1954; the single-changepoint
    * least-squares estimator), computed in PURE BIGINT arithmetic: no
    * division, no floats, nothing order-dependent anywhere.
    *
    * `is_cp` marks the detected changepoint: max |g|, earliest day on
    * ties — pinned via two scalar passes (global max, then earliest
    * argmax) so the flag is deterministic on both engines.
    *
    * Scale shape: the corpus collapses FIRST to per-day totals (one
    * partial-final hash agg — the only corpus-wide pass); every window
    * below runs over that calendar-bounded relation (≤ a few thousand
    * rows at any corpus size), the same provably-tiny-window precedent as
    * `peak_concurrency`'s per-day totals.
    */
  def changepointDaily(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "events")
      .groupBy(expr("ts div 86400000000000").as("day_idx"))
      .agg(count(lit(1)).as("n_events"))
    val byDay = Window.orderBy(col("day_idx"))
    val all = Window.partitionBy()
    d.withColumn("k", row_number().over(byDay).cast("long"))
      .withColumn("cum", sum(col("n_events")).over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("g",
        count(lit(1)).over(all) * col("cum")
          - col("k") * sum(col("n_events")).over(all))
      .withColumn("mx", max(abs(col("g"))).over(all))
      .withColumn("cp_day",
        min(when(abs(col("g")) === col("mx"), col("day_idx"))).over(all))
      .select(col("day_idx"), col("n_events"), col("cum"), col("g"),
        (abs(col("g")) === col("mx") && col("day_idx") === col("cp_day"))
          .as("is_cp"))
  }

  val changepointDailySql: String =
    """WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS day_idx,
      |                  count(*) AS n_events
      |           FROM events GROUP BY 1),
      |s AS (SELECT day_idx, n_events,
      |             CAST(row_number() OVER (ORDER BY day_idx) AS BIGINT) AS k,
      |             CAST(sum(n_events) OVER (ORDER BY day_idx) AS BIGINT) AS cum,
      |             CAST(count(*) OVER () AS BIGINT) AS n_days,
      |             CAST(sum(n_events) OVER () AS BIGINT) AS total
      |      FROM d),
      |g AS (SELECT day_idx, CAST(n_events AS BIGINT) AS n_events, cum,
      |             n_days * cum - k * total AS g
      |      FROM s),
      |m AS (SELECT max(abs(g)) AS mx FROM g),
      |cp AS (SELECT min(day_idx) AS cp_day FROM g, m WHERE abs(g) = mx)
      |SELECT g.day_idx, g.n_events, g.cum, g.g,
      |       (abs(g.g) = m.mx AND g.day_idx = cp.cp_day) AS is_cp
      |FROM g, m, cp""".stripMargin

  // ------------------------------------------------------------- growth_curve
  /** `growth_curve` — the user-growth view: per day, NEW users (first-ever
    * appearance) and the cumulative distinct-user count — the adoption
    * curve behind every "users over time" chart. A naive cumulative
    * COUNT(DISTINCT) re-scans history per day; the standard collapse is
    * exact and one-pass: a user's NEW day is min(day) per user (hash
    * agg), new-user counts collapse to the day table, and the running
    * sum over that calendar-bounded table IS the cumulative distinct
    * count (every user counted exactly once, on their first day).
    *
    * Also emits `n_active` (distinct users that day) so the ratio
    * new/active — the growth-vs-retention mix — reads off each row.
    * All integers; the only window is over per-day totals.
    */
  def growthCurve(spark: SparkSession, dir: String): DataFrame = {
    val dayNs = 86400000000000L
    val ud = Tables(spark, dir, "events")
      .select(col("user_id"), expr(s"ts div $dayNs").as("d")).distinct()
    val firstDay = ud.groupBy(col("user_id")).agg(min(col("d")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n_new"))
    val active = ud.groupBy(col("d")).agg(count(lit(1)).as("n_active"))
    val byDay = Window.orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(firstDay, Seq("d"), "left")
      .select(col("d").as("day_idx"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(byDay))
  }

  val growthCurveSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS d
      |            FROM events),
      |fd AS (SELECT min(d) AS d FROM ud GROUP BY user_id),
      |nw AS (SELECT d, count(*) AS n_new FROM fd GROUP BY d),
      |ac AS (SELECT d, count(*) AS n_active FROM ud GROUP BY d)
      |SELECT ac.d AS day_idx, ac.n_active,
      |       coalesce(nw.n_new, 0) AS n_new,
      |       CAST(sum(coalesce(nw.n_new, 0)) OVER (ORDER BY ac.d) AS BIGINT) AS cum_users
      |FROM ac LEFT JOIN nw ON nw.d = ac.d""".stripMargin

  // -------------------------------------------------------------- dow_anomaly
  /** `dow_anomaly` — SEASONAL-baseline anomaly detection: each day's
    * event count compared against its own DAY-OF-WEEK mean (Mondays vs
    * the Monday baseline), flagging days outside ±50% — the seasonality-
    * aware complement of `anomaly_mad`'s global robust test (a quiet
    * Sunday is normal for Sundays; the global test would flag every
    * weekend). Entirely EXACT: the mean never materializes — the flags
    * cross-multiply integers (`2·k·c > 3·S` ⇔ c > 1.5·S/k), so there is
    * no division anywhere and partial order can't shift a boundary.
    *
    * Day-of-week is `(day_idx + 3) mod 7` (epoch day 0 = Thursday =
    * weekday 3, so +3 makes 0 = Monday), identical integer arithmetic on
    * both engines.
    *
    * Scale shape: per-day totals first (ONE corpus pass, partial-final);
    * the dow baselines are a 7-row aggregate of that day table; flags
    * evaluate scan-locally on the day table after a broadcast join.
    */
  def dowAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "events")
      .groupBy(expr("ts div 86400000000000").as("day_idx"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("dow", (col("day_idx") + 3) % 7)
    val base = d.groupBy(col("dow"))
      .agg(count(lit(1)).as("k"), sum(col("n_events")).as("s"))
    d.join(broadcast(base), "dow")
      .select(col("day_idx"), col("dow"), col("n_events"),
        col("k").as("n_dow_days"), col("s").as("dow_total"),
        (col("n_events") * col("k") * 2 > col("s") * 3).as("is_high"),
        (col("n_events") * col("k") * 2 < col("s")).as("is_low"))
  }

  val dowAnomalySql: String =
    """WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS day_idx,
      |                  count(*) AS n_events
      |           FROM events GROUP BY 1),
      |dd AS (SELECT day_idx, n_events, (day_idx + 3) % 7 AS dow FROM d),
      |base AS (SELECT dow, count(*) AS k, CAST(sum(n_events) AS BIGINT) AS s
      |         FROM dd GROUP BY dow)
      |SELECT dd.day_idx, dd.dow, dd.n_events,
      |       base.k AS n_dow_days, base.s AS dow_total,
      |       dd.n_events * base.k * 2 > base.s * 3 AS is_high,
      |       dd.n_events * base.k * 2 < base.s AS is_low
      |FROM dd JOIN base USING (dow)""".stripMargin

  // ------------------------------------------------------------ conversion_lag
  /** `conversion_lag` — time-to-conversion (the survival-analysis input):
    * per user, the first `signup` event and the first `purchase` AT OR
    * AFTER it, with the exact nanosecond lag; users who signed up but
    * never converted keep a NULL lag and `converted = false` — the
    * censored observations a survival model needs kept, not dropped.
    * Complements the funnel family: `funnel_conversion` counts who
    * progressed within a window, this measures HOW LONG the corpus's
    * unbounded signup→purchase transition took, per user.
    *
    * All integers (min-ts aggregations, one subtraction); purchases
    * strictly before the user's first signup are excluded on both
    * engines by the same `>=` bound.
    *
    * Scale shape: two pushed-filter scans collapse partial-final per
    * user; ONE user-keyed equi-join (bounded fan-out: that user's
    * purchases) + a re-aggregation. No windows, no corpus sort.
    */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val s = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ns"))
    val p = ev.filter(col("event_type") === ConversionType)
      .select(col("user_id"), col("ts"))
    s.join(p, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("signup_ns"))
      .agg(min(when(col("ts") >= col("signup_ns"), col("ts"))).as("purchase_ns"))
      .select(col("user_id"), col("signup_ns"), col("purchase_ns"),
        (col("purchase_ns") - col("signup_ns")).as("lag_ns"),
        col("purchase_ns").isNotNull.as("converted"))
  }

  val conversionLagSql: String =
    s"""WITH s AS (SELECT user_id, min(epoch_ns(ts)) AS signup_ns
       |           FROM events WHERE event_type = 'signup' GROUP BY user_id),
       |p AS (SELECT user_id, epoch_ns(ts) AS tn
       |      FROM events WHERE event_type = '$ConversionType'),
       |m AS (SELECT s.user_id, s.signup_ns,
       |             min(CASE WHEN p.tn >= s.signup_ns THEN p.tn END) AS purchase_ns
       |      FROM s LEFT JOIN p ON p.user_id = s.user_id
       |      GROUP BY s.user_id, s.signup_ns)
       |SELECT user_id, signup_ns, purchase_ns,
       |       purchase_ns - signup_ns AS lag_ns,
       |       purchase_ns IS NOT NULL AS converted
       |FROM m""".stripMargin

  // ------------------------------------------------------------ fk_cardinality
  /** `fk_cardinality` — foreign-key FAN-OUT profiling: for each declared
    * relationship (customer→orders, orders→lineitem), the parent
    * population, how many parents actually have children, the child
    * total, and the min/max children per parent — the cardinality facts
    * every join planner assumption and every "explode risk" review rests
    * on, and the piece `dq_audit` (violations) and `profile_table`
    * (per-column stats) don't cover: the SHAPE of the 1:N edges.
    * Childless parents are counted (n_childless) rather than silently
    * shaping min_children — min/max describe parents WITH children,
    * stated explicitly.
    *
    * Scale shape: per relationship, one partial-final count by FK on the
    * child table (vocabulary-sized result), one broadcast-scale
    * aggregation over it, and a 1-row parent count attached by
    * cross-joining two 1-row aggregates (fixed-size, the dq_audit
    * pattern). Two fixed rows out.
    */
  def fkCardinality(spark: SparkSession, dir: String): DataFrame = {
    def rel(name: String, parent: DataFrame, pk: String,
        child: DataFrame, fk: String): DataFrame = {
      val perParent = child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("c"))
      val stats = perParent.agg(
        count(lit(1)).as("n_parents_with"),
        sum(col("c")).as("n_children"),
        min(col("c")).as("min_children"),
        max(col("c")).as("max_children"))
      val parents = parent.agg(count(lit(1)).as("n_parents"))
      parents.crossJoin(broadcast(stats))
        .select(lit(name).as("rel"), col("n_parents"), col("n_parents_with"),
          (col("n_parents") - col("n_parents_with")).as("n_childless"),
          col("n_children"), col("min_children"), col("max_children"))
    }
    rel("customer_orders",
      Tables(spark, dir, "customer"), "c_custkey",
      Tables(spark, dir, "orders"), "o_custkey")
      .unionAll(rel("orders_lineitem",
        Tables(spark, dir, "orders"), "o_orderkey",
        Tables(spark, dir, "lineitem"), "l_orderkey"))
  }

  val fkCardinalitySql: String =
    """WITH co AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
      |ol AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1)
      |SELECT 'customer_orders' AS rel,
      |       (SELECT count(*) FROM customer) AS n_parents,
      |       count(*) AS n_parents_with,
      |       (SELECT count(*) FROM customer) - count(*) AS n_childless,
      |       CAST(sum(c) AS BIGINT) AS n_children,
      |       min(c) AS min_children, max(c) AS max_children
      |FROM co
      |UNION ALL
      |SELECT 'orders_lineitem',
      |       (SELECT count(*) FROM orders),
      |       count(*),
      |       (SELECT count(*) FROM orders) - count(*),
      |       CAST(sum(c) AS BIGINT), min(c), max(c)
      |FROM ol""".stripMargin

  val entries: Seq[(String, QueryDef)] = Seq(
    "group_agg" -> QueryDef(groupAgg, Some(groupAggSql)),
    "distinct_count" -> QueryDef(distinctCount, Some(distinctCountSql)),
    "histogram" -> QueryDef(histogram, Some(histogramSql)),
    "join_enrich" -> QueryDef(joinEnrich, Some(joinEnrichSql)),
    "window_rank" -> QueryDef(windowRank, Some(windowRankSql)),
    "sessionize" -> QueryDef(sessionize, Some(sessionizeSql)),
    "session_stats" -> QueryDef(sessionStats, Some(sessionStatsSql)),
    "band_join" -> QueryDef(bandJoin, Some(bandJoinSql)),
    "asof_join" -> QueryDef(asofJoin, Some(asofJoinSql)),
    "rollup_agg" -> QueryDef(rollupAgg, Some(rollupAggSql)),
    "cube_agg" -> QueryDef(cubeAgg, Some(cubeAggSql)),
    "grouping_sets" -> QueryDef(groupingSetsAgg, Some(groupingSetsAggSql)),
    "set_ops" -> QueryDef(setOps, Some(setOpsSql)),
    "pivot_daily" -> QueryDef(pivotDaily, Some(pivotDailySql)),
    "approx_stats" -> QueryDef(approxStats, None),
    "rolling_counts" -> QueryDef(rollingCounts, Some(rollingCountsSql)),
    "funnel_pairs" -> QueryDef(funnelPairs, Some(funnelPairsSql)),
    "interval_join" -> QueryDef(intervalJoin, Some(intervalJoinSql)),
    "peak_concurrency" -> QueryDef(peakConcurrency, Some(peakConcurrencySql)),
    "funnel_conversion" -> QueryDef(funnelConversion, Some(funnelConversionSql)),
    "order_revenue" -> QueryDef(orderRevenue, Some(orderRevenueSql)),
    "regional_revenue" -> QueryDef(regionalRevenue, Some(regionalRevenueSql)),
    "latest_by_key" -> QueryDef(latestByKey, Some(latestByKeySql)),
    "scd2_history" -> QueryDef(scd2History, Some(scd2HistorySql)),
    "transition_matrix" -> QueryDef(transitionMatrix, Some(transitionMatrixSql)),
    "anti_join" -> QueryDef(antiJoin, Some(antiJoinSql)),
    "semi_join" -> QueryDef(semiJoin, Some(semiJoinSql)),
    "outlier_events" -> QueryDef(outlierEvents, Some(outlierEventsSql)),
    "retention_cohorts" -> QueryDef(retentionCohorts, Some(retentionCohortsSql)),
    "active_users" -> QueryDef(activeUsers, Some(activeUsersSql)),
    "corr_stats" -> QueryDef(corrStats, Some(corrStatsSql)),
    "key_skew" -> QueryDef(keySkew, Some(keySkewSql)),
    "reconcile_totals" -> QueryDef(reconcileTotals, Some(reconcileTotalsSql)),
    "profile_table" -> QueryDef(profileTable, Some(profileTableSql)),
    "hourly_gapfill" -> QueryDef(hourlyGapfill, Some(hourlyGapfillSql)),
    "props_stats" -> QueryDef(propsStats, Some(propsStatsSql)),
    "pii_scrub" -> QueryDef(piiScrub, Some(piiScrubSql)),
    "value_quantiles" -> QueryDef(valueQuantiles, Some(valueQuantilesSql)),
    "anomaly_mad" -> QueryDef(anomalyMad, Some(anomalyMadSql)),
    "decile_stats" -> QueryDef(decileStats, Some(decileStatsSql)),
    "ewma_daily" -> QueryDef(ewmaDaily, Some(ewmaDailySql)),
    "global_rank" -> QueryDef(globalRank, Some(globalRankSql)),
    "incremental_merge" -> QueryDef(incrementalMerge, Some(incrementalMergeSql)),
    "first_touch" -> QueryDef(firstTouch, Some(firstTouchSql)),
    "pareto_front" -> QueryDef(paretoFront, Some(paretoFrontSql)),
    "path_topk" -> QueryDef(pathTopk, Some(pathTopkSql)),
    "time_weighted_avg" -> QueryDef(timeWeightedAvg, Some(timeWeightedAvgSql)),
    "dq_audit" -> QueryDef(dqAudit, Some(dqAuditSql)),
    "user_journey" -> QueryDef(userJourney, Some(userJourneySql)),
    "melt_measures" -> QueryDef(meltMeasures, Some(meltMeasuresSql)),
    "set_ops_all" -> QueryDef(setOpsAll, Some(setOpsAllSql)),
    "quantile_normalize" -> QueryDef(quantileNormalize, Some(quantileNormalizeSql)),
    "basket_rules" -> QueryDef(basketRules, Some(basketRulesSql)),
    "ohlc_daily" -> QueryDef(ohlcDaily, Some(ohlcDailySql)),
    "trailing_features" -> QueryDef(trailingFeatures, Some(trailingFeaturesSql)),
    "changepoint_daily" -> QueryDef(changepointDaily, Some(changepointDailySql)),
    "linear_attribution" -> QueryDef(linearAttribution, Some(linearAttributionSql)),
    "growth_curve" -> QueryDef(growthCurve, Some(growthCurveSql)),
    "dow_anomaly" -> QueryDef(dowAnomaly, Some(dowAnomalySql)),
    "conversion_lag" -> QueryDef(conversionLag, Some(conversionLagSql)),
    "fk_cardinality" -> QueryDef(fkCardinality, Some(fkCardinalitySql)),
    "hourly_lerp" -> QueryDef(hourlyLerp, Some(hourlyLerpSql)))
}
