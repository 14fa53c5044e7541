package graft

import org.apache.spark.sql.functions._

import graft.queries.RelationalQueries

/** Boundary semantics of the time-axis operators on CRAFTED event streams —
  * the cases the synthetic corpus cannot be relied on to contain: gaps
  * exactly AT the session threshold, same-microsecond ties, and
  * window-edge inclusion/exclusion. Each case pins the documented rule so
  * an off-by-one in a refactor fails here with a named scenario instead of
  * as an oracle hash flip.
  *
  * Inputs are written as BIGINT-nanos parquet (the loader's LongType
  * pass-through branch), so these tests also exercise the nanos leg of
  * `Tables.normalizeEventTs` that the current micros testdata no longer
  * reaches.
  */
class EventEdgeSpec extends SparkTestBase {

  private val GapNs = 1800L * 1000000000L // 30-min session gap
  private val HourUs = RelationalQueries.ImpactWindowUs

  /** Write (event_id, ts_ns, user_id, event_type, value) rows as an
    * events.parquet the Tables loader accepts; returns the sf-style dir.
    */
  private def eventsDir(rows: Seq[(Long, Long, Long, String, Double)]): String =
    nullableEventsDir(rows.map { case (id, ts, u, t, v) => (id, Some(ts), Some(u), t, Some(v)) })

  /** [[eventsDir]] for rows whose ts, user_id or value may be NULL. */
  private def nullableEventsDir(
      rows: Seq[(Long, Option[Long], Option[Long], String, Option[Double])]): String =
    nullIdEventsDir(rows.map { case (id, ts, u, t, v) => (Some(id), ts, u, t, v) })

  /** [[nullableEventsDir]] for rows whose event_id may be NULL too. */
  private def nullIdEventsDir(
      rows: Seq[(Option[Long], Option[Long], Option[Long], String, Option[Double])]): String = {
    import spark.implicits._
    val dir = tempDir("graft-edge").toString
    rows.map { case (id, ts, u, t, v) => (id, ts, u, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** NULL ts, user_id and value rows, shared by first_touch and
    * trailing_features: (event_id, ts, user_id, event_type, value).
    */
  private val NullT0 = 1700000000000000000L
  private val NullH = 3600L * 1000000000L
  private lazy val nullsDir = nullableEventsDir(Seq(
    (1L, Some(NullT0), Some(7L), "view", Some(1.0)),
    (2L, Some(NullT0 + NullH), Some(7L), "view", None),
    (3L, Some(NullT0 + 2 * NullH), Some(7L), "purchase", Some(3.0)),
    (4L, None, Some(7L), "view", Some(4.0)),
    (5L, None, Some(7L), "purchase", Some(5.0)),
    (6L, Some(NullT0), None, "view", Some(6.0)),
    (7L, Some(NullT0 + NullH), None, "purchase", Some(7.0))))

  private def optLong(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
    Option(r.get(i)).map(_.asInstanceOf[Long])

  test("sessionize: a gap of exactly 30 min continues the session; +1 ns starts a new one") {
    val t0 = 1700000000000000000L
    val dir = eventsDir(Seq(
      (1L, t0, 7L, "view", 1.0),
      (2L, t0 + GapNs, 7L, "view", 1.0),          // == gap: same session
      (3L, t0 + 2 * GapNs + 1L, 7L, "view", 1.0), // gap + 1 ns: new session
      (4L, t0, 8L, "view", 1.0)))                 // single-event user
    val got = RelationalQueries.sessionize(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map(7L -> ((2L, 3L)), 8L -> ((1L, 1L))))
  }

  test("session_stats: boundary sessions materialize with exact durations") {
    val t0 = 1700000000000000000L
    val dir = eventsDir(Seq(
      (1L, t0, 7L, "view", 1.0),
      (2L, t0 + GapNs, 7L, "view", 1.0),
      (3L, t0 + 2 * GapNs + 1L, 7L, "view", 1.0)))
    val got = RelationalQueries.sessionStats(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(5))).toMap
    // session 1: both boundary events, duration exactly the gap;
    // session 2: the +1 ns event alone, duration 0
    assert(got === Map((7L, 1L) -> ((2L, GapNs)), (7L, 2L) -> ((1L, 0L))))
  }

  test("scd2_history: same-microsecond ties order by event_id; runs tile exactly") {
    val t0 = 1700000000000000000L
    val dir = eventsDir(Seq(
      (2L, t0, 7L, "click", 1.0), // same ts, higher id: SECOND in the order
      (1L, t0, 7L, "view", 1.0),  // same ts, lower id: run starts here
      (3L, t0 + 1000L, 7L, "click", 1.0))) // continues id-2's click run
    val t0us = t0 / 1000 // scd2's validity axis is integer MICROSECONDS
    val got = RelationalQueries.scd2History(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val sorted = got.sortBy(r => (r._2, r._3))
    assert(sorted.toSeq === Seq(
      ("view", t0us, t0us),               // zero-width: closed by the same-µs click
      ("click", t0us, Long.MaxValue)))    // click run: ids 2 then 3, still open
  }

  test("transition_matrix: tie order by event_id defines the adjacency chain") {
    val t0 = 1700000000000000000L
    val dir = eventsDir(Seq(
      (2L, t0, 7L, "click", 1.0),
      (1L, t0, 7L, "view", 1.0),
      (3L, t0 + 1000L, 7L, "purchase", 1.0)))
    val got = RelationalQueries.transitionMatrix(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // chain under (ts, event_id) order: view -> click -> purchase
    assert(got === Map(("view", "click") -> 1L, ("click", "purchase") -> 1L))
  }

  test("interval_join: (t0, t0+1h] — edge followers in, the anchor instant out") {
    val t0 = 1700000000000000000L
    val usNs = 1000L
    val dir = eventsDir(Seq(
      (1L, t0, 7L, "error", 1.0),                       // anchor
      (2L, t0, 7L, "view", 2.0),                        // same µs as anchor: OUT
      (3L, t0 + HourUs * usNs, 7L, "view", 3.0),        // exactly +1 h: IN
      (4L, t0 + (HourUs + 1) * usNs, 7L, "view", 4.0),  // +1 h + 1 µs: OUT
      (5L, t0 + GapNs, 7L, "view", 5.0)))               // mid-window (cross-bucket): IN
    val got = RelationalQueries.intervalJoin(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got === Map(1L -> ((2L, 8.0)))) // events 3 (3.0) + 5 (5.0)
  }

  test("interval_join: NULL user_id, ts or event_id anchors get (0, 0.0); NULL values add 0 cents") {
    val t0 = 1700000000000000000L
    val dir = nullIdEventsDir(Seq(
      (Some(1L), Some(t0), Some(7L), "error", Some(1.0)),       // anchor
      (Some(2L), Some(t0 + 1000L), Some(7L), "view", None),     // NULL value: counts, 0 cents
      (Some(3L), Some(t0 + 2000L), Some(7L), "view", Some(2.5)),
      (None, Some(t0 + 3000L), Some(7L), "error", Some(1.0)),   // NULL id anchor; follows 1
      (Some(4L), None, Some(7L), "error", Some(1.0)),           // NULL ts anchor
      (Some(5L), Some(t0), None, "error", Some(1.0)),           // NULL user anchor
      (Some(6L), Some(t0 + 1000L), None, "view", Some(3.0)),    // NULL user: follows nobody
      (Some(7L), None, Some(7L), "view", Some(4.0))))           // NULL ts: follows nobody
    val got = RelationalQueries.intervalJoin(spark, dir).collect()
      .map(r => (optLong(r, 0), optLong(r, 1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === Set(
      (Some(1L), Some(7L), 3L, 3.5),
      (None, Some(7L), 0L, 0.0),
      (Some(4L), Some(7L), 0L, 0.0),
      (Some(5L), None, 0L, 0.0)))
  }

  test("funnel_pairs: +30 min in; a same-µs peer, +30 min +1 µs and NULL rows out") {
    val t0 = 1700000000000000000L
    val gapUs = RelationalQueries.FunnelGapUs
    val dir = nullableEventsDir(Seq(
      (1L, Some(t0), Some(7L), "view", Some(1.0)),
      (2L, Some(t0 + 500L), Some(7L), "view", Some(1.0)),           // same µs as 1: no pair
      (3L, Some(t0 + GapNs), Some(7L), "click", Some(1.0)),         // exactly +30 min of 1, 2
      (4L, Some(t0 + GapNs + 1000L), Some(7L), "view", Some(1.0)),  // +30 min +1 µs of 1, 2
      (5L, Some(t0 + 1000L), None, "view", Some(1.0)),              // NULL user: no pair
      (6L, Some(t0 + 2000L), None, "view", Some(1.0)),
      (7L, None, Some(7L), "view", Some(1.0)),                      // NULL ts: no pair
      (8L, None, Some(7L), "view", Some(1.0))))
    val got = RelationalQueries.funnelPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((1L, 3L, 7L, gapUs), (2L, 3L, 7L, gapUs), (3L, 4L, 7L, 1L)))
  }

  test("ewma_daily: weights halve per day and the 29-day horizon zeroes exactly") {
    val dayNs = 86400000000000L
    val t0 = 1700006400000000000L // mid-day anchor
    val dir = eventsDir(Seq(
      (1L, t0, 7L, "view", 1.0),              // dmax day: weight 1
      (2L, t0 - dayNs, 7L, "view", 1.0),      // age 1: weight 1/2
      (3L, t0 - 29 * dayNs, 7L, "view", 1.0), // age 29: smallest nonzero
      (4L, t0 - 30 * dayNs, 7L, "view", 1.0)))// age 30: exact 0
    val got = RelationalQueries.ewmaDaily(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val scale = (1L << RelationalQueries.EwmaScaleBits).toDouble
    assert(got("view") === (scale + scale / 2 + 1L) / scale) // 1 + 1/2 + 2^-29
  }

  test("incremental_merge: base-only, delta-only, and both-halves users coalesce right") {
    val dayNs = 86400000000000L
    val d0 = 19700L * dayNs // day-aligned epoch anchor
    // span days 0..10 -> cut day = (0 + 10)/2 + 1 = 6 (events below are
    // labeled by day offset; user 4 pins dmin/dmax)
    val dir = eventsDir(Seq(
      (1L, d0 + 1 * dayNs, 1L, "view", 1.0),  // u1: BASE only
      (2L, d0 + 8 * dayNs, 2L, "view", 2.0),  // u2: DELTA only
      (3L, d0 + 2 * dayNs, 3L, "view", 3.0),  // u3: base half...
      (4L, d0 + 9 * dayNs, 3L, "view", 4.0),  //     ...and delta half: delta wins
      (5L, d0, 4L, "view", 5.0),              // u4: dmin pin (base)
      (6L, d0 + 10 * dayNs, 4L, "view", 6.0)))// u4: dmax pin (delta wins)
    val got = RelationalQueries.incrementalMerge(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(4)))).toMap
    assert(got === Map(
      1L -> ((1L, 1.0)), // survives from the base snapshot (no delta row)
      2L -> ((2L, 2.0)), // delta-only user materializes
      3L -> ((4L, 4.0)), // delta overrides base
      4L -> ((6L, 6.0))))
  }

  test("first_touch: window edges inclusive/exclusive; same-microsecond tie by event_id") {
    val W = RelationalQueries.TouchWindowNs
    val t0 = 1700000000000000000L + 3L * 3600L * 1000000000L // NOT bucket-aligned
    val t1 = t0 + 7L * 3600L * 1000000000L
    val dir = eventsDir(Seq(
      // user 7: boundary semantics around purchase at t0
      (100L, t0, 7L, "purchase", 0.0),
      (1L, t0 - W, 7L, "view", 0.0),      // exactly t0-W: IN (earliest)
      (2L, t0 - W - 1L, 7L, "click", 0.0),// 1 ns before the window: OUT
      (3L, t0, 7L, "view", 0.0),          // at t0: OUT (strictly before)
      (4L, t0 - 1000L, 7L, "click", 0.0), // in-window but later than 1
      // user 8: two touches in the SAME microsecond -> lower event_id wins
      (200L, t1, 8L, "purchase", 0.0),
      (11L, t1 - 6000L + 500L, 8L, "click", 0.0), // same us as 10, higher id
      (10L, t1 - 6000L + 1L, 8L, "view", 0.0),
      // user 9: purchase with no touches -> NULL attribution survives
      (300L, t1, 9L, "purchase", 0.0),
      (20L, t1 + 1L, 9L, "view", 0.0)))   // after the purchase: OUT
    val got = RelationalQueries.firstTouch(spark, dir).collect().map { r =>
      val f = if (r.isNullAt(2)) None else Some((r.getLong(3), r.getString(4)))
      r.getLong(0) -> ((r.getLong(1), f))
    }.toMap
    assert(got === Map(
      100L -> ((7L, Some((1L, "view")))),
      200L -> ((8L, Some((10L, "view")))),
      300L -> ((9L, None))))
    // NULLs as in the oracle's join: a NULL ts or user_id matches no
    // touch, and its purchase survives with NULL attribution
    val nulls = RelationalQueries.firstTouch(spark, nullsDir).collect().map { r =>
      r.getLong(0) -> ((optLong(r, 1), optLong(r, 2), optLong(r, 3), Option(r.getString(4))))
    }.toMap
    assert(nulls === Map(
      3L -> ((Some(7L), Some(NullT0 / 1000), Some(1L), Some("view"))),
      5L -> ((Some(7L), None, None, None)),
      7L -> ((None, None, None, None))))
  }

  test("path_topk: same-microsecond ties order by event_id; windows never cross users") {
    val t0 = 1700000000000000000L
    val us = 1000L // 1 µs in ns
    val dir = eventsDir(Seq(
      // user 7: ts-tied pair (ids 2,1) then a third — path follows id order
      (2L, t0, 7L, "click", 1.0),
      (1L, t0, 7L, "view", 1.0),
      (3L, t0 + us, 7L, "purchase", 1.0),
      // user 8: only 2 events — contributes NO length-3 path
      (4L, t0, 8L, "view", 1.0),
      (5L, t0 + us, 8L, "view", 1.0)))
    val got = RelationalQueries.pathTopk(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getAs[Long]("n")))
    assert(got.toSeq === Seq(("view", "click", "purchase", 1L)))
  }

  test("time_weighted_avg: last event carries no weight; same-second gap weighs zero") {
    val t0 = 1700000000000000000L
    val secNs = 1000000000L
    val dir = eventsDir(Seq(
      (1L, t0, 7L, "view", 10.0),           // held 2 s -> weight 2
      (2L, t0 + 2 * secNs, 7L, "view", 40.0), // held 999999 µs -> dur_s = 0
      (3L, t0 + 3 * secNs - 1000L, 7L, "view", 70.0))) // last: excluded
    val got = RelationalQueries.timeWeightedAvg(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"),
        r.getAs[Long]("weight_s"), r.getAs[Long]("wsum_cents"),
        r.getAs[Double]("twa_value"))).toMap
    // rows 1 and 2 survive (2 held intervals); only row 1 carries weight
    assert(got === Map("view" -> ((2L, 2L, 2000L, 10.0))))
  }

  test("pareto_front: dominance is strict-in-one-axis; co-located optima all kept") {
    import spark.implicits._
    val pts = Seq(
      ("a", 1L, 5L, 10L), ("a", 2L, 5L, 10L), // co-located optima: BOTH kept
      ("a", 3L, 5L, 9L), // same value, lower ts: dominated by 1/2
      ("a", 4L, 4L, 20L), // kept: every higher-value point is older (max ts 10)
      ("a", 5L, 3L, 5L), // dominated by (4, 20)
      ("a", 6L, 2L, 30L), // kept: newest overall
      ("a", 7L, 6L, 1L), // kept: highest value
      ("b", 8L, 1L, 1L)) // separate partition: its only point is optimal
      .toDF("event_type", "event_id", "value_cents", "ts")
    val got = RelationalQueries.paretoFrontOf(pts)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(got === Set(1L, 2L, 4L, 6L, 7L, 8L))
  }

  test("trailing_features: 7-day edge inclusive, now exclusive, ties are peers") {
    val t0 = 1700000000000000000L
    val d7 = 7L * 86400000000000L
    val dir = eventsDir(Seq(
      (1L, t0, 7L, "view", 1.0),            // no prior: n=0, gap NULL
      (2L, t0 + d7, 7L, "view", 2.0),       // exactly 7d back: e1 IN
      (3L, t0 + d7 + 1L, 7L, "view", 4.0),  // e1 now 7d+1ns old: OUT; e2 in
      (4L, t0 + d7 + 1L, 7L, "view", 8.0),  // tie with e3: peer EXCLUDED
      (5L, t0, 8L, "buy", 1.0)))            // other user: isolated
    val got = RelationalQueries.trailingFeatures(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    assert(got === Map(
      1L -> ((0L, 0L, None)),
      2L -> ((1L, 100L, Some(d7))),
      3L -> ((1L, 200L, Some(1L))),
      4L -> ((1L, 200L, Some(1L))),
      5L -> ((0L, 0L, None))))
    // NULLs as in the oracle's window: a user's NULL-ts rows are each
    // other's frame, itself included; a NULL user_id is its own group;
    // a NULL value counts in n_7d and adds nothing to cents_7d
    val nulls = RelationalQueries.trailingFeatures(spark, nullsDir).collect()
      .map(r => r.getLong(0) -> ((optLong(r, 1), r.getLong(2), r.getLong(3), optLong(r, 4))))
      .toMap
    assert(nulls === Map(
      1L -> ((Some(7L), 0L, 0L, None)),
      2L -> ((Some(7L), 1L, 100L, Some(NullH))),
      3L -> ((Some(7L), 2L, 100L, Some(NullH))),
      4L -> ((Some(7L), 2L, 900L, None)),
      5L -> ((Some(7L), 2L, 900L, None)),
      6L -> ((None, 0L, 0L, None)),
      7L -> ((None, 1L, 600L, Some(NullH)))))
  }

  test("linear_attribution: largest-remainder split is exact; window edges pin") {
    val t0 = 1700000000000000000L
    val dayNs = 86400000000000L
    val dir = eventsDir(Seq(
      (1L, t0 - dayNs, 7L, "view", 1.0),     // exactly 24 h back: IN
      (2L, t0 - 2L, 7L, "click", 1.0),       // in window
      (3L, t0 - 1L, 7L, "view", 1.0),        // in window
      (4L, t0, 7L, "purchase", 1.0),         // conversion, cents=100
      (5L, t0, 7L, "click", 1.0),            // at t0 exactly: OUT
      (6L, t0 - dayNs - 1L, 7L, "view", 1.0))) // 24 h + 1 ns back: OUT
    val got = graft.queries.RelationalQueries.linearAttribution(spark, dir)
      .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // 100 cents over 3 touches: 34 to the earliest (rn=1), then 33, 33.
    // Same-microsecond ties (events 2 and 3 share us) order by event_id.
    assert(got === Map(
      1L -> ((1L, 3L, 34L)), 2L -> ((2L, 3L, 33L)), 3L -> ((3L, 3L, 33L))))
    assert(got.values.map(_._3).sum === 100L, "shares must sum to the cents exactly")
  }

  test("linear_attribution: NULL touch ids rank last; NULL-id purchases rank together") {
    // nullsDir's rows plus NULL event_id touches and purchases
    val dir = nullIdEventsDir(Seq(
      (Some(1L), Some(NullT0), Some(7L), "view", Some(1.0)),
      (Some(2L), Some(NullT0 + NullH), Some(7L), "view", None),
      (Some(3L), Some(NullT0 + 2 * NullH), Some(7L), "purchase", Some(3.0)),
      (Some(4L), None, Some(7L), "view", Some(4.0)),
      (Some(5L), None, Some(7L), "purchase", Some(5.0)),
      (Some(6L), Some(NullT0), None, "view", Some(6.0)),
      (Some(7L), Some(NullT0 + NullH), None, "purchase", Some(7.0)),
      (Some(8L), Some(NullT0 + NullH), Some(7L), "click", Some(2.5)),
      (None, Some(NullT0 + NullH), Some(7L), "click", Some(1.5)),
      (None, Some(NullT0 + 3 * NullH), Some(7L), "purchase", Some(1.01)),
      (Some(20L), Some(NullT0 + 2 * NullH), Some(9L), "click", Some(1.0)),
      (None, Some(NullT0 + 3 * NullH), Some(9L), "purchase", Some(0.02))))
    val got = RelationalQueries.linearAttribution(spark, dir).collect()
      .map(r => (optLong(r, 0), optLong(r, 1), r.getString(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))
    // the oracle's rows (linearAttributionSql in DuckDB on this corpus):
    // the NULL-id touch is last within its microsecond, and the NULL-id
    // purchases of users 7 and 9 form one ranking of 5 touches
    assert(got.toSet === Set(
      (Some(3L), Some(1L), "view", 1L, 4L, 75L),
      (Some(3L), Some(2L), "view", 2L, 4L, 75L),
      (Some(3L), Some(8L), "click", 3L, 4L, 75L),
      (Some(3L), None, "click", 4L, 4L, 75L),
      (None, Some(1L), "view", 1L, 5L, 21L),
      (None, Some(2L), "view", 2L, 5L, 20L),
      (None, Some(8L), "click", 3L, 5L, 20L),
      (None, None, "click", 4L, 5L, 20L),
      (None, Some(20L), "click", 5L, 5L, 0L)))
    assert(got.length === 9)
  }

  test("hourly_lerp: gaps ramp linearly between observed hours; observed hours exact") {
    val hrNs = 3600L * 1000000000L
    val dir = eventsDir(Seq(
      (1L, 0L * hrNs + 1, 7L, "view", 100.0),  // hr 0: 100.00
      (2L, 3L * hrNs + 1, 7L, "view", 400.0),  // hr 3: 400.00 -> gaps 1, 2 ramp
      (3L, 5L * hrNs + 1, 8L, "buy", 200.0)))  // single-hour type: no gaps
    val got = graft.queries.RelationalQueries.hourlyLerp(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getBoolean(2), r.getDouble(3)))).toMap
    assert(got === Map(
      ("view", 0L) -> ((false, 100.0)),
      ("view", 1L) -> ((true, 200.0)),
      ("view", 2L) -> ((true, 300.0)),
      ("view", 3L) -> ((false, 400.0)),
      ("buy", 5L) -> ((false, 200.0))))
  }

  test("conversion_lag: pre-signup purchases excluded; censored users kept with NULL lag") {
    val t0 = 1700000000000000000L
    val dir = eventsDir(Seq(
      (1L, t0 - 5L, 7L, "purchase", 1.0), // BEFORE signup: excluded
      (2L, t0, 7L, "signup", 1.0),
      (3L, t0 + 9L, 7L, "purchase", 1.0), // first at-or-after: the conversion
      (4L, t0 + 20L, 7L, "purchase", 1.0), // later: ignored (min wins)
      (5L, t0, 8L, "signup", 1.0), // censored: no purchase ever
      (6L, t0, 9L, "signup", 1.0),
      (7L, t0, 9L, "purchase", 1.0))) // same instant: >= includes it, lag 0
    val got = graft.queries.RelationalQueries.conversionLag(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))).toMap
    assert(got === Map(
      7L -> ((Some(9L), true)),
      8L -> ((None, false)),
      9L -> ((Some(0L), true))))
  }

  test("growth_curve: first appearance counts once; cumulative equals distinct-so-far") {
    val dayNs = 86400000000000L
    val dir = eventsDir(Seq(
      (1L, 0L * dayNs + 1, 7L, "view", 1.0),      // A first seen day 0
      (2L, 1L * dayNs + 1, 7L, "view", 1.0),      // A again day 1: active, not new
      (3L, 1L * dayNs + 2, 8L, "view", 1.0),      // B first seen day 1
      (4L, 3L * dayNs + 1, 7L, "view", 1.0),      // gap day 2: no row; A day 3
      (5L, 3L * dayNs + 2, 9L, "view", 1.0)))     // C first seen day 3
    val got = graft.queries.RelationalQueries.growthCurve(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      0L -> ((1L, 1L, 1L)),
      1L -> ((2L, 1L, 2L)),
      3L -> ((2L, 1L, 3L))))
  }

  test("dow_anomaly: weekday baseline flags only the off-baseline day; Monday is dow 0") {
    val dayNs = 86400000000000L
    // day_idx 4, 11, 18 are consecutive Mondays (epoch day 0 = Thursday)
    val rows = for {
      (day, n) <- Seq((4L, 10), (11L, 10), (18L, 40))
      i <- 0 until n
    } yield ((day * 100 + i), day * dayNs + i, 7L, "view", 1.0)
    val got = graft.queries.RelationalQueries.dowAnomaly(spark, eventsDir(rows))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(5), r.getBoolean(6)))).toMap
    // k=3, S=60: day 18 (40 events): 40*3*2=240 > 180 -> high;
    // days 4/11 (10): 60 > 60 false, 60 < 60 false -> neither (exact boundary)
    assert(got === Map(
      4L -> ((0L, 10L, false, false)),
      11L -> ((0L, 10L, false, false)),
      18L -> ((0L, 40L, true, false))))
  }

  test("changepoint_daily: CUSUM peak lands on the last pre-shift day, once") {
    val dayNs = 86400000000000L
    // 6 days: 10/day then 20/day — the level shift is after day 2 (0-based)
    val rows = for {
      day <- 0 to 5
      i <- 0 until (if (day < 3) 10 else 20)
    } yield ((day * 100 + i).toLong, day * dayNs + i * 1000L, 7L, "view", 1.0)
    val got = RelationalQueries.changepointDaily(spark, eventsDir(rows))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getBoolean(4)))).toMap
    // n=6, S=90; g = 6*cum - k*90: -30,-60,-90,-60,-30,0 -> |g| max at day 2
    assert(got === Map(
      0L -> ((10L, -30L, false)), 1L -> ((10L, -60L, false)),
      2L -> ((10L, -90L, true)), 3L -> ((20L, -60L, false)),
      4L -> ((20L, -30L, false)), 5L -> ((20L, 0L, false))))
  }
}
