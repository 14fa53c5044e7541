package graft

import org.apache.spark.sql.functions._

import graft.queries.RelationalQueries

/** Pins `linear_attribution`'s OUTPUT-BOUND declaration (BASELINE.md,
  * round 16) as an executable fact instead of prose: the query emits one
  * row per (conversion, in-window touch) pair — under a hot user that
  * mass is quadratic in per-user rate BY DEFINITION of the linear model,
  * so no plan can shrink it. The fixture's hot user holds more than
  * 8192 events (where a deleted user-skew route once switched plans),
  * and the assertions are:
  *
  *  - output rows == Σ over conversions of |in-window touches| — the
  *    output-bound identity itself, against a brute-force local oracle;
  *  - the full row multiset (rn, n_touches, largest-remainder
  *    share_cents) matches that oracle, so the per-user sweep never
  *    duplicates or drops a (conversion, touch) pair;
  *  - per-conversion Σ share_cents == cents exactly (no split leakage),
  *    with boundary cases pinned directly: touch AT t0 − 24 h included,
  *    touch AT t0 excluded, empty-window conversions absent from the
  *    output, same-microsecond remainder assignment ordered by event_id.
  */
class LinearAttributionSpec extends SparkTestBase {

  private val W = RelationalQueries.TouchWindowNs

  private case class Ev(id: Long, user: Long, ts: Long, typ: String, value: Double)

  // Hot user 1: 9000 events (> 8192) at one event per
  // ~2.7 h, so each 24 h window holds ~9 events — dense enough to make
  // remainder splitting non-trivial, small enough to brute-force locally.
  private lazy val events: Seq[Ev] = {
    val gap = 9_600_000_000_000L // ~2.67 h in ns
    val hot = Seq.tabulate(9000) { i =>
      val typ = i % 5 match {
        case 0 => "purchase"
        case 1 | 3 => "view"
        case 2 => "click"
        case _ => "error" // neither touch nor conversion: must be ignored
      }
      Ev(i.toLong, 1L, i.toLong * gap + (i % 7) * 1000L, typ, (i % 13) + 0.25)
    }
    val edge = Seq(
      Ev(9001L, 2L, 0L, "view", 0.0), // exactly t0 − W for 9002: INCLUDED
      Ev(9002L, 2L, W, "purchase", 1.0),
      Ev(9003L, 2L, W, "click", 0.0), // touch AT t0: excluded (strict < t0)
      Ev(9004L, 2L, 3 * W, "purchase", 2.0), // empty window → no output rows
      // remainder split: cents=101 over k=3 → 34/34/33 in (us, id) order
      Ev(9100L, 3L, 1000L, "view", 0.0), Ev(9101L, 3L, 2000L, "click", 0.0),
      Ev(9102L, 3L, 3000L, "view", 0.0), Ev(9103L, 3L, 4000L, "purchase", 1.01),
      // same-microsecond touches: event_id orders the extra cent
      Ev(9200L, 4L, 5500L, "view", 0.0), Ev(9201L, 4L, 5000L, "click", 0.0),
      Ev(9202L, 4L, 9000L, "purchase", 0.03))
    hot ++ edge
  }

  private lazy val dir: String = {
    import spark.implicits._
    val d = tempDir("la-skew")
    events.map(e => (e.id, e.user, e.ts, e.typ, e.value))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .repartition(7)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), lit("{}").as("props"))
      .write.parquet(d.resolve("events.parquet").toString)
    d.toString
  }

  /** Brute-force local oracle: every (conversion, in-window touch) pair
    * with rank/remainder assignment — the definition, not a plan. */
  private lazy val expected: Seq[(Long, Long, String, Long, Long, Long)] = {
    val touchTypes = RelationalQueries.TouchTypes.toSet
    val byUser = events.filter(e => touchTypes(e.typ)).groupBy(_.user)
    events.filter(_.typ == RelationalQueries.ConversionType).flatMap { p =>
      val cents = math.round(p.value * 100)
      val w = byUser.getOrElse(p.user, Seq.empty)
        .filter(t => t.ts >= p.ts - W && t.ts < p.ts)
        .sortBy(t => (t.ts / 1000, t.id))
      val k = w.size.toLong
      w.zipWithIndex.map { case (t, i) =>
        (p.id, t.id, t.typ, (i + 1).toLong, k,
          cents / k + (if (i + 1 <= cents % k) 1L else 0L))
      }
    }
  }

  test("hot user above 8192 events: output rows == Σ in-window touches") {
    assert(events.groupBy(_.user).values.map(_.size).max > 8192,
      "fixture must hold a hot user above 8192 events")
    val got = RelationalQueries.linearAttribution(spark, dir)
    assert(got.count() === expected.size.toLong)
  }

  test("hot-user sweep matches the brute-force pair oracle row-for-row") {
    val got = RelationalQueries.linearAttribution(spark, dir)
      .select("purchase_id", "touch_id", "touch_type", "rn", "n_touches", "share_cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.length === expected.size)
    assert(got.sorted.toSeq === expected.sorted)
  }

  test("per-conversion shares sum to cents exactly; boundary and tie pins") {
    val byConv = expected.groupBy(_._1)
    // split exactness on the oracle the plan just matched
    byConv.foreach { case (pid, rows) =>
      val cents = math.round(events.find(_.id == pid).get.value * 100)
      assert(rows.map(_._6).sum === cents, s"conversion $pid leaks cents")
      assert(rows.map(_._6).max - rows.map(_._6).min <= 1, s"conversion $pid split unevenly")
    }
    // touch exactly 24 h before t0 is in-window; the touch AT t0 is not
    assert(byConv(9002L).map(_._2) === Seq(9001L))
    // empty-window conversion emits nothing
    assert(!byConv.contains(9004L))
    // cents=101 over 3 touches → 34/34/33 in (us, event_id) order
    assert(byConv(9103L).sortBy(_._4).map(_._6) === Seq(34L, 34L, 33L))
    // same-microsecond remainder: 5500 ns and 5000 ns share us=5 — the
    // smaller event_id (9200) outranks despite the later ns timestamp
    assert(byConv(9202L).sortBy(_._4).map(r => (r._2, r._6)) ===
      Seq((9200L, 2L), (9201L, 1L)))
  }
}
