package graft

import org.apache.spark.sql.functions._

import graft.queries.RelationalQueries

/** Pins `trailing_features`' sorted per-user scan against a driver-side
  * brute-force recompute of the RANGE frame, on inputs built to break the
  * scan's deque bookkeeping:
  *
  *  - one HOT user holding most of the corpus (the Zipf regime: a
  *    `rangeBetween` window re-aggregates its frame per row, O(n·f) per
  *    user, measured 31.4 s vs 0.54 s at sf1),
  *  - duplicate timestamps (RANGE peers must all be EXCLUDED by the
  *    −1 ns upper bound, and their masses must enter the frame together),
  *  - events exactly H apart (the inclusive lower bound: an event at
  *    ts − H is still inside the frame, so its expiry must not fire
  *    until strictly after ts),
  *  - gaps longer than H (empty frames: n=0, cents=0, gap NULL),
  *  - a second corpus whose hot user has more than 8192 events.
  */
class TrailingFeaturesSpec extends SparkTestBase {

  private val H = RelationalQueries.TrailingHorizonNs
  private val day = 86400000000000L

  /** (event_id, user_id, ts, cents) */
  private type Event = (Long, Long, Long, Long)

  private lazy val events: Seq[Event] = {
    val rnd = new scala.util.Random(16)
    // hot user 1: 2000 events over ~55 days incl. duplicate timestamps;
    // user 2: sparse with a > H dead gap; user 3: events EXACTLY H apart
    val hot = Seq.tabulate(2000) { i =>
      val ts = (i / 3).toLong * (day / 12) + (if (i % 3 == 2) 0L else rnd.nextInt(1000).toLong)
      (i.toLong, 1L, ts, (rnd.nextInt(500) - 100).toLong)
    }
    val sparse = Seq((9001L, 2L, 0L, 7L), (9002L, 2L, H + 1L, 11L),
      (9003L, 2L, 3 * H + 5L, 13L))
    val edge = Seq((9101L, 3L, 0L, 1L), (9102L, 3L, H, 2L), (9103L, 3L, 2 * H, 4L),
      (9104L, 3L, 2 * H, 8L)) // tie at 2H: peers excluded from each other
    hot ++ sparse ++ edge
  }

  /** Hot user 1 holds 9000 events over ~40 days, 3 to a timestamp, so
    * it sits above 8192 events; users 2..41 hold 10 each.
    */
  private lazy val skewedEvents: Seq[Event] = {
    val rnd = new scala.util.Random(9)
    val hot = Seq.tabulate(9000) { i =>
      ((i.toLong, 1L, (i / 3).toLong * (day / 75), (rnd.nextInt(500) - 100).toLong))
    }
    val cold = Seq.tabulate(400) { i =>
      ((100000L + i, 2L + i / 10, rnd.nextInt(30).toLong * day, rnd.nextInt(100).toLong))
    }
    hot ++ cold
  }

  private def write(rows: Seq[Event], name: String): String = {
    import spark.implicits._
    val d = tempDir(name)
    rows
      .toDF("event_id", "user_id", "ts", "cents")
      .repartition(7) // adversarial placement; results must not care
      .select(col("event_id"), col("ts"), col("user_id"),
        lit("view").as("event_type"),
        (col("cents").cast("double") / 100).as("value"),
        lit("{}").as("props"))
      .write.parquet(d.resolve("events.parquet").toString)
    d.toString
  }

  private lazy val dir = write(events, "tf-edge")

  private type Features = (Long, Long, Long, Option[Long])

  /** Driver-side recompute of the frame [ts − H, ts − 1] of the same user. */
  private def bruteForce(rows: Seq[Event]): Map[Long, Features] = {
    val byUser = rows.groupBy(_._2)
    rows.map { case (id, u, ts, _) =>
      val frame = byUser(u).filter(e => e._3 >= ts - H && e._3 <= ts - 1)
      id -> ((u, frame.size.toLong, frame.map(_._4).sum,
        frame.map(_._3).maxOption.map(ts - _)))
    }.toMap
  }

  private def declared(dir: String): Map[Long, Features] =
    RelationalQueries.trailingFeatures(spark, dir).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    }.toMap

  test("declared plan == driver-side brute force on hot user, ties, edges, gaps") {
    val got = declared(dir)
    // spot-pin the horizon-edge semantics directly: at ts=H the event at
    // ts=0 is still IN frame (inclusive lower bound)...
    assert(got(9102L) === ((3L, 1L, 1L, Some(H))))
    // ...peers at the same ts see earlier history but not each other...
    assert(got(9103L)._2 === 1L, "tie peer must be excluded (only ts=H in frame)")
    assert(got(9104L)._2 === 1L)
    // ...and a dead gap yields an empty frame: zero counts, NULL gap
    assert(got(9003L) === ((2L, 0L, 0L, None)))
    assert(got === bruteForce(events))
  }

  test("hot user above 8192 events: declared plan == brute force") {
    val skewDir = write(skewedEvents, "tf-skew")
    assert(skewedEvents.groupBy(_._2).values.map(_.size).max > 8192,
      "vacuous: no user above 8192 events")
    val got = declared(skewDir)
    assert(got === bruteForce(skewedEvents))
    assert(got.values.map(_._2).max > 100L, "vacuous: frames stay small")
  }
}
