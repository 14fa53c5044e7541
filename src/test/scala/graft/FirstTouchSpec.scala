package graft

import org.apache.spark.sql.functions._

import graft.queries.RelationalQueries

/** Pins `first_touch`'s sorted per-user sliding-window-minimum scan
  * against a driver-side brute-force recompute, on inputs built to break
  * the deque bookkeeping:
  *
  *  - a HOT user interleaving purchases and touches densely (the Zipf
  *    regime: a (user, day-bucket) join's candidate mass measured
  *    67.0 s vs 1.7 s at sf10),
  *  - touches AT a purchase's own timestamp (strict `< t0`: excluded),
  *  - a touch EXACTLY at t0 − 24 h (inclusive lower bound: included),
  *  - same-microsecond touches whose event_id order decides the argmin,
  *  - purchases with an empty window (NULL attribution),
  *  - back-to-back purchases at the same timestamp.
  */
class FirstTouchSpec extends SparkTestBase {

  private val W = RelationalQueries.TouchWindowNs

  /** (event_id, user_id, ts, event_type) */
  private lazy val events: Seq[(Long, Long, Long, String)] = {
    val rnd = new scala.util.Random(61)
    // hot user 1: 3000 events over ~10 days, ~1/3 purchases, dense ties
    val hot = Seq.tabulate(3000) { i =>
      val ts = (i / 4).toLong * (W / 300) + (if (i % 4 == 3) 0L else rnd.nextInt(2000).toLong)
      val typ = i % 4 match {
        case 0 => "purchase"
        case 1 => "view"
        case 2 => "click"
        case _ => "view"
      }
      (i.toLong, 1L, ts, typ)
    }
    val edge = Seq(
      (9001L, 2L, 0L, "view"), // exactly t0 − W for 9002: INCLUDED
      (9002L, 2L, W, "purchase"),
      (9003L, 2L, W, "click"), // touch AT t0: excluded (strict < t0)
      (9004L, 2L, 3 * W, "purchase"), // empty window → NULL attribution
      // same-microsecond pair: event_id breaks the argmin tie
      (9101L, 3L, 5000L, "view"), (9100L, 3L, 5500L, "click"),
      (9102L, 3L, 9000L, "purchase"), (9103L, 3L, 9000L, "purchase"))
    hot ++ edge
  }

  private lazy val dir: String = {
    import spark.implicits._
    val d = tempDir("ft-skew")
    events
      .toDF("event_id", "user_id", "ts", "event_type")
      .repartition(7)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.parquet(d.resolve("events.parquet").toString)
    d.toString
  }

  private type Attribution = (Long, Option[Long], Option[Long], Option[String])

  /** Driver-side recompute: each purchase's (us, event_id)-least touch of
    * the same user in [t0 − W, t0).
    */
  private def bruteForce: Map[Long, Attribution] = {
    val touches = events.filter(e => RelationalQueries.TouchTypes.contains(e._4))
      .groupBy(_._2)
    events.filter(_._4 == RelationalQueries.ConversionType).map { case (pid, u, t0, _) =>
      val first = touches.getOrElse(u, Nil)
        .filter(e => e._3 >= t0 - W && e._3 < t0)
        .minByOption(e => (e._3 / 1000, e._1))
      pid -> ((u, first.map(_._3 / 1000), first.map(_._1), first.map(_._4)))
    }.toMap
  }

  private def declared: Map[Long, Attribution] =
    RelationalQueries.firstTouch(spark, dir).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.getString(4))))
    }.toMap

  test("declared plan == driver-side brute force on the dense hot-user corpus") {
    val got = declared
    assert(got === bruteForce)
    assert(got.values.count(_._2.isDefined) > 100, "vacuous: few attributed purchases")
    // direct pins: inclusive lower bound — the touch exactly 24 h before
    // IS the answer
    assert(got(9002L) === ((2L, Some(0L), Some(9001L), Some("view"))))
    // empty window (the only touches are > W old or at t0 itself)
    assert(got(9004L) === ((2L, None, None, None)))
  }

  test("tie semantics: smaller event_id wins within a microsecond; same-ts purchases agree") {
    val got = declared
    // touches at us=5 (ts 5000, eid 9101) and us=5 (ts 5500, eid 9100):
    // same microsecond, so the argmin order (us, event_id) picks 9100
    assert(got(9102L) === ((3L, Some(5L), Some(9100L), Some("click"))))
    assert(got(9103L) === got(9102L))
  }

  test("a NULL touch event_id ranks last within its microsecond, as in the oracle") {
    import spark.implicits._
    val d = tempDir("ft-null-id")
    Seq[(Option[Long], Long, Long, String)](
      (None, 1000L, 5L, "view"), (Some(50L), 1500L, 5L, "click"), // same µs: 50 wins
      (Some(60L), 5000L, 5L, "purchase"),
      (None, 10000L, 6L, "view"), (Some(61L), 20000L, 6L, "purchase"), // the only touch
      (Some(70L), 1000L, 8L, "view"), (None, 1200L, 8L, "click"), // same µs: 70 wins
      (Some(71L), 3000L, 8L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.parquet(d.resolve("events.parquet").toString)
    val got = RelationalQueries.firstTouch(spark, d.toString).collect().map { r =>
      r.getLong(0) -> ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]), r.getString(4)))
    }.toMap
    assert(got === Map(
      60L -> ((1L, Some(50L), "click")),
      61L -> ((10L, None, "view")),
      71L -> ((1L, Some(70L), "view"))))
  }
}
