package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SortedRuns

/** The run iterator behind [[SortedRuns]] (`MapReduce.run` and the
  * per-user sweeps), pinned on plain iterators without a Spark job: every
  * run of equal keys reaches the per-run function once, whole and in
  * order, whatever that function reads of it.
  */
class SortedRunsSpec extends AnyFunSuite {

  /** At most 100 outputs, so a run iterator that never ends fails fast. */
  private def outputs[U](it: Iterator[U]): List[U] = it.take(100).toList

  /** Each run as (key, all its rows), read in full. */
  private def grouped[T, K](rows: Seq[T])(key: T => K): List[(K, List[T])] =
    outputs(SortedRuns.runs(rows.iterator)(key)((k, run) => Iterator.single(k -> run.toList)))

  test("an empty input has no run and never calls the per-run function") {
    var calls = 0
    val out = SortedRuns.runs(Iterator.empty[Int])(identity) { (_, run) => calls += 1; run }
    assert(outputs(out) === Nil)
    assert(calls === 0)
  }

  test("one run, and all-distinct keys") {
    assert(grouped(Seq(3, 3, 3))(identity) === List(3 -> List(3, 3, 3)))
    assert(grouped(Seq(1, 2, 3))(identity) === List(1 -> List(1), 2 -> List(2), 3 -> List(3)))
  }

  test("NULL String keys and None keys each form one run") {
    val strings = Seq[String](null, null, "a", "a", "b")
    assert(grouped(strings)(identity) ===
      List((null, List(null, null)), "a" -> List("a", "a"), "b" -> List("b")))
    val options = Seq[(Option[Long], Int)](None -> 1, None -> 2, Some(7L) -> 3, Some(7L) -> 4)
    assert(grouped(options)(_._1) ===
      List(None -> List(None -> 1, None -> 2), Some(7L) -> List(Some(7L) -> 3, Some(7L) -> 4)))
  }

  private val rows = Seq("a" -> 1, "a" -> 2, "a" -> 3, "b" -> 4, "c" -> 5, "c" -> 6)

  test("a per-run function that reads none or part of its run: the next run starts at its first row") {
    val none = outputs(SortedRuns.runs(rows.iterator)(_._1)((k, _) => Iterator.single(k)))
    assert(none === List("a", "b", "c"))
    val first = outputs(SortedRuns.runs(rows.iterator)(_._1)((_, run) => run.take(1)))
    assert(first === List("a" -> 1, "b" -> 4, "c" -> 5))
  }

  test("a per-run function that yields nothing for some runs") {
    // a run handed out twice would loop without output: fail it on the 4th call
    var calls = 0
    def counted[U](out: IterableOnce[U]) = { calls += 1; assert(calls <= 3); out }
    val out = outputs(SortedRuns.runs(rows.iterator)(_._1) { (k, run) =>
      counted(if (k == "b") Iterator.empty else run.map(_._2))
    })
    assert(out === List(1, 2, 3, 5, 6))
    calls = 0
    assert(outputs(SortedRuns.runs(rows.iterator)(_._1)((_, _) => counted(Nil))) === Nil)
    assert(calls === 3)
  }

  test("the key function is called exactly once per row") {
    var calls = 0
    val out = outputs(SortedRuns.runs(rows.iterator) { r => calls += 1; r._1 } { (k, run) =>
      Iterator.single(k -> run.size)
    })
    assert(out === List("a" -> 3, "b" -> 1, "c" -> 2))
    assert(calls === rows.size)
  }

  test("nested use: runs of ts inside runs of user") {
    // (user, ts, id), sorted by (user, ts)
    val events = Seq((1, 10, "p"), (1, 10, "q"), (1, 20, "r"), (2, 10, "s"), (2, 30, "t"),
      (2, 30, "u"), (2, 30, "v"))
    val out = outputs(SortedRuns.runs(events.iterator)(_._1) { (user, byUser) =>
      SortedRuns.runs(byUser)(_._2)((ts, same) => Iterator.single((user, ts, same.map(_._3).mkString)))
    })
    assert(out === List((1, 10, "pq"), (1, 20, "r"), (2, 10, "s"), (2, 30, "tuv")))
    // an inner function that reads nothing still leaves every user's runs in place
    val counts = outputs(SortedRuns.runs(events.iterator)(_._1) { (user, byUser) =>
      Iterator.single(user -> outputs(SortedRuns.runs(byUser)(_._2)((ts, _) => Iterator.single(ts))).size)
    })
    assert(counts === List(1 -> 2, 2 -> 2))
  }
}
