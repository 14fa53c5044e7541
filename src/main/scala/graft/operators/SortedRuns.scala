package graft.operators

import org.apache.spark.sql.{Column, Dataset, Encoder}

/** The paper's reduce with a secondary sort (Dean & Ghemawat §3.1 step 5,
  * §4.2 "Ordering Guarantees"): sort each partition of a Dataset the
  * caller has already exchanged (the per-user sweeps, on user_id) by
  * `order`, which starts with what `key` reads, and hand each run of
  * equal keys to `perRun` in one mapPartitions pass. A NULL key is one
  * more key. `MapReduce.run` calls [[runs]] alone: its RDD shuffle
  * already sorts each bucket by key in the shuffle reader.
  */
object SortedRuns {

  def apply[T, K, U: Encoder](exchanged: Dataset[T], order: Column*)(key: T => K)(
      perRun: (K, Iterator[T]) => IterableOnce[U]): Dataset[U] =
    exchanged.sortWithinPartitions(order: _*).mapPartitions(runs(_)(key)(perRun))

  /** `perRun`'s output for each run of equal keys of the key-sorted `in`,
    * in order (also nested: runs of ts inside one user's run). `key` is
    * read once per row, on a one-row lookahead; the rows `perRun` leaves
    * unread are drained before the next run starts.
    */
  def runs[T, K, U](in: Iterator[T])(key: T => K)(
      perRun: (K, Iterator[T]) => IterableOnce[U]): Iterator[U] = new Runs(in, key, perRun)

  private final class Runs[T, K, U](in: Iterator[T], key: T => K,
      perRun: (K, Iterator[T]) => IterableOnce[U]) extends Iterator[U] {
    private var more = false // `head` holds a row not handed out yet
    private var head: T = _
    private var headKey: K = _
    private var run: Iterator[T] = Iterator.empty
    private var out: Iterator[U] = Iterator.empty
    pull()

    private def pull(): Unit = {
      more = in.hasNext
      if (more) { head = in.next(); headKey = key(head) }
    }

    def hasNext: Boolean = {
      while (!out.hasNext) {
        while (run.hasNext) run.next() // drain what the last run left unread
        if (!more) return false
        run = new Run(headKey)
        out = perRun(headKey, run).iterator
      }
      true
    }

    def next(): U = if (hasNext) out.next() else Iterator.empty.next()

    private final class Run(k: K) extends Iterator[T] {
      private var same = true
      def hasNext: Boolean = same
      def next(): T = {
        if (!same) Iterator.empty.next()
        val r = head
        pull()
        same = more && headKey == k
        r
      }
    }
  }
}
