package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded distinct-top-k buffer over (key, second) long pairs, ordered
  * lexicographically: a k-slot binary MIN-heap (the root is the current
  * k-th best pair, so each candidate costs one comparison to reject) plus
  * pair dedup. State is O(k) — 16·k bytes — regardless of group size,
  * which is the whole point: the alternative top-k formulations both
  * carry O(group) through the plan (`row_number().over(window)` sorts the
  * full candidate stream including every non-key column, and
  * `slice(sort_array(collect_list(x)), …)` holds the group's complete
  * value list in the aggregation buffer). Measured at the 100× scale-up
  * (sf10, 200 k vectors): the brute-force truth build's window sort
  * spilled the 400 M-pair × ~1.1 KB candidate stream to disk and killed
  * the stage; with this aggregate the vectors never leave the map side
  * and the exchange carries one ≤k-pair buffer per (group × partition).
  *
  * Two longs because not every ranking packs into one: the ADC order
  * (adist ASC, id ASC) needs ~48 bits of distance AND a full id, and the
  * cosine rankings carry their `round(cos, 4)` score bits as the second
  * long so nothing downstream re-joins the vectors to recompute it. A
  * one-long ordering (the centroid probe lists) passes a constant second.
  *
  * DISTINCT semantics: a pair already in the buffer is skipped, so the
  * result is the k largest distinct pairs of the group. For the ANN
  * ranking paths the pair encodes (score, candidate id) and ids are
  * unique per group — dedup is a no-op there — but the LSH multi-table
  * union and a query that arrives twice on a stream produce the SAME
  * pair once per copy, and absorbing those duplicates here is what
  * keeps each neighbour once. Distinct-top-k is merge-order independent
  * (if p is among the k largest distinct pairs globally, then no
  * partition holds k distinct pairs above p, so p survives every partial
  * buffer it appears in), so the aggregate is safe under any
  * partial/final split and in a streaming state store — the property
  * plain "keep k with duplicates" buffers lack.
  *
  * Dedup costs a linear scan of the ≤k slots per accepted candidate
  * (rejected candidates — the vast majority once the heap warms up —
  * pay one root comparison only). Designed for ranking k's (k ≤ ~100);
  * a large-k use case should switch the scan to a hash set.
  *
  * Exposed as a `TypedImperativeAggregate` (the same plumbing Spark's own
  * sketch aggregates and `collect_list` use), so the plan is a standard
  * partial→final ObjectHashAggregate. eval returns `array<struct<key,
  * second>>` sorted DESCENDING — `posexplode` positions are the 0-based
  * ranks.
  */
final class LongTopK(val k: Int) extends Serializable {
  val keys = new Array[Long](k) // min-heap over [0, size), pairs (keys(i), seconds(i))
  val seconds = new Array[Long](k)
  var size = 0

  private def less(ak: Long, as: Long, bk: Long, bs: Long): Boolean =
    ak < bk || (ak == bk && as < bs)

  private def lessAt(i: Int, j: Int): Boolean = less(keys(i), seconds(i), keys(j), seconds(j))

  private def contains(key: Long, second: Long): Boolean = {
    var i = 0
    while (i < size) { if (keys(i) == key && seconds(i) == second) return true; i += 1 }
    false
  }

  private def swap(i: Int, j: Int): Unit = {
    val tk = keys(i); keys(i) = keys(j); keys(j) = tk
    val ts = seconds(i); seconds(i) = seconds(j); seconds(j) = ts
  }

  private def siftUp(from: Int): Unit = {
    var i = from
    while (i > 0 && lessAt(i, (i - 1) >> 1)) { swap((i - 1) >> 1, i); i = (i - 1) >> 1 }
  }

  private def siftDown(): Unit = {
    var i = 0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = l + 1
      var m = i
      if (l < size && lessAt(l, m)) m = l
      if (r < size && lessAt(r, m)) m = r
      if (m == i) done = true else { swap(m, i); i = m }
    }
  }

  def add(key: Long, second: Long): Unit =
    if (size < k) {
      if (!contains(key, second)) {
        keys(size) = key; seconds(size) = second; size += 1; siftUp(size - 1)
      }
    } else if (less(keys(0), seconds(0), key, second) && !contains(key, second)) {
      keys(0) = key; seconds(0) = second // equal to a buffered pair ⇒ duplicate
      siftDown()
    }

  /** The buffered pairs, best (lexicographically largest) first. */
  def sortedDesc: Array[(Long, Long)] =
    Array.tabulate(size)(i => (keys(i), seconds(i))).sorted(Ordering[(Long, Long)].reverse)
}

case class TopKLongsAgg(
    key: Expression,
    second: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LongTopK] {

  require(k > 0, s"topk_longs: k must be positive, got $k")
  // the dedup scan is O(k) per ACCEPTED candidate by design (ranking k's);
  // enforce the scaladoc's bound so a future large-k caller fails loudly
  // instead of degrading quadratically — above this, switch the dedup
  // scan to a hash set
  require(k <= 4096, s"topk_longs: k=$k exceeds the linear-dedup design bound " +
    "(4096); switch LongTopK.contains to a hash set before raising it")

  override def createAggregationBuffer(): LongTopK = new LongTopK(k)

  /** A row whose key or second is null is skipped. */
  override def update(buf: LongTopK, input: InternalRow): LongTopK = {
    val kv = key.eval(input)
    if (kv != null) {
      val sv = second.eval(input)
      if (sv != null) buf.add(kv.asInstanceOf[Long], sv.asInstanceOf[Long])
    }
    buf
  }

  override def merge(a: LongTopK, b: LongTopK): LongTopK = {
    var i = 0
    while (i < b.size) { a.add(b.keys(i), b.seconds(i)); i += 1 }
    a
  }

  /** array<struct<key, second>> of the group's k largest distinct pairs,
    * descending.
    */
  override def eval(buf: LongTopK): Any =
    new GenericArrayData(buf.sortedDesc.map { case (kk, s) => InternalRow(kk, s) })

  override def serialize(buf: LongTopK): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putLong(buf.keys(i)).putLong(buf.seconds(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): LongTopK = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new LongTopK(k)
    // serialize wrote [0, size) verbatim — already deduped AND in valid
    // min-heap order, so restore by direct copy (re-adding would pay an
    // O(k) dedup scan per pair = O(k²) per buffer deserialization)
    var i = 0
    while (i < n) { buf.keys(i) = bb.getLong; buf.seconds(i) = bb.getLong; i += 1 }
    buf.size = n
    buf
  }

  override def dataType: DataType = ArrayType(TopKLongsAgg.PairType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(key, second)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), second = newChildren(1))
  override def withNewMutableAggBufferOffset(o: Int): TopKLongsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKLongsAgg =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "topk_longs"
}

object TopKLongsAgg {
  val PairType: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("second", LongType, nullable = false)))

  def apply(key: Column, second: Column, k: Int): Column =
    ColumnBridge.column(TopKLongsAgg(ColumnBridge.expression(key),
      ColumnBridge.expression(second), k).toAggregateExpression())
}
