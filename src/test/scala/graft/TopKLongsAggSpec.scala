package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.functions.{LongTopK, TopKLongsAgg}

/** Differential + property pins for the bounded distinct-top-k pair heap
  * backing every ANN ranking and probe path ([[graft.queries
  * .SimilarityQueries]]'s `ranked` — every ANN search, the hard-negative
  * miner and the streaming probe twin — the ADC `pqRank`, and
  * `topCentroids`, every IVF probe-list selection): the O(k)-state
  * replacement for the window sort that died at the sf10 scale-up
  * (BENCH_sf10_r15.json.failed). The reference formulation it must match
  * pair-for-pair is a driver-side `distinct`, a descending lexicographic
  * sort of the (key, second) pairs and `take(k)`.
  */
class TopKLongsAggSpec extends SparkTestBase {

  import spark.implicits._

  /** Adversarial value stream: heavy exact duplicates (LSH multi-table
    * pairs), negatives (packed sub-zero cosines never occur, but the
    * aggregate's contract is all of Long), Long extremes, and groups
    * smaller than k.
    */
  private def rows: Seq[(Long, Long)] = {
    val r = new scala.util.Random(7)
    val dense = Seq.tabulate(4000)(i => (i % 7).toLong -> (r.nextInt(50).toLong - 25L))
    val wide = Seq.tabulate(2000)(i => (i % 7).toLong -> r.nextLong())
    val extremes = Seq(0L -> Long.MaxValue, 0L -> Long.MinValue,
      1L -> Long.MaxValue, 1L -> Long.MaxValue)
    val tiny = Seq(99L -> 5L, 98L -> -3L, 98L -> -3L)
    dense ++ wide ++ extremes ++ tiny
  }

  /** Tie-heavy pair stream: keys drawn from 5 values, so nearly every cut
    * falls inside a key tie and the second long decides; exact duplicate
    * pairs and Long extremes in the second position included.
    */
  private def pairRows: Seq[(Long, Long, Long)] = {
    val r = new scala.util.Random(11)
    val tied = Seq.tabulate(6000)(i =>
      ((i % 5).toLong, r.nextInt(5).toLong - 2L, r.nextInt(400).toLong - 200L))
    val extremes = Seq((0L, 2L, Long.MaxValue), (0L, 2L, Long.MinValue),
      (1L, Long.MaxValue, Long.MinValue), (1L, Long.MaxValue, Long.MinValue))
    tied ++ extremes
  }

  private val pairDesc: Ordering[(Long, Long)] = Ordering[(Long, Long)].reverse

  private def expected(k: Int): Map[Long, Seq[Long]] =
    rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).distinct.sorted(Ordering[Long].reverse).take(k)
    }

  private def actual(k: Int, partitions: Int): Map[Long, Seq[Long]] =
    rows.toDF("g", "v").repartition(partitions, col("g") * 0 + col("v"))
      .groupBy(col("g")).agg(TopKLongsAgg(col("v"), lit(0L), k).as("top"))
      .select(col("g"), col("top.key")).as[(Long, Seq[Long])].collect().toMap

  test("matches distinct-sort-slice on duplicate-heavy data, any partitioning") {
    for (k <- Seq(1, 3, 10); p <- Seq(1, 4, 13)) {
      assert(actual(k, p) == expected(k), s"k=$k partitions=$p")
    }
  }

  test("groups smaller than k return all distinct values, descending") {
    val got = actual(10, 4)
    assert(got(99L) == Seq(5L))
    assert(got(98L) == Seq(-3L)) // exact duplicate collapsed
  }

  test("pairs: key ties broken by the second long, any k and partitioning") {
    val groups = pairRows.groupBy(_._1)
    for (k <- Seq(1, 3, 10, 100); p <- Seq(1, 4, 13)) {
      val want = groups.map { case (g, vs) =>
        g -> vs.map(v => (v._2, v._3)).distinct.sorted(pairDesc).take(k)
      }
      val got = pairRows.toDF("g", "a", "b")
        .repartition(p, xxhash64(col("a"), col("b")))
        .groupBy(col("g")).agg(TopKLongsAgg(col("a"), col("b"), k).as("top"))
        .select(col("g"), col("top.key"), col("top.second"))
        .as[(Long, Seq[Long], Seq[Long])].collect()
        .map { case (g, ks, ss) => g -> ks.zip(ss) }.toMap
      assert(got == want, s"k=$k partitions=$p")
    }
    // vacuity guard: every group's k=100 cut lands inside a key tie
    assert(groups.values.forall { vs =>
      val top = vs.map(v => (v._2, v._3)).distinct.sorted(pairDesc)
      top(99)._1 == top(100)._1
    })
  }

  test("heap unit: dedup at the min slot and across merges") {
    def add(h: LongTopK, vs: Long*): Unit = vs.foreach(h.add(_, 0L))
    def keys(h: LongTopK): Seq[Long] = h.sortedDesc.toSeq.map(_._1)
    val a = new LongTopK(3)
    add(a, 5L, 1L, 9L, 1L, 5L, 9L) // dups while filling
    assert(keys(a) == Seq(9L, 5L, 1L))
    add(a, 1L) // equal to current min — duplicate, must not evict
    assert(keys(a) == Seq(9L, 5L, 1L))
    add(a, 7L) // genuine improvement evicts the min
    assert(keys(a) == Seq(9L, 7L, 5L))
    val b = new LongTopK(3)
    add(b, 9L, 7L, 2L)
    val agg = TopKLongsAgg(Literal(0L), Literal(0L), 3)
    agg.merge(a, b)
    assert(keys(a) == Seq(9L, 7L, 5L)) // 9,7 deduped; 2 too small
  }

  test("serialize -> deserialize round-trips a full pair buffer") {
    val k = 16
    val agg = TopKLongsAgg(Literal(0L), Literal(0L), k)
    val buf = agg.createAggregationBuffer()
    val r = new scala.util.Random(3)
    Seq.fill(200)((r.nextInt(4).toLong, r.nextLong())).foreach { case (a, b) => buf.add(a, b) }
    assert(buf.size == k)
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.size == k)
    assert(back.keys.toSeq == buf.keys.toSeq && back.seconds.toSeq == buf.seconds.toSeq,
      "the heap layout must survive verbatim")
    assert(back.sortedDesc.toSeq == buf.sortedDesc.toSeq)
    // the restored heap keeps working: a duplicate is absorbed, a better
    // pair evicts the minimum
    val best = buf.sortedDesc.head
    back.add(best._1, best._2)
    assert(back.sortedDesc.toSeq == buf.sortedDesc.toSeq)
    back.add(Long.MaxValue, 0L)
    assert(back.sortedDesc.toSeq == ((Long.MaxValue, 0L) +: buf.sortedDesc.toSeq.init))
  }
}
