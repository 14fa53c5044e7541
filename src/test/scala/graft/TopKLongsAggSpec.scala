package graft

import org.apache.spark.sql.functions._

import graft.functions.{LongTopK, TopKLongsAgg}

/** Differential + property pins for the bounded distinct-top-k heap
  * aggregate backing every ANN ranking and probe path ([[graft.queries
  * .SimilarityQueries]]'s `ranked` — every ANN search and the hard-negative
  * miner — and `topCentroids`, every IVF probe-list selection): the O(k)-state
  * replacement for the window sort that died at the sf10 scale-up
  * (BENCH_sf10_r15.json.failed). The reference formulation it must match
  * value-for-value is `slice(reverse(sort_array(collect_list(DISTINCT
  * x))), 1, k)` — the k largest distinct values, descending.
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

  private def expected(k: Int): Map[Long, Seq[Long]] =
    rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).distinct.sorted(Ordering[Long].reverse).take(k)
    }

  private def actual(k: Int, partitions: Int): Map[Long, Seq[Long]] =
    rows.toDF("g", "v").repartition(partitions, col("g") * 0 + col("v"))
      .groupBy(col("g")).agg(TopKLongsAgg(col("v"), k).as("top"))
      .as[(Long, Seq[Long])].collect().toMap

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

  test("heap unit: dedup at the min slot and across merges") {
    val a = new LongTopK(3)
    Seq(5L, 1L, 9L, 1L, 5L, 9L).foreach(a.add) // dups while filling
    assert(a.sortedDesc.toSeq == Seq(9L, 5L, 1L))
    a.add(1L) // equal to current min — duplicate, must not evict
    assert(a.sortedDesc.toSeq == Seq(9L, 5L, 1L))
    a.add(7L) // genuine improvement evicts the min
    assert(a.sortedDesc.toSeq == Seq(9L, 7L, 5L))
    val b = new LongTopK(3)
    Seq(9L, 7L, 2L).foreach(b.add)
    var i = 0
    while (i < b.size) { a.add(b.arr(i)); i += 1 } // merge path
    assert(a.sortedDesc.toSeq == Seq(9L, 7L, 5L)) // 9,7 deduped; 2 too small
  }
}
