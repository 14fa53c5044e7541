package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.PairsExpr

/** The paper's inverted-index MapReduce (the reference `indexer` app)
  * followed by pair emission, the candidate step of the dedup, graph and
  * media pair queries: group `t` by `keys`, collect each key's posting
  * list of `id`s, and emit (da, db), da < db, one row per (key, pair)
  * from the lazy [[PairsExpr]] generator. A list of fewer than two ids
  * emits nothing; a list that repeats an id emits no self-pair.
  *
  * Cost: one long of collect buffer per posting, and df²/2 pairs for a
  * key with df postings, which dominate. With `cap = Some(n)` every key
  * with more than n rows is dropped first, by a count aggregate and a
  * broadcast left-anti join, so a capped key never reaches a collect
  * buffer. That is why the minhash bands and the media chunks cap their
  * keys (their oracles apply the same cap) and the exact n-gram family,
  * whose oracle has no cap, does not.
  */
object PostingPairs {

  def apply(t: DataFrame, keys: Seq[String], id: String,
      cap: Option[Int] = None): DataFrame = {
    val k = keys.map(col)
    val kept = cap.fold(t) { n =>
      val hot = t.groupBy(k: _*).agg(count(lit(1)).as("df"))
        .filter(col("df") > n).select(k: _*)
      t.join(broadcast(hot), keys, "left_anti")
    }
    kept.groupBy(k: _*)
      .agg(collect_list(col(id)).as("ids")) // PairsExpr orders each pair
      .filter(size(col("ids")) > 1)
      .select(PairsExpr(col("ids")))
  }
}
