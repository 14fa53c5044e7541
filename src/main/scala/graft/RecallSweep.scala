package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.SimilarityQueries

/** Dev utility: the ANN recall-vs-cost sweep behind the committed tuning
  * (RECALL.md). Measures recall@10 against the exact `ann_topk` baseline
  * and wall-clock per setting for the probed index family at
  * `SPARK_GRAFT_SF_DIR`:
  *
  *   - `ann_lsh` across multi-probe radii (Hamming 0/1/2 around the
  *     query's own bucket)
  *   - `ann_ivf_kmeans` and `ann_ivf_scaled` across probe depths
  *     (`nprobe`), through the one IVF probe hook over an index value
  *   - `ann_ivfpq_rerank` across (nprobe, rerank depth R)
  *
  * Shared index artifacts (codebooks, inverted lists, PQ codes) are
  * memoized per session, so the sweep measures the PROBE cost curve, not
  * repeated index builds — the same separation a production deployment
  * has. Output: one human-readable line per setting; the chosen operating
  * point is committed as [[SimilarityQueries.Nprobe]]/[[SimilarityQueries.RerankR]]
  * with the curve recorded in RECALL.md and floors in
  * SimilarityPropertySpec.
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // engine-required confs from the one shared source of truth
    val spark = GraftSession.localBuilder("graft-recall-sweep", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // optional arg: sweep only one family ("lsh" | "ivf" | "scaled" |
    // "pq" | "hn") — a retune session usually moves one knob and should
    // not pay for the whole grid. Unknown names are an ERROR, not a
    // silent empty sweep (a typo like "lhs" would otherwise make want()
    // false for every family, run nothing, and exit 0), and the check
    // runs BEFORE the exact baseline below so the typo fails fast instead
    // of after the costliest step of the sweep.
    val Families = Set("lsh", "ivf", "pq", "hn", "scaled")
    val family = args.headOption
    family.filterNot(Families).foreach { f =>
      System.err.println(
        s"[sweep] unknown family '$f' — known: ${Families.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    def want(f: String) = family.forall(_ == f)

    def topSets(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    // lazy: the hn family builds its own cross-label truth set and must
    // not pay for the all-pairs ann_topk baseline it never reads
    lazy val exact: Map[Long, Set[Long]] = {
      val e = topSets(SimilarityQueries.annTopk(spark, sfDir))
      require(e.nonEmpty, "baseline empty")
      e
    }
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, t) =>
        approx.getOrElse(q, Set.empty).count(t).toDouble / t.size
      }
      per.sum / per.size
    }
    def timed(label: String, df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val sets = topSets(df)
      val first = (System.nanoTime() - t0) / 1e9 // query cost only; recall scored after
      val r = recall(sets)
      val warm0 = System.nanoTime()
      topSets(df) // second pass = steady-state probe cost (index memoized)
      val warm = (System.nanoTime() - warm0) / 1e9
      println(f"$label%-34s recall@10=$r%.3f first=$first%.2fs warm=$warm%.2fs")
    }

    if (want("lsh"))
      // radius grid driven by the SAME generic mask generator the query
      // uses (lshProbeMasks), so the sweep can never claim a probe count
      // the operator would not actually issue
      for (tables <- Seq(1, 2); radius <- 0 to 3) {
        val nProbes = SimilarityQueries.lshProbeMasks(radius).size
        val scanFrac = 1.0 - math.pow(1.0 - nProbes.toDouble / (1 << SimilarityQueries.LshBits), tables)
        timed(f"ann_lsh tables=$tables radius=$radius ($nProbes%2d probes/tbl, ~${scanFrac * 100}%.1f%% scanned)",
          SimilarityQueries.annLshProbe(spark, sfDir, radius, tables))
      }

    val nprobes = Seq(2, 4, 8, 12, 16, 24, 32)
    if (want("ivf")) nprobes.foreach { np =>
      timed(f"ann_ivf_kmeans nprobe=$np%-3d (${np * 100.0 / SimilarityQueries.IvfC}%.0f%% lists)",
        SimilarityQueries.annIvfProbe(spark, sfDir, SimilarityQueries.LloydIvf, np))
    }
    if (want("scaled")) {
      // scaled-capacity index across probe depth, incl. the EQUAL-SCAN
      // points vs the fixed family (nprobe/C(n) = 24/64 ≈ 38% and the
      // LSH 27% point) — is recall-per-scan at fine capacity still ahead
      // when scanning the SAME fraction, not just at the committed 11%?
      val c = SimilarityQueries.scaledCOf(spark, sfDir)
      for (np <- Seq(8, 16, 24, 48, 59, 82, 110).filter(_ <= c)) {
        timed(f"ann_ivf_scaled nprobe=$np%-3d (${np * 100.0 / c}%.0f%% of $c lists)",
          SimilarityQueries.annIvfProbe(spark, sfDir, SimilarityQueries.ScaledIvf, np))
      }
    }
    if (want("pq")) nprobes.foreach { np =>
      Seq(25, 50, 100).foreach { r =>
        timed(f"ann_ivfpq_rerank nprobe=$np%-3d R=$r%-4d",
          SimilarityQueries.annIvfPqRerankProbe(spark, sfDir, np, r))
      }
    }
    if (want("hn")) {
      // hard_negatives has its own truth set (the exact cross-label argmax
      // per ANCHOR, not ann_topk's query-sample top-10) — brute-forced
      // driver-side exactly like SimilarityPropertySpec's floor test,
      // with the same round-1e6 + id tiebreak the engine ranks by
      import org.apache.spark.sql.functions.col
      val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "label", "embedding").collect()
        .map(r => (r.getLong(0), r.getInt(1),
          r.getSeq[Float](2).map(_.toDouble).toArray))
      def cosA(a: Array[Double], b: Array[Double]): Double = {
        var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      val exactBest = vecs.map { case (id, l, v) =>
        id -> vecs.filter(_._2 != l)
          .map { case (cid, _, cv) => (math.rint(cosA(v, cv) * 1e6) / 1e6, cid) }
          .minBy { case (c, cid) => (-c, cid) }._2
      }.toMap
      for (np <- Seq(1, 2, 3, 4, 8)) {
        val t0 = System.nanoTime()
        val got = SimilarityQueries.hardNegativesProbe(spark, sfDir, np)
          .filter(col("rank") === 1).select("anchor_id", "neg_id").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val secs = (System.nanoTime() - t0) / 1e9
        val rec = exactBest.count { case (a, b) => got.get(a).contains(b) }
          .toDouble / exactBest.size
        println(f"hard_negatives nprobe=$np%-3d (~${np * 100.0 / SimilarityQueries.IvfC}%.1f%% scanned) recall@1=$rec%.3f first=$secs%.2fs")
      }
    }
    spark.stop()
  }
}
