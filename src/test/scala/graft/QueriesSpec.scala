package graft

import org.apache.spark.sql.functions._

/** Smoke + shape tests of the full declared query inventory at sf0.001.
  * (Value-level correctness is gated by the DuckDB oracle harness —
  * tools/verify_local.py / the driver's t2 compare; these tests assert the
  * engine-side invariants that the oracle can't see.)
  */
class QueriesSpec extends SparkTestBase {

  private val dir = sf("sf0.001")

  test("every declared query runs and returns rows") {
    SparkEntry.all.foreach { case (name, q) =>
      val n = q.fn(spark, dir).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every query has an oracle, except the declared sketch queries") {
    // approx_stats is sketch-based (HLL + quantile summaries): results are
    // implementation-defined, so no cross-engine oracle CAN exist — its
    // error-bound contract is pinned by its own test below instead. Every
    // other query must carry an exact DuckDB oracle; this list is the
    // explicit opt-out so an accidentally-omitted oracle still fails.
    // ann_recall_report publishes a retrieval-QUALITY metric (recall@10 of
    // the approximate indexes vs the exact baseline) — its exactness is
    // pinned differentially against the driver-side measurement in
    // SimilarityPropertySpec instead.
    val sketchOnly = Set("approx_stats", "approx_topk", "ann_recall_report")
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet -- sketchOnly)
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("wordcount total equals token count total") {
    val words = graft.queries.TextQueries.wordcount(spark, dir)
      .agg(sum("cnt")).as("total").collect()(0).getLong(0)
    val perFile = graft.queries.TextQueries.perFileCount(spark, dir)
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(words === perFile)
  }

  test("dedup_minhash pairs are a subset of ngram_jaccard pairs at tau>=0.8") {
    // LSH has recall <= 1 at the same threshold, never false positives
    // (pairs are Jaccard-verified), so minhash ⊆ exact pairs.
    val mh = graft.queries.DedupQueries.dedupMinhash(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.queries.DedupQueries.ngramJaccard(spark, dir)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(exact))
    assert(mh.nonEmpty)
  }

  test("ann_lsh results are a subset of brute-force ann_topk candidates' pairs") {
    // every (query, neighbor) returned by the LSH variant must have the
    // same similarity the brute-force path computes (bucketing only
    // filters candidates, never changes the metric)
    val brute = graft.queries.SimilarityQueries.annTopk(spark, dir)
      .select("query_id", "neighbor_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = graft.queries.SimilarityQueries.annLsh(spark, dir)
      .select("query_id", "neighbor_id", "sim").collect()
    lsh.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      brute.get(k).foreach(s => assert(s === r.getDouble(2), s"pair $k"))
    }
    assert(lsh.nonEmpty)
  }

  test("ann_ivf pairs carry brute-force similarities; probes cap candidate lists") {
    // IVF only restricts the candidate set (Nprobe inverted lists); any
    // returned pair must agree with the exact metric, and no query may
    // return more than TopK neighbors.
    val brute = graft.queries.SimilarityQueries.annTopk(spark, dir)
      .select("query_id", "neighbor_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = graft.queries.SimilarityQueries.annIvf(spark, dir)
      .select("query_id", "neighbor_id", "sim").collect()
    ivf.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      brute.get(k).foreach(s => assert(s === r.getDouble(2), s"pair $k"))
    }
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.length <= graft.queries.SimilarityQueries.TopK, s"query $q over TopK")
    }
  }

  test("dedup_embed survivors complement the similar_pairs duplicate graph") {
    // a vector survives iff no lower-id near-dup exists in its label block,
    // so survivors = all - {b_id : (a_id < b_id) ∈ similar_pairs}; the
    // lowest vec_id of every label block always survives.
    val all = Tables.embeddings(spark, dir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val dupIds = graft.queries.SimilarityQueries.similarPairs(spark, dir)
      .select("b_id").collect().map(_.getLong(0)).toSet
    val survivors = graft.queries.SimilarityQueries.dedupEmbed(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors === all.map(_._1).toSet -- dupIds)
    all.groupBy(_._2).foreach { case (label, vs) =>
      assert(survivors.contains(vs.map(_._1).min), s"label $label min id dropped")
    }
  }

  test("dedup_embed_lsh survivors contain the exact dedup_embed survivors") {
    // bucketing only REMOVES candidate pairs (same label, different
    // bucket), so the LSH variant can only drop fewer vectors: survivors
    // must be a superset of the exact block scan's survivors.
    val exact = graft.queries.SimilarityQueries.dedupEmbed(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val lsh = graft.queries.SimilarityQueries.dedupEmbedLsh(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(lsh))
    assert(lsh.nonEmpty)
  }

  test("multimodal decode plumbing: binary payload -> typed metadata struct") {
    import graft.operators.MediaDecode
    val df = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val out = MediaDecode.withMetadata(df, "payload")
    assert(out.schema.fieldNames.contains("media_meta"))
    val row = out.select("media_meta.width", "media_meta.height", "media_meta.format")
      .collect()(0)
    assert(row.getInt(0) >= 0 && row.getInt(0) < 1920)
    assert(row.getInt(1) >= 0 && row.getInt(1) < 1080)
    assert(Set("png", "jpeg").contains(row.getString(2)))
    // determinism: same payload -> same metadata
    val again = MediaDecode.withMetadata(df, "payload")
      .select("media_meta.width").collect()(0).getInt(0)
    assert(again === row.getInt(0))
  }

  test("tfidf_topterms: ranks are 1..k, scores non-increasing, df consistent") {
    import graft.queries.TextQueries
    val rows = TextQueries.tfidfTopterms(spark, dir)
      .select("doc_id", "term", "tf", "df", "score", "rank").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (d, rs) =>
      assert(rs.length <= TextQueries.TfidfK, s"doc $d has ${rs.length} terms")
      val byRank = rs.sortBy(_.getLong(5))
      assert(byRank.map(_.getLong(5)).toSeq === (1L to rs.length), s"doc $d ranks not dense")
      val scores = byRank.map(_.getDouble(4)).toSeq
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"doc $d scores not non-increasing")
    }
    // df is a per-term global: every occurrence of a term reports one value
    rows.groupBy(_.getString(1)).foreach { case (t, rs) =>
      assert(rs.map(_.getLong(3)).distinct.length === 1, s"term $t has inconsistent df")
    }
  }

  test("data_split: buckets in range, split matches bucket, assignment is id-stable") {
    import graft.queries.TextQueries
    val rows = TextQueries.dataSplit(spark, dir)
      .select("doc_id", "bucket", "split").collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val b = r.getLong(1)
      assert(b >= 0 && b < TextQueries.SplitBuckets)
      val want = if (b < TextQueries.TrainUpto) "train"
        else if (b < TextQueries.ValUpto) "val" else "test"
      assert(r.getString(2) === want, s"doc ${r.getLong(0)} split/bucket disagree")
    }
    assert(rows.map(_.getString(2)).toSet === Set("train", "val", "test"))
    // id-stability (the property hash splits exist for): recomputing
    // yields the identical assignment
    val again = TextQueries.dataSplit(spark, dir)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach(r => assert(again(r.getLong(0)) === r.getString(2)))
  }

  test("domain_mix: buckets under per-source thresholds, full-rate sources keep all docs") {
    import graft.queries.TextQueries
    val total = Tables.docs(spark, dir).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = TextQueries.domainMix(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.length < total.values.sum,
      "mix must be a proper subset (some source is downsampled)")
    val thr = TextQueries.MixRates.toMap
    rows.foreach { case (id, src, b) =>
      assert(b >= 0 && b < TextQueries.MixBuckets)
      assert(b < thr.getOrElse(src, TextQueries.MixDefaultThreshold),
        s"doc $id of $src kept with bucket $b above its threshold")
    }
    // threshold 10000 = keep-everything: those sources must be complete
    val kept = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    thr.filter(_._2 == TextQueries.MixBuckets).keys.foreach { s =>
      assert(kept.getOrElse(s, 0L) === total(s), s"full-rate source $s lost docs")
    }
  }

  test("stratified_sample: exactly k per stratum; two-phase equals naive global rank") {
    import graft.queries.TextQueries
    val rows = TextQueries.stratifiedSample(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val perSource = Tables.docs(spark, dir).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact-k where the stratum has >= k docs, all docs otherwise
    val got = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    perSource.foreach { case (s, n) =>
      assert(got.getOrElse(s, 0L) === math.min(n, TextQueries.StratK.toLong),
        s"stratum $s: ${got.getOrElse(s, 0L)} sampled of $n")
    }
    assert(rows.length < perSource.values.sum, "sample must be a proper subset")
    // ranks are 1..k within each stratum
    rows.groupBy(_._2).foreach { case (s, rs) =>
      assert(rs.map(_._3).sorted === (1L to rs.length.toLong), s"ranks broken in $s")
    }
    // losslessness of the salted partial phase: the two-phase pick equals
    // the naive single-window top-k (hash order re-derived driver-side)
    val h = graft.functions.TextFns.hash60(concat(lit("strat:"), col("doc_id").cast("string")))
    val naive = Tables.docs(spark, dir).select(col("doc_id"), col("source"), h.as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._2).view.mapValues(
        _.sortBy(t => (t._3, t._1)).take(TextQueries.StratK).map(_._1).toSet).toMap
    rows.groupBy(_._2).foreach { case (s, rs) =>
      assert(rs.map(_._1).toSet === naive(s), s"two-phase diverges from naive in $s")
    }
  }

  test("dedup_cluster: pair endpoints share clusters; one canonical min per cluster") {
    import graft.queries.DedupQueries
    val out = DedupQueries.dedupCluster(spark, dir)
      .select("doc_id", "cluster_id", "is_canonical").collect()
    val label = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every verified near-dup pair is intra-cluster
    val pairs = DedupQueries.dedupMinhash(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no near-dup pairs — test is vacuous")
    pairs.foreach { case (a, b) =>
      assert(label(a) === label(b), s"pair ($a,$b) split across clusters")
    }
    // labels are min-ids: never above the member, and each cluster's
    // canonical row is exactly its minimum member
    out.foreach(r => assert(r.getLong(1) <= r.getLong(0)))
    out.groupBy(_.getLong(1)).foreach { case (c, rs) =>
      assert(rs.map(_.getLong(0)).min === c, s"cluster $c labeled above its min member")
      val canon = rs.filter(_.getBoolean(2))
      assert(canon.length === 1 && canon.head.getLong(0) === c,
        s"cluster $c canonical flag wrong")
    }
  }

  test("ngram_containment dominates jaccard: every J>=0.9 pair appears, values >= J") {
    import graft.queries.DedupQueries
    // containment = i/min(na,nb) >= i/(na+nb-i) = jaccard, so the
    // containment output at tau=0.9 must contain every jaccard>=0.9 pair
    val cont = DedupQueries.ngramContainment(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val highJ = DedupQueries.ngramJaccard(spark, dir)
      .filter(col("jaccard") >= DedupQueries.ContainmentTau)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(highJ.nonEmpty, "no J>=0.9 pairs — test is vacuous")
    highJ.foreach { case (pair, j) =>
      assert(cont.contains(pair), s"$pair has J=$j but is missing from containment")
      assert(cont(pair) >= j, s"$pair containment ${cont(pair)} < jaccard $j")
    }
  }

  test("repetition_score: ratios in (0,1], top fraction bounded by distinct ratio floor") {
    import graft.queries.TextQueries
    val rows = TextQueries.repetitionScore(spark, dir)
      .select("doc_id", "n_tokens", "n_distinct", "distinct_ratio", "top_token_frac").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, d, dr, tf) = (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(d >= 1 && d <= n)
      assert(dr > 0 && dr <= 1.0)
      assert(tf > 0 && tf <= 1.0)
      // the most frequent token covers at least the average share 1/n_distinct
      assert(tf >= 1.0 / d - 1e-12, s"doc ${r.getLong(0)}: top_frac $tf < 1/$d")
    }
  }

  test("label_centroids: dense dims per label, exact mean of quantized components") {
    import graft.queries.SimilarityQueries
    val rows = SimilarityQueries.labelCentroids(spark, dir)
      .select("label", "dim", "n_vectors", "value").collect()
    val byLabel = rows.groupBy(_.getInt(0))
    byLabel.foreach { case (l, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq === (1L to SimilarityQueries.KmDim),
        s"label $l dims not dense")
      assert(rs.map(_.getLong(2)).distinct.length === 1, s"label $l n_vectors inconsistent")
    }
    // exact cross-check of one component against a driver-side quantized mean
    val embRows = Tables.embeddings(spark, dir)
      .select("label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
    val l0 = embRows.head._1
    val vs = embRows.filter(_._1 == l0).map(_._2)
    val qsum = vs.map(v => math.floor(v.head.toDouble * SimilarityQueries.QScale + 0.5).toLong).sum
    val want = qsum.toDouble / (SimilarityQueries.QScale * vs.length).toDouble
    val got = rows.find(r => r.getInt(0) == l0 && r.getLong(1) == 1L).get.getDouble(3)
    assert(got === want, s"label $l0 dim 1 centroid $got != driver-exact $want")
  }

  test("ann_ivf_kmeans pairs carry brute-force similarities; TopK capped") {
    val brute = graft.queries.SimilarityQueries.annTopk(spark, dir)
      .select("query_id", "neighbor_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val km = graft.queries.SimilarityQueries.annIvfKmeans(spark, dir)
      .select("query_id", "neighbor_id", "sim").collect()
    km.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      brute.get(k).foreach(s => assert(s === r.getDouble(2), s"pair $k"))
    }
    assert(km.nonEmpty)
    km.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.length <= graft.queries.SimilarityQueries.TopK, s"query $q over TopK")
    }
  }

  test("asof_join: one row per event; picks the latest (date, orderkey) at-or-before ts") {
    val events = Tables(spark, dir, "events")
      .select("event_id", "user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val orders = Tables(spark, dir, "orders")
      .select(col("o_custkey"),
        (unix_micros(col("o_orderdate").cast("timestamp")) * 1000L).as("t"),
        col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val got = graft.queries.RelationalQueries.asofJoin(spark, dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got.size === events.length, "exactly one output row per event")
    events.foreach { case (eid, uid, ts) =>
      val want = orders.getOrElse(uid, Array.empty[(Long, Long, Long, Double)])
        .filter(_._2 <= ts)
        .sortBy(o => (o._2, o._3)).lastOption.map(_._3)
      assert(got(eid) === want, s"event $eid user $uid")
    }
  }

  test("props_stats: JSON-extracted sums match a driver-side parse; groups cover all events") {
    val raw = Tables(spark, dir, "events").select("event_type", "props").collect()
      .map(r => (r.getString(0), """"k":\s*(-?\d+)""".r
        .findFirstMatchIn(r.getString(1)).get.group(1).toLong))
    val expect = raw.groupBy(_._1).map { case (t, xs) =>
      t -> (xs.length.toLong, xs.map(_._2).sum, xs.map(_._2).min, xs.map(_._2).max)
    }
    val got = graft.queries.RelationalQueries.propsStats(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === expect)
  }

  test("value_quantiles: exact rank-selected elements of each group, monotone") {
    val vals = Tables(spark, dir, "events").select("event_type", "value", "event_id")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .groupBy(_._1)
    val got = graft.queries.RelationalQueries.valueQuantiles(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (t, n) = (r.getString(0), r.getLong(1))
      val sorted = vals(t).sortBy(x => (x._2, x._3)).map(_._2)
      assert(n === sorted.length.toLong)
      def pick(p: Int) = sorted(((n * p + 99) / 100).toInt - 1)
      assert(r.getDouble(2) === pick(50), s"$t p50")
      assert(r.getDouble(3) === pick(90), s"$t p90")
      assert(r.getDouble(4) === pick(99), s"$t p99")
      assert(r.getDouble(2) <= r.getDouble(3) && r.getDouble(3) <= r.getDouble(4))
    }
  }

  test("bm25_topdocs: matches a driver-side BM25 over the same tokenizer") {
    import graft.queries.TextQueries._
    val toks = Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty).toSeq).toMap
    val nTotal = toks.size.toLong
    val tf = toks.map { case (d, ws) => d -> ws.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong } }
    val dl = tf.map { case (d, m) => d -> m.values.sum }
    val avgdl = dl.values.sum.toDouble / nTotal.toDouble
    val df = Bm25Terms.map(t => t -> tf.count(_._2.contains(t)).toLong).toMap
    val expect = tf.keys.map { d =>
      val total = Bm25Terms.map { t =>
        tf(d).get(t).fold(0.0) { f =>
          val idf = ((nTotal - df(t)).toDouble + 0.5) / (df(t).toDouble + 0.5)
          idf * ((f.toDouble * (Bm25K1 + 1)) /
            (f.toDouble + (Bm25K1 * ((1 - Bm25B) + (Bm25B * (dl(d).toDouble / avgdl))))))
        }
      }.reduceLeft(_ + _)
      d -> total
    }.filter(_._2 > 0).toSeq.sortBy { case (d, s) => (-s, d) }.take(Bm25TopDocs)
    val got = bm25Topdocs(spark, dir).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === expect)
  }

  test("rollup_agg: levels nest consistently and gid encodes the rollup level") {
    val rows = graft.queries.RelationalQueries.rollupAgg(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val leaf = rows.filter(_._3 == 0L)
    val mid = rows.filter(_._3 == 1L)
    val top = rows.filter(_._3 == 3L)
    assert(top.length === 1 && top.head._1 === "ALL" && top.head._2 === "ALL")
    assert(mid.forall(r => r._1 != "ALL" && r._2 == "ALL"))
    assert(leaf.forall(r => r._1 != "ALL" && r._2 != "ALL"))
    // each level's counts and sums aggregate exactly to the next level up
    assert(leaf.map(_._4).sum === top.head._4)
    assert(leaf.map(_._5).sum === top.head._5)
    mid.foreach { m =>
      assert(leaf.filter(_._1 == m._1).map(_._4).sum === m._4, s"flag ${m._1}")
    }
  }

  test("cube_agg: equals rollup_agg plus exactly the linestatus-only level") {
    def tup(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val cube = tup(graft.queries.RelationalQueries.cubeAgg(spark, dir))
    val roll = tup(graft.queries.RelationalQueries.rollupAgg(spark, dir))
    assert(roll.subsetOf(cube), "CUBE grouping sets must contain ROLLUP's")
    val extra = cube -- roll
    // the one grouping set CUBE adds: returnflag rolled up (gid bit 2)
    assert(extra.nonEmpty)
    assert(extra.forall(r => r._3 == 2L && r._1 == "ALL" && r._2 != "ALL"))
    // the added level aggregates to the same grand total
    val top = cube.find(_._3 == 3L).get
    assert(extra.toSeq.map(_._4).sum === top._4)
    assert(extra.toSeq.map(_._5).sum === top._5)
  }

  test("set_ops: tags partition the distinct event users against order customers") {
    val eu = Tables(spark, dir, "events").select("user_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val oc = Tables(spark, dir, "orders").select("o_custkey").distinct()
      .collect().map(_.getLong(0)).toSet
    val got = graft.queries.RelationalQueries.setOps(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val both = got.filter(_._1 == "both").map(_._2).toSet
    val only = got.filter(_._1 == "events_only").map(_._2).toSet
    assert(got.length === both.size + only.size, "no duplicate rows")
    assert(both === (eu intersect oc))
    assert(only === (eu diff oc))
  }

  test("pivot_daily transposes histogram exactly: per-day row sums and cells agree") {
    import graft.queries.RelationalQueries
    val hist = RelationalQueries.histogram(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val piv = RelationalQueries.pivotDaily(spark, dir).collect()
    assert(piv.nonEmpty)
    piv.foreach { r =>
      val day = r.getString(0)
      RelationalQueries.PivotTypes.zipWithIndex.foreach { case (t, i) =>
        assert(r.getLong(i + 1) === hist.getOrElse((day, t), 0L), s"($day, $t)")
      }
    }
    assert(piv.map(r => (1 to RelationalQueries.PivotTypes.size).map(r.getLong).sum).sum
      === hist.values.sum)
  }

  test("rolling_counts: n7 equals the driver-side trailing 7-day sum, gaps respected") {
    val rows = graft.queries.RelationalQueries.rollingCounts(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_._1)
    rows.foreach { case (t, day, _, n7) =>
      val want = byType(t).filter(r => r._2 >= day - 6 && r._2 <= day).map(_._3).sum
      assert(n7 === want, s"($t, day $day)")
    }
    // per-day n values sum to the event count (no day lost to windowing)
    assert(rows.map(_._3).sum === Tables(spark, dir, "events").count())
  }

  test("approx_stats: sketch results sit inside error bounds of the exact twins") {
    import graft.queries.RelationalQueries
    val exactUsers = RelationalQueries.distinctCount(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactQ = RelationalQueries.valueQuantiles(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val vals = Tables(spark, dir, "events").select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    val got = RelationalQueries.approxStats(spark, dir).collect()
    assert(got.map(_.getString(0)).toSet === exactUsers.keySet)
    got.foreach { r =>
      val t = r.getString(0)
      val rel = math.abs(r.getLong(1) - exactUsers(t)).toDouble / exactUsers(t)
      assert(rel <= 0.05, s"$t approx_users off by ${rel * 100}%% (HLL rsd ~2%%)")
      val sorted = vals(t).map(_._2).sorted
      val (e50, e90, e99) = exactQ(t)
      // percentile_approx(accuracy=10000) bounds rank error by n/10000 —
      // derive the allowed rank window from THIS group's size (+1 slack for
      // the exact-side interpolation) so the bound stays a contract check
      // at any test scale factor or group skew, not a constant that
      // silently turns flaky past ~20k rows/group
      val rankWin = sorted.length / 10000 + 2
      def near(approx: Double, exact: Double): Boolean = {
        val i = sorted.indexWhere(_ >= exact)
        val lo = sorted(math.max(0, i - rankWin))
        val hi = sorted(math.min(sorted.length - 1, i + rankWin))
        approx >= lo && approx <= hi
      }
      assert(near(r.getDouble(2), e50), s"$t p50 ${r.getDouble(2)} vs $e50")
      assert(near(r.getDouble(3), e90), s"$t p90 ${r.getDouble(3)} vs $e90")
      assert(near(r.getDouble(4), e99), s"$t p99 ${r.getDouble(4)} vs $e99")
    }
  }

  test("order_revenue: SortMergeJoin pinned; totals re-derive from the raw tables") {
    val df = graft.queries.RelationalQueries.orderRevenue(spark, dir)
    // the operator this query exists to exercise: two corpus-sized sides
    // shuffled into an SMJ — a broadcast here would bench the wrong plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin in:\n$plan")
    // driver-side recompute with the same integer-cents arithmetic
    val perOrder = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
          .cast("long").as("c4"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> (vs.map(_._2).sum, vs.length.toLong) }
    val custOf = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = perOrder.toSeq
      .flatMap { case (ok, (c4, n)) => custOf.get(ok).map(c => (c, c4, n)) }
      .groupBy(_._1)
      .map { case (c, rows) =>
        c -> (rows.length.toLong, rows.map(_._3).sum, rows.map(_._2).sum / 10000.0) }
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("latest_by_key: WindowGroupLimit pushed below the exchange; per-key argmax exact") {
    val df = graft.queries.RelationalQueries.latestByKey(spark, dir)
    // the scale property this query exists for: partial top-1-per-key
    // BEFORE the shuffle (the window world's map-side combine)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
    assert(plan.toLowerCase.contains("partial"), s"expected a Partial group-limit in:\n$plan")
    // driver-side recompute: per-user max by (us, event_id)
    val evs = Tables(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000"), col("event_id"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getDouble(4)))
    val want = evs.groupBy(_._1).map { case (u, rows) =>
      val top = rows.maxBy(r => (r._2, r._3))
      u -> (top._2, top._3, top._4, top._5)
    }
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getDouble(4))).toMap
    assert(got === want)
    assert(got.size === evs.map(_._1).distinct.length) // exactly one row per key
  }

  test("anti_join: SMJ LeftAnti over the pre-distinct key side; set-difference exact") {
    val df = graft.queries.RelationalQueries.antiJoin(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"),
      s"expected SortMergeJoin LeftAnti in:\n$plan")
    val allCust = Tables(spark, dir, "customer")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val withUrgent = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey").collect().map(_.getLong(0)).toSet
    val got = df.select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(got === (allCust -- withUrgent))
    assert(got.nonEmpty, "some customers must lack an urgent order; empty means a broken join")
    assert(got.size < allCust.size, "degenerate: nobody has an urgent order")
    assert(df.columns.toSeq === Seq("c_custkey", "c_name", "c_mktsegment"))
  }

  test("semi_join: SMJ LeftSemi; semi and anti exactly partition the customer table") {
    val semi = graft.queries.RelationalQueries.semiJoin(spark, dir)
    val plan = semi.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && plan.contains("LeftSemi"),
      s"expected SortMergeJoin LeftSemi in:\n$plan")
    val semiKeys = semi.select("c_custkey").collect().map(_.getLong(0)).toSet
    val antiKeys = graft.queries.RelationalQueries.antiJoin(spark, dir)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val allCust = Tables(spark, dir, "customer")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    // same predicate on both queries -> exact partition, no overlap, no loss
    assert((semiKeys & antiKeys).isEmpty)
    assert((semiKeys ++ antiKeys) === allCust)
    assert(semiKeys.nonEmpty && antiKeys.nonEmpty)
  }

  test("outlier_events: flagged set equals a driver-side exact 3-sigma recompute") {
    val ev = Tables(spark, dir, "events")
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byType = ev.groupBy(_._2)
    val expected = ev.filter { case (_, t, v) =>
      val vs = byType(t).map(x => math.round(x._3 * 100)) // exact integer cents
      val (n, s) = (vs.length.toLong, vs.sum)
      val s2 = vs.map(c => c * c).sum
      val d = (n * math.round(v * 100) - s).toDouble
      d * d > 9.0 * (n.toDouble * s2.toDouble - s.toDouble * s.toDouble)
    }.map(_._1).toSet
    val got = graft.queries.RelationalQueries.outlierEvents(spark, dir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === expected)
    assert(got.nonEmpty, "a 10k-event corpus with no 3-sigma outlier means a broken filter")
    assert(got.size < ev.length / 50, "more than 2% outliers at 3 sigma means a broken filter")
  }

  test("cooc_pmi: lift re-derives exactly from wordcount counts; ordered top-100") {
    val rows = graft.queries.TextQueries.coocPmi(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length === 100)
    // ranking is total: lift desc, then (w1, w2)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 > b._4 || (a._4 == b._4 && (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))))
    case _ => ()
    }
    val uni = graft.queries.TextQueries.wordcount(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = uni.values.sum
    rows.foreach { case (w1, w2, c12, lift) =>
      assert(c12 >= 5, s"hapax guard violated: ($w1,$w2) c12=$c12")
      // same integer products, same IEEE-754 division -> exact equality
      assert(lift === (c12 * total).toDouble / (uni(w1) * uni(w2)).toDouble,
        s"lift of ($w1,$w2) does not re-derive from unigram counts")
    }
  }

  test("fuzzy_dedup: equals brute-force in-block pairs; support counts exact") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = Tables(spark, dir, "part").groupBy(col("p_name"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- names.keys; b <- names.keys
      if a < b && a.split(" ").last == b.split(" ").last && lev(a, b) <= 2
    } yield (a, b, lev(a, b).toLong, names(a), names(b))).toSet
    val got = graft.queries.DedupQueries.fuzzyDedup(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === expected)
    assert(got.nonEmpty && got.forall { case (_, _, d, _, _) => d >= 1 && d <= 2 })
  }

  test("profile_table: one-pass Expand plan; per-column profile matches direct computation") {
    val df = graft.queries.RelationalQueries.profileTable(spark, dir)
    // one scan: the 6 exact distincts must share a single Expand pass,
    // not plan 6 separate aggregations
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"expected multi-distinct Expand in:\n$plan")
    assert("(?s)Scan parquet".r.findAllIn(plan).length === 1,
      s"expected exactly one scan in:\n$plan")

    val e = Tables(spark, dir, "events")
      .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val n = e.count()
    val got = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === Set("event_id", "ts_us", "user_id", "event_type", "value", "props"))
    got.foreach { case (c, (nNull, nDistinct)) =>
      val direct = e.agg(
        (count(lit(1)) - count(col(c))).as("nn"),
        countDistinct(col(c)).as("nd")).collect()(0)
      assert((nNull, nDistinct) === (direct.getLong(0), direct.getLong(1)), s"column $c")
      assert(nDistinct <= n - nNull)
    }
    assert(got("event_id")._2 === n, "event_id must be unique")
  }

  test("hourly_gapfill: contiguous spine, gaps zero-filled, revenue carried forward") {
    val rows = graft.queries.RelationalQueries.hourlyGapfill(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    assert(rows.exists(_._4), "sf0.001 high-value stream must have real gaps")

    // driver-side recompute of the observed buckets
    val obs = Tables(spark, dir, "events")
      .filter(col("value") > 99.0)
      .select(col("event_type"), expr("ts div 3600000000000").as("hr"),
        round(col("value") * 100).cast("long").as("c2")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(t => (t._1, t._2))
      .map { case (k, vs) => k -> (vs.length.toLong, vs.map(_._3).sum) }

    rows.groupBy(_._1).foreach { case (tpe, trows) =>
      val hrs = trows.map(_._2).sorted
      // spine: every hour between the observed min and max, exactly once
      val lo = obs.keys.filter(_._1 == tpe).map(_._2).min
      val hi = obs.keys.filter(_._1 == tpe).map(_._2).max
      assert(hrs.sameElements(lo to hi), s"$tpe spine not contiguous")
      var carried = 0L
      trows.sortBy(_._2).foreach { case (_, hr, n, isGap, lastSv) =>
        obs.get((tpe, hr)) match {
          case Some((cnt, sv)) =>
            assert(!isGap && n === cnt, s"$tpe@$hr")
            carried = sv
          case None =>
            assert(isGap && n === 0L, s"$tpe@$hr expected zero-filled gap")
        }
        assert(lastSv === carried / 100.0, s"$tpe@$hr ffill")
      }
    }
  }

  test("corpus_keep: first-fail reasons, dedup decided pre-mix, eval never kept") {
    import graft.queries.{DedupQueries, PipelineQueries, TextQueries}
    val rows = PipelineQueries.corpusKeep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getString(3)))
    val reason = rows.map(r => r._1 -> r._2).toMap
    assert(rows.nonEmpty)
    assert(rows.map(_._2).distinct.length >= 3, "degenerate stage distribution")

    // eval holdout: an eval doc is 'eval' or dropped EARLIER — never kept,
    // never attributed to a post-eval stage (decontaminate excludes eval)
    val evalStages = Set("quality", "lang", "repetition", "exact_dup", "near_dup", "eval")
    rows.filter(_._1 % DedupQueries.EvalMod == 0).foreach { case (id, rs, kept, _) =>
      assert(evalStages.contains(rs) && !kept, s"eval doc $id got '$rs'")
    }

    // dedup decided on the FULL corpus, before mix: any doc that reaches a
    // post-dedup stage is its exact-hash keeper AND its cluster canonical
    val canon = DedupQueries.dedupCluster(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val postDedup = Set("eval", "contaminated", "mix", "keep")
    rows.filter(r => postDedup.contains(r._2)).foreach { case (id, rs, _, _) =>
      assert(canon(id)._2, s"non-canonical doc $id reached '$rs'")
    }
    // and a cluster whose canonical was dropped later promotes NOBODY
    val byCluster = rows.groupBy(r => canon(r._1)._1).filter(_._2.length > 1)
    byCluster.foreach { case (c, members) =>
      if (postDedup.contains(reason(c)) && reason(c) != "keep")
        assert(members.forall(!_._3), s"cluster $c promoted a member after its canonical dropped")
    }

    // kept docs pass every stage predicate (cross-check vs the components)
    val kept = rows.filter(_._3)
    assert(kept.nonEmpty)
    val scores = TextQueries.qualityScore(spark, dir)
      .select(col("doc_id"), col("score"), col("stop_ratio")).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val ttf = TextQueries.repetitionScore(spark, dir)
      .select(col("doc_id"), col("top_token_frac")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mixOk = TextQueries.domainMix(spark, dir).collect().map(_.getLong(0)).toSet
    val splitOf = TextQueries.dataSplit(spark, dir)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val contaminated = DedupQueries.decontaminate(spark, dir)
      .collect().filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    kept.foreach { case (id, _, _, sp) =>
      assert(scores(id)._1 >= PipelineQueries.QMin && scores(id)._2 >= PipelineQueries.LangMinStop)
      assert(ttf(id) <= PipelineQueries.RepMax)
      assert(id % DedupQueries.EvalMod != 0 && !contaminated.contains(id))
      assert(mixOk.contains(id), s"kept doc $id not a mix survivor")
      assert(sp == splitOf(id), s"kept doc $id split mismatch")
    }
    // first-fail attribution: a 'mix' doc passed every earlier stage
    rows.filter(_._2 == "mix").foreach { case (id, _, _, _) =>
      assert(scores(id)._1 >= PipelineQueries.QMin && ttf(id) <= PipelineQueries.RepMax
        && canon(id)._2 && !contaminated.contains(id) && !mixOk.contains(id))
    }
    // dropped docs carry the 'none' split sentinel
    rows.filterNot(_._3).foreach { case (_, _, _, sp) => assert(sp == "none") }
  }

  test("retention_cohorts: equals a driver-side recompute; cohort invariants hold") {
    val act = Tables(spark, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val cohortOf = act.groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).min }
    val expected = act.groupBy { case (u, d) => (cohortOf(u), d - cohortOf(u)) }
      .map { case (k, rows) => k -> rows.length.toLong }
    val got = graft.queries.RelationalQueries.retentionCohorts(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected)
    // every user lands in exactly one cohort, and appears at offset 0
    assert(got.filter(_._1._2 == 0L).values.sum === cohortOf.size.toLong)
    // retention at any offset cannot exceed the cohort's day-0 size
    got.foreach { case ((c, off), n) =>
      assert(n <= got((c, 0L)), s"cohort $c offset $off retained $n > day-0 size")
    }
  }

  test("active_users: DAU/WAU equal a driver-side recompute; window invariants hold") {
    val act = Tables(spark, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val (dmin, dmax) = (act.map(_._2).min, act.map(_._2).max)
    val got = graft.queries.RelationalQueries.activeUsers(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === (dmin to dmax).toSet, "spine must densify the full span")
    (dmin to dmax).foreach { day =>
      val dau = act.count(_._2 == day).toLong
      val wau = act.filter(a => a._2 >= day - 6 && a._2 <= day).map(_._1).distinct.length.toLong
      assert(got(day) === ((dau, wau)), s"day $day")
      assert(wau >= dau, s"day $day: WAU below DAU")
    }
    // the naive windowed-sum-of-daily-distincts OVERCOUNTS whenever any user
    // is active on 2+ days of one window — pin that this corpus exercises
    // the distinction (otherwise the test can't tell the two queries apart)
    val naive = (dmin to dmax).map(day => act.count(a => a._2 >= day - 6 && a._2 <= day).toLong)
    assert((dmin to dmax).exists(day => naive((day - dmin).toInt) > got(day)._2),
      "corpus never distinguishes rolling-distinct from windowed sum; test is vacuous")
  }

  test("corr_stats: corr and slope re-derive exactly from integer cross-moments") {
    val ev = Tables(spark, dir, "events")
      .select(col("event_type"), expr("(ts div 3600000000000) % 24"),
        round(col("value") * 100).cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = graft.queries.RelationalQueries.corrStats(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet === ev.map(_._1).toSet)
    ev.groupBy(_._1).foreach { case (t, rows) =>
      val n = rows.length.toLong
      val (sx, sy) = (rows.map(_._2).sum, rows.map(_._3).sum)
      val sxy = rows.map(r => r._2 * r._3).sum
      val (sx2, sy2) = (rows.map(r => r._2 * r._2).sum, rows.map(r => r._3 * r._3).sum)
      // the exact expression tree the query (and oracle) evaluate
      val cov = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
      val vx = n.toDouble * sx2.toDouble - sx.toDouble * sx.toDouble
      val vy = n.toDouble * sy2.toDouble - sy.toDouble * sy.toDouble
      val (gn, gc, gs) = got(t)
      assert(gn === n)
      assert(gc === cov / math.sqrt(vx * vy), s"corr of $t does not re-derive")
      assert(gs === cov / vx, s"slope of $t does not re-derive")
      assert(math.abs(gc) <= 1.0 + 1e-12, s"corr of $t outside [-1,1]")
    }
  }

  test("key_skew: profile re-derives from driver-side key counts; p99 from histogram") {
    val got = graft.queries.RelationalQueries.keySkew(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    assert(got.keySet === Set("lineitem.l_orderkey", "events.user_id", "documents.source"))
    Seq(("lineitem", "l_orderkey"), ("events", "user_id"), ("documents", "source"))
      .foreach { case (rel, key) =>
        val counts = Tables(spark, dir, rel)
          .groupBy(col(key).cast("string")).agg(count(lit(1))).collect()
          .map(_.getLong(1))
        val (nRows, nKeys, maxCnt) = (counts.sum, counts.length.toLong, counts.max)
        // exact p99 from the count-of-counts histogram, ascending cumulative
        val hist = counts.groupBy(identity).view.mapValues(_.length.toLong).toSeq.sortBy(_._1)
        val cum = hist.scanLeft(0L)(_ + _._2).tail
        val p99 = hist.zip(cum).collectFirst { case ((c, _), cm) if cm * 100 >= nKeys * 99 => c }.get
        val (gr, gk, gm, gp, gs, gt) = got(s"$rel.$key")
        assert((gr, gk, gm, gp) === ((nRows, nKeys, maxCnt, p99)), s"$rel.$key facts")
        assert(gs === maxCnt.toDouble * nKeys.toDouble / nRows.toDouble, s"$rel.$key skew_ratio")
        assert(gt === maxCnt.toDouble / nRows.toDouble, s"$rel.$key top_share")
        assert(gs >= 1.0 - 1e-12, s"$rel.$key: max below mean is impossible")
      }
  }

  test("reconcile_totals: FULL OUTER SortMergeJoin; classes re-derive driver-side") {
    val df = graft.queries.RelationalQueries.reconcileTotals(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"),
      s"expected full-outer SMJ in:\n$plan")
    // per-row c6 values come from Spark expressions (identical rounding),
    // the reconciliation logic itself re-derives in plain Scala
    val det = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax")) * 1000000).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val hdr = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long") * 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val classified = (det.keySet ++ hdr.keySet).toSeq.map { k =>
      val status = (hdr.get(k), det.get(k)) match {
        case (None, _)                  => "detail_only"
        case (_, None)                  => "header_only"
        case (Some(h), Some(d)) if h == d => "match"
        case _                          => "mismatch"
      }
      (k, status, math.abs(det.getOrElse(k, 0L) - hdr.getOrElse(k, 0L)))
    }
    val expected = classified.groupBy(_._2).map { case (s, rows) =>
      s -> ((rows.length.toLong, rows.map(_._3).sum / 1000000.0, rows.map(_._1).min))
    }
    val got = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got === expected)
    // the corpus must exercise at least two classes or the test is vacuous
    assert(got.size >= 2, s"only classes ${got.keySet} present; reconciliation untested")
  }

  test("decontaminate_bloom: identical to exact decontaminate; filter actually prunes") {
    import graft.queries.DedupQueries
    val exact = DedupQueries.decontaminate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    val bloom = DedupQueries.decontaminateBloom(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sorted
    assert(bloom === exact, "Bloom pre-filter changed the result — lost a true match")
    assert(exact.exists(_._3), "no contaminated docs — losslessness untested")
    // the filter must do real work: most train shingle rows are killed
    // scan-locally before the join (eval set ~1/37 of docs + 1% FPP)
    val trainRows = DedupQueries.shinglePairs(spark, dir)
      .filter(col("doc_id") % DedupQueries.EvalMod =!= 0)
    val total = trainRows.count()
    val survivors = trainRows
      .filter(graft.functions.BloomFns.mightContain(
        DedupQueries.evalBloomBytes(spark, dir), col("h")))
      .count()
    assert(survivors < total / 2,
      s"Bloom filter passed $survivors of $total train shingle rows — not pruning")
    assert(survivors > 0, "Bloom filter killed everything — overlap rows can't exist")
  }

  test("regional_revenue: one fact-fact SMJ, all dims broadcast; values re-derive") {
    import graft.queries.RelationalQueries
    val df = RelationalQueries.regionalRevenue(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"fact-fact spine must be an SMJ:\n$plan")
    assert("SortMergeJoin".r.findAllIn(plan).size === 1,
      "exactly ONE SMJ — every dimension must broadcast, not shuffle")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"customer/supplier/nation dims must attach as broadcast joins:\n$plan")
    // values re-derive driver-side from the raw tables (same c4 rounding)
    val ordYear = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")))
      .collect().filter(r => r.getInt(2) >= RelationalQueries.RevenueYearLo &&
        r.getInt(2) <= RelationalQueries.RevenueYearHi)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val custNat = Tables(spark, dir, "customer")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val suppNat = Tables(spark, dir, "supplier")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val regionKeys = Tables(spark, dir, "region")
      .collect().filter(_.getString(1) == RelationalQueries.RevenueRegion)
      .map(_.getInt(0)).toSet
    val natName = Tables(spark, dir, "nation")
      .collect().filter(r => regionKeys(r.getInt(2)))
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val items = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        round((col("l_extendedprice") * (lit(1) - col("l_discount"))) * 10000).cast("long"))
      .collect().flatMap { r =>
        for {
          cust <- ordYear.get(r.getLong(0))
          cn <- custNat.get(cust); sn <- suppNat.get(r.getLong(1))
          if cn == sn
          name <- natName.get(sn)
        } yield (name, r.getLong(2))
      }
    val expected = items.groupBy(_._1).map { case (n, rs) =>
      n -> ((rs.map(_._2).sum / 10000.0, rs.length.toLong))
    }
    val got = df.collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got === expected)
    assert(got.nonEmpty, "no qualifying revenue rows — query untested")
  }

  test("approx_topk: bounds bracket exact counts; top exact word retained") {
    import graft.queries.TextQueries
    val exact = TextQueries.wordcount(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = TextQueries.approxTopK(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (w, est, lb, ub) =>
      assert(lb <= est && est <= ub, s"$w: est $est outside [$lb, $ub]")
      assert(lb <= exact(w) && exact(w) <= ub,
        s"$w: exact ${exact(w)} outside sketch bounds [$lb, $ub]")
    }
    val topExact = exact.maxBy { case (w, n) => (n, w) }._1
    assert(rows.exists(_._1 == topExact), s"heaviest word $topExact not retained")
  }

  test("freq_items sketch under saturation: no false negatives, bounded state") {
    import spark.implicits._
    // 40 hot items x 2000 + 50k singleton tail, map of 64 slots: the
    // sketch MUST saturate, so this exercises the approximate regime the
    // tiny corpus vocabulary (~31 words) never reaches
    val hot = (0 until 40).flatMap(i => Seq.fill(2000)(s"hot_$i"))
    val tail = (0 until 50000).map(i => s"tail_$i")
    val df = (hot ++ tail).toDF("item").repartition(8)
    val out = df.agg(graft.functions.FreqItemsAgg(col("item"), 64).as("fi"))
      .select(explode(col("fi")).as("f"))
      .select(col("f.item"), col("f.estimate"), col("f.lb"), col("f.ub"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val truth = (hot ++ tail).groupBy(identity).view.mapValues(_.size.toLong).toMap
    // bounded state: retained items can never exceed the map capacity
    assert(out.length <= 64, s"${out.length} retained items from a 64-slot map")
    val maxErr = out.map(r => r._2 - r._3).max
    assert(maxErr > 0, "sketch did not saturate — the test corpus is too small")
    // the NO_FALSE_NEGATIVES contract: every item with true count above
    // the error bound is retained, whatever the partition merge order did
    val retained = out.map(_._1).toSet
    truth.filter(_._2 > maxErr).keys.foreach { w =>
      assert(retained(w), s"$w (true ${truth(w)} > err $maxErr) lost by the sketch")
    }
    out.foreach { case (w, _, lb, ub) =>
      assert(lb <= truth(w) && truth(w) <= ub,
        s"$w: true ${truth(w)} outside [$lb, $ub]")
    }
  }

  test("peak_concurrency: day-partitioned prefix sums equal a global driver sweep") {
    import graft.queries.RelationalQueries
    val dayUs = 86400000000L
    val ts = Tables(spark, dir, "events")
      .select(expr("ts div 1000")).collect().map(_.getLong(0))
    // the decomposition's carry path is only exercised if some presence
    // interval crosses a midnight boundary — assert the corpus has one
    assert(ts.exists(t => t / dayUs != (t + RelationalQueries.PresenceUs) / dayUs),
      "no presence spans a day boundary — cross-day carry untested")
    val deltas = (ts.map(t => (t, 1L)) ++
      ts.map(t => (t + RelationalQueries.PresenceUs, -1L))).sorted
    var run = 0L
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    deltas.foreach { case (t, d) =>
      run += d
      val day = t / dayUs
      expected(day) = math.max(expected.getOrElse(day, Long.MinValue), run)
    }
    val got = RelationalQueries.peakConcurrency(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected.toMap)
    assert(got.size > 1, "single-day corpus — the day decomposition is vacuous")
  }

  test("funnel_conversion: monotone step counts; anchors re-derive driver-side") {
    import graft.queries.RelationalQueries
    val gap = RelationalQueries.FunnelStepGapUs
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"), expr("ts div 1000"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def anchors(step: String, prev: Map[Long, Long]): Map[Long, Long] =
      ev.filter(_._2 == step)
        .filter { case (u, _, t) =>
          prev.get(u).exists(p => t > p && t <= p + gap) }
        .groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val s1 = ev.filter(_._2 == "view").groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    val s2 = anchors("click", s1)
    val s3 = anchors("purchase", s2)
    val got = RelationalQueries.funnelConversion(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "step1_view" -> s1.size.toLong,
      "step2_click" -> s2.size.toLong,
      "step3_purchase" -> s3.size.toLong))
    assert(s1.size > s2.size && s2.size >= s3.size && s3.nonEmpty,
      s"funnel ${s1.size}/${s2.size}/${s3.size} shows no attrition or no conversions")
    // strict ordering semantics: step users are subsets of the previous step
    assert(s2.keySet.subsetOf(s1.keySet) && s3.keySet.subsetOf(s2.keySet))
  }

  test("split_drift: per-bucket chi-square table re-derives; totals partition the corpus") {
    import graft.queries.TextQueries
    val rows = TextQueries.splitDrift(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    // re-derive from the split assignment + token counts
    val split = TextQueries.dataSplit(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val toks = Tables.docs(spark, dir)
      .select(col("doc_id"), size(graft.functions.TextFns.tokens(col("text"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byBucket = toks.filter { case (id, _) => split(id) != "val" }
      .groupBy { case (_, n) =>
        math.min(n / TextQueries.DriftBucketWidth, TextQueries.DriftBuckets - 1) }
    val aTot = byBucket.values.flatten.count { case (id, _) => split(id) == "train" }.toLong
    val bTot = byBucket.values.flatten.count { case (id, _) => split(id) == "test" }.toLong
    rows.foreach { case (bucket, a, b, contrib) =>
      val docsIn = byBucket(bucket)
      assert(a === docsIn.count { case (id, _) => split(id) == "train" }.toLong)
      assert(b === docsIn.count { case (id, _) => split(id) == "test" }.toLong)
      val u = a.toDouble * bTot - b.toDouble * aTot
      assert(contrib === u * u / (aTot.toDouble * bTot * (a + b)),
        s"bucket $bucket contrib mismatch")
    }
    assert(rows.map(_._2).sum === aTot && rows.map(_._3).sum === bTot,
      "bucket counts must partition the non-val corpus")
    // a hash split is independent of content: total drift stays far below
    // the chi2 critical value at alpha=0.001 for df<=19 (43.8)
    assert(rows.map(_._4).sum < 43.8, s"hash split drifted: chi2=${rows.map(_._4).sum}")
  }

  test("media_framesample: frames re-derive from payload bytes; stride respected") {
    import graft.queries.MultimodalQueries
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"$x%02x").mkString
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var h = 0L
      (0 until 8).foreach(j => h = (h << 8) | (d(j) & 0xffL))
      h >>> 4
    }
    val docs = Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8"))
    val want = docs.flatMap { case (d, bytes) =>
      val n = 1 + bytes.length / graft.operators.MediaDecode.FrameBytes
      (0 until n by MultimodalQueries.FrameStride)
        .map(i => (d, i.toLong, h60(s"${md5hex(bytes)}:$i")))
    }.toSet
    val got = MultimodalQueries.mediaFramesample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    // stride drops the odd frames: multi-frame docs exist and no odd index
    assert(got.exists(_._2 > 0L), "vacuous: every payload single-frame")
    assert(!got.exists(_._2 % 2 == 1L), "stride 2 must skip odd frames")
  }

  test("chunk_docs: stride grid tiles every tokenized doc exactly") {
    import graft.queries.TextQueries
    val w = TextQueries.ChunkTokens
    val s = TextQueries.ChunkStride
    val nTok = Tables.docs(spark, dir)
      .select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = TextQueries.chunkDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(chunks.map(_._1).toSet === nTok.keySet, "every tokenized doc chunks")
    chunks.groupBy(_._1).foreach { case (d, cs) =>
      val n = nTok(d)
      assert(cs.map(_._2).sorted.toSeq === (0L until ((n - 1) / s + 1)).toSeq,
        s"doc $d: chunk grid wrong")
      cs.foreach { case (_, k, start, len) =>
        assert(start === k * s)
        assert(len === math.min(w.toLong, n - start),
          s"doc $d chunk $k: length $len for n=$n")
      }
    }
    // overlap actually exercised: multi-chunk docs exist (sf0.001 docs are
    // short of two FULL widths, so the trailing-partial rule is what the
    // second chunk pins here)
    assert(chunks.exists(_._2 > 0), "vacuous: no multi-chunk doc")
  }

  test("shard_manifest: shards partition the corpus; duplicate texts co-shard") {
    import spark.implicits._
    import graft.queries.PipelineQueries
    val m = PipelineQueries.shardManifest(spark, dir).collect()
    val total = Tables.docs(spark, dir).count()
    assert(m.map(_.getLong(1)).sum === total, "shard doc counts must partition the corpus")
    assert(m.map(_.getLong(0)).distinct.length === m.length)
    // content-keyed assignment on a CRAFTED corpus with duplicates (the
    // driver corpus has near-dups but no byte-identical texts): the two
    // copies must land in one shard, and their fingerprints XOR out of
    // that shard's checksum (a XOR a = 0)
    val tmp = tempDir("graft-shard").toString
    Seq((1L, "the same text"), (2L, "the same text"), (3L, "another text"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val crafted = PipelineQueries.shardManifest(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    val dupShard = crafted.filter(_._2._1 == 2L)
    val lonely = crafted.filter(_._2._1 == 1L)
    assert(dupShard.size === 1 && lonely.size <= 1,
      s"duplicates must co-shard: $crafted")
    assert(dupShard.head._2._2 === 0L,
      "two identical fingerprints must XOR to a zero checksum")
  }

  test("media_neardup: truncated copy overlaps 1.0; disjoint payloads absent") {
    import spark.implicits._
    import graft.queries.MultimodalQueries
    val tmp = tempDir("graft-media").toString
    // 64-byte chunk grid: A = 3 distinct chunks, B = A truncated to 2 of
    // them (the torn-download copy), C = disjoint content
    val a = ("a" * 64) + ("b" * 64) + ("c" * 64)
    val b = a.substring(0, 128)
    val c = "z" * 200
    Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = MultimodalQueries.mediaNeardup(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // B's whole chunk set is inside A: overlap = 2/min(3,2) = 1.0; C never pairs
    assert(got === Map((1L, 2L) -> ((2L, 3L, 2L, 1.0))))
  }

  test("media_resize: stage output bytes equal driver-side truncation; passthrough intact") {
    import graft.queries.MultimodalQueries
    val target = MultimodalQueries.ResizeBytes
    val base = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val staged = graft.operators.MediaDecode.withResized(base, "payload", target)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)))
    assert(staged.nonEmpty)
    staged.foreach { case (id, payload, resized) =>
      val want =
        if (payload.length <= target) payload
        else java.util.Arrays.copyOfRange(payload, 0, target)
      assert(java.util.Arrays.equals(resized, want), s"doc $id bytes differ")
    }
    // both branches non-vacuous on this corpus
    assert(staged.exists(_._2.length > target), "vacuous: nothing above target")
    assert(staged.exists(_._2.length <= target), "vacuous: nothing passes through")
  }

  test("multimodal decode: NULL payload -> NULL metadata (SQL null propagation)") {
    import graft.operators.MediaDecode
    import spark.implicits._
    val df = Seq((1L, Some("bytes")), (2L, None)).toDF("doc_id", "s")
      .select(col("doc_id"), col("s").cast("binary").as("payload"))
    val out = MediaDecode.withMetadata(df, "payload")
      .select(col("doc_id"), col("media_meta")).orderBy("doc_id").collect()
    assert(out(0).getStruct(1) != null)
    assert(out(1).isNullAt(1), "null payload must yield null media_meta, not NPE")
  }

  test("grouping_sets: one Expand pass; declared levels mutually consistent") {
    val df = graft.queries.RelationalQueries.groupingSetsAgg(spark, dir)
    // the scale property: ONE Expand + hash aggregate, not one scan per level
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"expected Expand in:\n$plan")
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // exactly the 3 declared levels, tagged by grouping_id (event_type is
    // the leftmost grouping column = most significant bit)
    val detail = rows.filter(_._3 == 0L) // (event_type, day)
    val byType = rows.filter(_._3 == 1L) // day rolled up
    val byDay = rows.filter(_._3 == 2L)  // event_type rolled up
    assert(rows.map(_._3).toSet === Set(0L, 1L, 2L), "exactly the 3 declared sets")
    // no grand-total level: that's the set rollup/cube can't express
    assert(!rows.exists(r => r._1 == "ALL" && r._2 == "ALL"))
    // sentinel placement follows the rolled-up bit
    assert(byType.forall(_._2 == "ALL") && byDay.forall(_._1 == "ALL"))
    assert(detail.forall(r => r._1 != "ALL" && r._2 != "ALL"))
    // each marginal is the exact contraction of the detail level
    val detailByType = detail.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val detailByDay = detail.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    assert(byType.map(r => r._1 -> r._4).toMap === detailByType)
    assert(byDay.map(r => r._2 -> r._4).toMap === detailByDay)
    // and the detail level accounts for every event exactly once
    assert(detail.map(_._4).sum === Tables(spark, dir, "events").count())
  }

  test("scd2_history: one shuffle; runs tile each user's stream exactly") {
    val df = graft.queries.RelationalQueries.scd2History(spark, dir)
    // the scale property: both windows share ONE user-keyed exchange
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$plan")
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // driver-side recompute: run-length encode each user's ordered stream
    val evs = Tables(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val want = evs.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val ordered = es.sortBy(e => (e._2, e._3))
      val starts = ordered.zipWithIndex.filter { case (e, i) =>
        i == 0 || ordered(i - 1)._4 != e._4 }.map(_._1)
      starts.zipWithIndex.map { case (s, i) =>
        val to = if (i + 1 < starts.length) starts(i + 1)._2 else Long.MaxValue
        (u, s._4, s._2, to)
      }
    }.toSet
    assert(rows.toSet === want)
    assert(rows.length === rows.distinct.length)
    // intervals tile: per user, exactly one open run, starts == change points
    rows.groupBy(_._1).foreach { case (u, rs) =>
      assert(rs.count(_._4 == Long.MaxValue) == 1, s"user $u: open runs != 1")
      val sorted = rs.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 == b._3, s"user $u: gap/overlap at ${b._3}")
        case _ =>
      }
    }
  }

  test("transition_matrix: rows normalize to 1; counts equal a driver recompute") {
    val df = graft.queries.RelationalQueries.transitionMatrix(spark, dir)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val evs = Tables(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val want = evs.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val t = es.sortBy(e => (e._2, e._3)).map(_._4)
      t.zip(t.tail)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => (r._1, r._2) -> r._3).toMap === want)
    // each from-type's shares sum to exactly 1 (n/tot over exact BIGINTs)
    rows.groupBy(_._1).foreach { case (t, rs) =>
      val tot = rs.map(_._3).sum
      rs.foreach(r => assert(r._4 === r._3.toDouble / tot.toDouble))
      assert(math.abs(rs.map(_._4).sum - 1.0) < 1e-9, s"$t shares don't normalize")
    }
    // every transition's endpoints are observed event types
    val types = evs.map(_._4).toSet
    assert(rows.forall(r => types(r._1) && types(r._2)))
  }

  test("ewma_daily: equals a driver-side exact power-of-two-scaled recompute") {
    import graft.queries.RelationalQueries
    val bits = RelationalQueries.EwmaScaleBits
    val ev = Tables(spark, dir, "events")
      .select(col("event_type"), expr("ts div 86400000000000").as("d"),
        col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val dmax = ev.map(_._2).max
    val want = ev.groupBy(_._1).view.mapValues { rows =>
      val in = rows.filter(r => dmax - r._2 <= bits)
      val wN = in.map(r => 1L << (bits - (dmax - r._2)).toInt).sum
      val wC = in.map(r => math.round(r._3 * 100) * (1L << (bits - (dmax - r._2)).toInt)).sum
      (wN / (1L << bits).toDouble, wC / (1L << bits).toDouble / 100.0)
    }.toMap
    val got = RelationalQueries.ewmaDaily(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got === want) // exact: BIGINT sums + power-of-two divisions
    got.foreach { case (t, (effN, _)) =>
      val total = ev.count(_._1 == t).toDouble
      val today = ev.count(r => r._1 == t && r._2 == dmax).toDouble
      // decayed mass is bounded by the corpus and dominated by recency
      assert(effN <= total && effN >= today, s"$t: eff_n $effN outside [$today, $total]")
    }
  }

  test("anomaly_mad: flag set equals a driver-side exact median/MAD recompute") {
    val ev = Tables(spark, dir, "events")
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def rankSelect(sorted: Array[(Long, Long)]): Long = {
      // element at ceil(n/2) under (value, event_id) order — (v, id) pairs
      val n = sorted.length.toLong
      sorted(((n * 50 + 99) / 100 - 1).toInt)._1
    }
    val expected = ev.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val cents = rows.map(r => (math.round(r._3 * 100), r._1))
      val med = rankSelect(cents.sortBy(identity))
      val devs = cents.map { case (c, id) => (math.abs(c - med), id) }
      val mad = rankSelect(devs.sortBy(identity))
      rows.filter(r => math.abs(math.round(r._3 * 100) - med) > 3 * mad)
    }.map(_._1).toSet
    val got = graft.queries.RelationalQueries.anomalyMad(spark, dir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === expected)
    assert(got.nonEmpty, "no MAD outlier in a 10k-event corpus means a broken filter")
    // robustness sanity: the MAD rule flags a set that overlaps but need
    // not equal the 3-sigma set — both present means both tests are live
    val sigma = graft.queries.RelationalQueries.outlierEvents(spark, dir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert((got & sigma).nonEmpty, "MAD and sigma flag sets are disjoint: suspicious")
  }

  test("decile_stats: deciles partition each type; bounds monotone across deciles") {
    val df = graft.queries.RelationalQueries.decileStats(spark, dir)
    val rows = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val byType = Tables(spark, dir, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (t, rs) =>
      assert(rs.map(_._2).sorted.toSeq === (1L to 10L), s"$t: missing deciles")
      assert(rs.map(_._3).sum === byType(t), s"$t: deciles don't partition the type")
      // NTILE balance: bucket sizes differ by at most 1
      assert(rs.map(_._3).max - rs.map(_._3).min <= 1, s"$t: unbalanced deciles")
      // equal-frequency bins over a sorted axis: bounds non-decreasing
      val ordered = rs.sortBy(_._2)
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(a._5 <= b._4 + 1e-9, s"$t: bounds not monotone")
        case _ =>
      }
      ordered.foreach(r => assert(r._4 <= r._5))
    }
  }

  test("session_stats: no exchange beyond the window's; sessions reconcile with sessionize") {
    val df = graft.queries.RelationalQueries.sessionStats(spark, dir)
    // both windows AND the (user, session_idx) aggregate ride ONE
    // user-keyed exchange (hash partitioning on user_id clusters the
    // superset key, so EnsureRequirements adds nothing)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$plan")
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // reconciliation with sessionize: same gap rule -> same session counts
    val bySessionize = graft.queries.RelationalQueries.sessionize(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val byStats = rows.groupBy(_._1).view
      .mapValues(rs => (rs.map(_._2).max, rs.map(_._3).sum)).toMap
    assert(byStats === bySessionize,
      "session population/event totals disagree with sessionize")
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val idxs = rs.map(_._2).sorted
      assert(idxs.toSeq === (1L to idxs.length).toSeq, s"user $u: ordinals not dense")
    }
    // sessions are bounded by their events: duration = end - start >= 0,
    // and a 1-event session has zero duration
    rows.foreach { case (u, s, n, st, en, d) =>
      assert(d == en - st && d >= 0)
      if (n == 1L) assert(d == 0L, s"user $u session $s: 1 event but duration $d")
    }
  }

  test("band_join: bands partition the corpus; totals reconcile with distinct_count") {
    val df = graft.queries.RelationalQueries.bandJoin(spark, dir)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // disjoint bands covering (0, inf): every event lands exactly once
    assert(rows.map(_._2).sum === Tables(spark, dir, "events").count())
    // integer-cents totals across bands == the per-type totals' grand sum
    val totalCents = graft.queries.RelationalQueries.distinctCount(spark, dir)
      .collect().map(r => math.round(r.getDouble(3) * 100)).sum
    assert(rows.map(r => math.round(r._3 * 100)).sum === totalCents)
    assert(rows.length > 1, "degenerate: all events in one band")
  }

  test("interval_join: equals a driver-side recompute of per-error 1-hour windows") {
    import graft.queries.RelationalQueries
    val W = RelationalQueries.ImpactWindowUs
    val events = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    val byUser = events.groupBy(_._1)
    // unbucketed recompute: the bucket decomposition must not lose boundary
    // followers (window length == bucket width -> <= 2 covered buckets)
    val want = events.filter(_._3 == RelationalQueries.AnchorType)
      .map { case (u, eid, _, t0, _) =>
        val hits = byUser(u).filter(e => e._4 > t0 && e._4 <= t0 + W)
        eid -> (u, hits.length.toLong,
          hits.map(e => math.round(e._5 * 100)).sum / 100.0)
      }.toMap
    val got = graft.queries.RelationalQueries.intervalJoin(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(got === want)
    assert(got.values.exists(_._2 > 0L), "no error had any follower: broken join")
    assert(got.values.exists(_._2 == 0L),
      "every error had followers: window predicate probably not applied")
  }

  test("funnel_pairs: equals a driver-side recompute of 30-min followers at sf0.01") {
    import graft.queries.RelationalQueries
    val gap = RelationalQueries.FunnelGapUs
    val sf01 = sf("sf0.01")
    val events = Tables(spark, sf01, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = events.groupBy(_._1)
    val want = events.toSeq.flatMap { case (u, ea, ta) =>
      byUser(u).filter(b => b._3 > ta && b._3 <= ta + gap).map(b => (ea, b._2, u, b._3 - ta))
    }
    val got = RelationalQueries.funnelPairs(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.sorted === want.sorted)
    assert(got.nonEmpty, "no pair at all: broken sweep")
  }

  test("incremental_merge: merge(base, delta) equals the full latest_by_key recompute") {
    val merged = graft.queries.RelationalQueries.incrementalMerge(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSet
    val direct = graft.queries.RelationalQueries.latestByKey(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSet
    assert(merged === direct)
    // non-vacuous split: events exist on both sides of the cut (the
    // base-only / delta-only COALESCE paths are pinned on crafted streams
    // in EventEdgeSpec — the synthetic corpus has every user active in
    // both halves, so real data can't exercise them)
    val cut = {
      val ev = Tables(spark, dir, "events")
        .select(expr("ts div 86400000000000").as("d"))
        .agg(min("d").as("dmin"), max("d").as("dmax")).collect()(0)
      ((ev.getLong(0) + ev.getLong(1)) / 2 + 1) * 86400000000000L
    }
    val counts = Tables(spark, dir, "events")
      .agg(sum(when(col("ts") < cut, 1L).otherwise(0L)).as("nb"),
        sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("nd")).collect()(0)
    assert(counts.getLong(0) > 0, "vacuous: no events before the cut")
    assert(counts.getLong(1) > 0, "vacuous: no events after the cut")
  }

  test("first_touch: equals a driver-side recompute; zero-fill purchases survive") {
    import graft.queries.RelationalQueries
    val W = RelationalQueries.TouchWindowNs
    val events = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val touchesByUser = events
      .filter(e => RelationalQueries.TouchTypes.contains(e._4)).groupBy(_._1)
    val want = events.filter(_._4 == RelationalQueries.ConversionType)
      .map { case (u, t0, pid, _) =>
        val hits = touchesByUser.getOrElse(u, Array.empty)
          .filter(e => e._2 >= t0 - W && e._2 < t0)
        val first = if (hits.isEmpty) None
          else Some(hits.minBy(e => (e._2 / 1000, e._3)))
        pid -> ((u, first.map(e => (e._2 / 1000, e._3, e._4))))
      }.toMap
    val got = RelationalQueries.firstTouch(spark, dir).collect().map { r =>
      val f = if (r.isNullAt(2)) None
        else Some((r.getLong(2), r.getLong(3), r.getString(4)))
      r.getLong(0) -> ((r.getLong(1), f))
    }.toMap
    assert(got === want)
    assert(got.values.exists(_._2.isDefined), "no purchase had any touch: broken join")
    assert(got.values.exists(_._2.isEmpty),
      "every purchase attributed: window predicate probably not applied")
  }

  test("triangle_count: degree-ordered enumeration equals a brute-force recompute") {
    val edges = graft.queries.DedupQueries.dedupMinhash(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val verts = edges.flatMap(e => Seq(e._1, e._2))
    val deg = verts.map(v => v -> edges.count(e => e._1 == v || e._2 == v)).toMap
    val wedges = deg.values.map(d => d.toLong * (d - 1) / 2).sum
    val vs = verts.toSeq.sorted
    val tris = (for {
      i <- vs.indices; j <- (i + 1) until vs.length; k <- (j + 1) until vs.length
      if edges((vs(i), vs(j))) && edges((vs(j), vs(k))) && edges((vs(i), vs(k)))
    } yield 1).size.toLong
    val r = graft.queries.DedupQueries.triangleCount(spark, dir).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((verts.size.toLong, edges.size.toLong, wedges, tris)))
    assert(r.getDouble(4) === 3.0 * tris / wedges)
  }

  test("global_rank: bucket-decomposed rank equals the one-task global sort") {
    val got = graft.queries.RelationalQueries.globalRank(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = got.length.toLong
    // rank is a permutation of 1..N (no gaps, no dupes — the offsets and
    // per-bucket ranks compose exactly)
    assert(got.map(_._3).sorted.toSeq === (1L to n))
    // and matches the naive global sort the decomposition replaces
    val want = got.map(t => (t._1, t._2)).sortBy { case (eid, vc) => (-vc, eid) }
      .zipWithIndex.map { case ((eid, vc), i) => (eid, vc, i + 1L) }.toSet
    assert(got.toSet === want)
  }

  test("global_rank: sampled bounds are partitioning-invariant AND balance a skewed distribution") {
    // An exponential-ish value distribution is where bound SAMPLING earns
    // its keep: fixed-width buckets collapse ~all mass into bucket 0 (one
    // straggler task sorts everything) while sampled bounds split by
    // mass. The OUTPUT must be identical under both bucketings and equal
    // the driver-side sort — bucketing is a plan choice, never semantics.
    import graft.queries.RelationalQueries
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // vc ~ floor(exp(U·ln(5e5))): dense near 0, tail to ~500k cents
    val rows = Seq.tabulate(20000) { i =>
      (i.toLong, math.exp(rnd.nextDouble() * math.log(5e5)).toLong)
    }
    val ev = rows.toDF("event_id", "vc")
    def ranked(df: org.apache.spark.sql.DataFrame) =
      RelationalQueries.rankByBucket(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sampled = ranked(RelationalQueries.sampledRangeBuckets(ev))
    val fixed = ranked(RelationalQueries.fixedWidthBuckets(ev))
    val exact = rows.sortBy { case (eid, vc) => (-vc, eid) }
      .zipWithIndex.map { case ((eid, vc), i) => (eid, vc, i + 1L) }.toSet
    assert(sampled === exact, "sampled-bounds rank diverged from the exact sort")
    assert(fixed === exact, "fixed-width rank diverged from the exact sort")

    // balance: the biggest sampled bucket must hold at most the
    // irreducible duplicate mass (equal values MUST co-bucket under any
    // value-functional bucketing — the log-uniform fixture piles ~1k rows
    // on vc=1) plus a small multiple of the uniform share, while
    // fixed-width degenerates into a straggler bucket
    def maxBucket(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy("bkt").count().collect().map(_.getLong(1)).max
    val n = rows.length.toLong
    val uniform = n / RelationalQueries.RankBuckets
    val maxDup = rows.groupBy(_._2).map(_._2.size).max.toLong
    val maxSampled = maxBucket(RelationalQueries.sampledRangeBuckets(ev))
    val maxFixed = maxBucket(RelationalQueries.fixedWidthBuckets(ev))
    info(s"skewed 20k rows: max bucket sampled=$maxSampled " +
      s"(uniform share $uniform, biggest duplicate group $maxDup) fixed=$maxFixed")
    assert(maxSampled <= maxDup + 4 * uniform,
      s"sampled bounds failed to balance the skew: max bucket $maxSampled vs " +
        s"irreducible $maxDup + 4×uniform ${4 * uniform}")
    assert(maxFixed > n / 3,
      "the skew fixture no longer degenerates fixed-width buckets — pick a harsher distribution")
  }

  test("bpe_vocab: equals replaying the reference-trained merges; characters conserved") {
    import graft.queries.TextQueries
    // driver-side reference: train BpeRounds merges on the real corpus'
    // word counts with the textbook index-based greedy scan (the same
    // independent formulation TokenizerPropertySpec pins bpe_train with),
    // then tokenize and count
    val words = Tables(spark, dir, "documents").select("text").collect()
      .flatMap(_.getString(0).split("[^\\p{L}]+").filter(_.nonEmpty))
    val wc = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
    def applyGreedy(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]; var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += l + r; i += 2 }
        else { out += syms(i); i += 1 }
      }
      out.result()
    }
    var vocab = wc.toSeq.map { case (w, c) => (w.map(_.toString).toVector, c) }
    for (_ <- 1 to TextQueries.BpeRounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        (0 until syms.length - 1).foreach { i =>
          val k = (syms(i), syms(i + 1)); counts(k) = counts.getOrElse(k, 0L) + c
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), _) = counts.toSeq.minBy { case ((a, b), m) => (-m, a, b) }
        vocab = vocab.map { case (syms, c) => (applyGreedy(syms, l, r), c) }
      }
    }
    val want = vocab.flatMap { case (syms, c) => syms.map(_ -> c) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val got = TextQueries.bpeVocab(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    // BPE merges never create or destroy characters: Σ n·len(token) must
    // equal the corpus' total word characters
    assert(got.map { case (t, n) => n * t.length }.sum ===
      words.map(_.length.toLong).sum)
    assert(got.keys.exists(_.length >= 2), "no merged token surfaced — apply stage vacuous")
  }

  test("distributed_grep: counts equal a driver-side regex scan; misses dropped") {
    import graft.queries.TextQueries
    val docs = Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val re = TextQueries.GrepPattern.r
    val want = docs.map { case (d, t) => d -> re.findAllIn(t).length.toLong }
      .filter(_._2 > 0).toMap
    val got = TextQueries.distributedGrep(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === want)
    assert(want.nonEmpty, "vacuous: pattern matched nothing")
    assert(want.size < docs.length, "vacuous: pattern matched every document")
  }

  test("term_vector: per-source top-k re-derives from the tokenizer; ranks contiguous") {
    import graft.queries.TextQueries
    val rows = TextQueries.termVector(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val docs = Tables(spark, dir, "documents").select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val counts = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap(_._2.split("[^\\p{L}]+").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    }
    val want = counts.flatMap { case (s, m) =>
      m.toSeq.sortBy { case (w, c) => (-c, w) }.take(TextQueries.TermVecK)
        .zipWithIndex.map { case ((w, c), i) => (s, w, c, i + 1L) }
    }.toSet
    assert(rows.toSet === want)
    // every source present with exactly k rows, ranked 1..k
    counts.keys.foreach { s =>
      assert(rows.filter(_._1 == s).map(_._4).sorted.toSeq ===
        (1L to TextQueries.TermVecK.toLong), s"source $s ranks not contiguous")
    }
  }

  test("rare_bigram_rate: equals a driver-side bigram recompute; zero-fill present") {
    import graft.queries.TextQueries
    val docs = Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val bigrams = docs.map { case (d, t) =>
      d -> t.split("[^\\p{L}]+").filter(_.nonEmpty).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
    }
    val corpus = bigrams.flatMap(_._2).groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val want = bigrams.map { case (d, bs) =>
      val nRare = bs.count(b => corpus(b) < TextQueries.RareBigramMin).toLong
      val rate = if (bs.nonEmpty) nRare.toDouble / bs.length.toDouble else 0.0
      d -> ((bs.length.toLong, nRare, rate))
    }.toMap
    val got = TextQueries.rareBigramRate(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === want)
    assert(got.size === docs.length, "every document must appear (zero-fill)")
    assert(got.values.exists(_._2 > 0L), "vacuous: no rare bigrams in the corpus")
  }

  test("lexical_diversity: equals an exact driver-side Simpson recompute") {
    import graft.queries.TextQueries
    val docs = Tables(spark, dir, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val want = docs.map { case (d, t) =>
      val tf = t.split("[^\\p{L}]+").filter(_.nonEmpty)
        .groupBy(identity).map { case (_, xs) => xs.length.toLong }
      val n = tf.sum
      val s2 = tf.map(f => f * f).sum
      val simpson = if (n > 0) (n * n - s2).toDouble / (n * n).toDouble else 0.0
      d -> ((n, tf.size.toLong, simpson))
    }.toMap
    val got = TextQueries.lexicalDiversity(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === want)
    // Simpson is a probability; strictly below 1 for finite docs
    got.values.foreach { case (_, _, s) => assert(s >= 0.0 && s < 1.0) }
  }

  test("pareto_front: vocabulary-collapsed skyline equals the brute-force dominance scan") {
    val pts = Tables(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("vc"), col("ts"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = pts.filter { case (t, _, v, ts) =>
      !pts.exists { case (t2, _, v2, ts2) =>
        t2 == t && v2 >= v && ts2 >= ts && (v2 > v || ts2 > ts) }
    }.map(_._2).toSet
    val got = graft.queries.RelationalQueries.paretoFront(spark, dir)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(got === want)
    assert(got.nonEmpty && got.size < pts.length)
  }

  test("dup_ngram_coverage: fractions re-derive from the shared shingle index") {
    val pairs = graft.queries.DedupQueries.shinglePairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val df = pairs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val want = pairs.groupBy(_._1).map { case (d, hs) =>
      val n = hs.length.toLong
      val dup = hs.count(p => df(p._2) >= 2).toLong
      (d, n, dup, dup.toDouble / n)
    }.toSet
    val got = graft.queries.DedupQueries.dupNgramCoverage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
    assert(want.exists(_._3 > 0), "no duplicated shingle anywhere: vacuous")
    assert(want.exists(t => t._3 < t._2), "every shingle duplicated: vacuous")
  }

  test("pagerank: degrees re-derive from the pair graph; score mass is bounded") {
    val edges = graft.queries.DedupQueries.dedupMinhash(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val wantDeg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.queries.DedupQueries.pagerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(g => g._1 -> g._2).toMap === wantDeg)
    val S = graft.queries.DedupQueries.PrScale
    got.foreach { g =>
      // every score carries at least the damping base and the pr double
      // is exactly the scaled score over S (one IEEE division)
      assert(g._3 >= 15L * S / 100, s"doc ${g._1} below damping base")
      assert(g._4 === g._3.toDouble / S)
    }
    // floors only shed mass: total never exceeds the initial V·S
    assert(got.map(_._3).sum <= wantDeg.size.toLong * S)
  }

  test("chi2_keywords: re-derives from the tokenizer contingency table; over-represented only") {
    import graft.queries.TextQueries
    val rows = TextQueries.chi2Keywords(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    val toks = Tables(spark, dir, "documents").select("source", "text").collect()
      .flatMap(r => r.getString(1).split("[^\\p{L}]+").filter(_.nonEmpty)
        .map(w => (r.getString(0), w)))
    val st = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ta = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val sa = toks.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nn = toks.length.toLong
    def chi2(s: String, t: String): Option[Double] = {
      val a = st.getOrElse((s, t), 0L)
      if (a < TextQueries.Chi2MinCount) None else {
        val diff = a.toDouble * (nn - ta(t) - sa(s) + a).toDouble -
          (ta(t) - a).toDouble * (sa(s) - a).toDouble
        if (diff <= 0.0) None
        else Some(nn.toDouble * diff * diff /
          (ta(t).toDouble * (nn - ta(t)).toDouble *
            sa(s).toDouble * (nn - sa(s)).toDouble))
      }
    }
    val want = sa.keys.flatMap { s =>
      ta.keys.flatMap(t => chi2(s, t).map(x => (s, t, st((s, t)), x))).toSeq
        .sortBy { case (_, t, _, x) => (-x, t) }.take(TextQueries.Chi2K)
        .zipWithIndex.map { case ((src, t, c, x), i) => (src, t, c, x, i + 1L) }
    }.toSet
    assert(rows.toSet === want)
    rows.foreach { case (_, _, c, x, _) =>
      assert(c >= TextQueries.Chi2MinCount && x > 0.0) }
  }

  test("bpe_pairs: equals a driver-side recompute incl. in-word pair multiplicity") {
    import graft.queries.TextQueries
    val words = Tables(spark, dir, "documents").select("text").collect()
      .flatMap(_.getString(0).split("[^\\p{L}]+").filter(_.nonEmpty))
    val want = words.filter(_.length >= 2)
      .flatMap(w => w.sliding(2)) // sliding keeps duplicates: "aaa" -> aa, aa
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(TextQueries.BpeK)
      .zipWithIndex.map { case ((p, n), i) => (p, n, i + 1L) }
    val got = graft.queries.TextQueries.bpePairs(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3)
    assert(got.toSeq === want)
  }

  test("vocab_coverage: equals the tokenizer-derived greedy coverage curve; monotone in k") {
    import graft.queries.TextQueries
    val toks = Tables(spark, dir, "documents").select("text").collect()
      .flatMap(_.getString(0).split("[^\\p{L}]+").filter(_.nonEmpty))
    val ranked = toks.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (w, c) => (-c, w) }
    val total = toks.length.toLong
    val want = TextQueries.VocabSizes.map { k =>
      val take = ranked.take(k.toInt)
      (k, take.size.toLong, take.map(_._2).sum, total,
        take.map(_._2).sum.toDouble / total.toDouble)
    }.toSet
    val got = TextQueries.vocabCoverage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got === want)
    val byK = got.toSeq.sortBy(_._1)
    byK.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 <= b._3 && a._5 <= b._5, "coverage must be monotone in k")
    case _ => () }
  }

  test("pack_windows: offsets are the contiguous doc_id-order prefix sum; window math consistent") {
    import graft.queries.TextQueries
    val rows = TextQueries.packWindows(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    // contiguity: each doc starts exactly where the previous one ended
    rows.foldLeft(0L) { case (expectOff, (id, n, off, fw, lw, nw)) =>
      assert(off === expectOff, s"doc $id offset $off != running sum $expectOff")
      assert(fw === off / TextQueries.PackCap)
      assert(lw === (off + n - 1) / TextQueries.PackCap)
      assert(nw === lw - fw + 1 && nw >= 1)
      expectOff + n
    }
    // stream covers ceil(total/C) windows with no gaps
    val total = rows.map(_._2).sum
    assert(rows.last._5 === (total - 1) / TextQueries.PackCap)
  }

  test("path_topk: equals a driver-side sequence recompute; rank is dense and count-monotone") {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val want = ev.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (r._4, r._2)).map(_._3).sliding(3).filter(_.size == 3)
        .map(p => (p(0), p(1), p(2)))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }
      .take(graft.queries.RelationalQueries.PathTopK)
    val got = graft.queries.RelationalQueries.pathTopk(spark, dir).collect()
      .sortBy(_.getAs[Long]("rnk"))
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getAs[Long]("n")))
    assert(got.toSeq === want)
    val ranks = graft.queries.RelationalQueries.pathTopk(spark, dir)
      .collect().map(_.getAs[Long]("rnk")).sorted
    assert(ranks.toSeq === (1L to ranks.length).toSeq)
  }

  test("time_weighted_avg: equals a driver-side hold-until-next recompute") {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    val held = ev.groupBy(_._1).values.flatMap { rows =>
      val s = rows.sortBy(r => (r._4, r._2))
      s.zip(s.tail).map { case (a, b) => (a._3, a._5, (b._4 - a._4) / 1000000L) }
    }.toSeq
    val want = held.groupBy(_._1).view.mapValues { rs =>
      (rs.size.toLong, rs.map(_._3).sum, rs.map(r => r._2 * r._3).sum)
    }.toMap
    val got = graft.queries.RelationalQueries.timeWeightedAvg(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("weight_s"),
          r.getAs[Long]("wsum_cents"), r.getAs[Double]("twa_value")))
      .toMap
    assert(got.view.mapValues(v => (v._1, v._2, v._3)).toMap === want)
    got.foreach { case (_, (_, w, c, twa)) =>
      assert(twa === c.toDouble / w.toDouble / 100.0) }
  }

  test("set_ops_all: multiset results equal per-user min/surplus of the type counts") {
    val counts = Tables(spark, dir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id"), col("event_type")).count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val users = counts.keys.map(_._1).toSet
    def c(u: Long, t: String) = counts.getOrElse((u, t), 0L)
    val want = users.flatMap { u =>
      val (v, p) = (c(u, "view"), c(u, "purchase"))
      Seq(("views_minus_purchases", u, math.max(v - p, 0L)),
        ("min_views_purchases", u, math.min(v, p))).filter(_._3 > 0)
    }
    val got = graft.queries.RelationalQueries.setOpsAll(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
  }

  test("ohlc_daily: struct-extreme argmin/argmax equals first/last-by-time recompute") {
    val dayNs = 86400000000000L
    val ev = Tables(spark, dir, "events")
      .select(col("event_type"), expr(s"ts div $dayNs").as("d"),
        expr("ts div 1000").as("us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val want = ev.groupBy(e => (e._1, e._2)).view.mapValues { rows =>
      val s = rows.sortBy(r => (r._3, r._4))
      (rows.size.toLong, s.head._5, rows.map(_._5).max, rows.map(_._5).min,
        s.last._5)
    }.toMap
    val got = graft.queries.RelationalQueries.ohlcDaily(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    assert(got === want)
  }

  test("quantile_normalize: vocabulary-collapsed ranks equal the direct definition") {
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byType = ev.groupBy(_._2)
    val got = graft.queries.RelationalQueries.quantileNormalize(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(r.fieldIndex("pr")), r.getDouble(r.fieldIndex("cd"))))
      .toMap
    ev.foreach { case (id, t, c) =>
      val vals = byType(t).map(_._3)
      val below = vals.count(_ < c).toLong
      val upto = vals.count(_ <= c).toLong
      val n = vals.length.toLong
      assert(got(id) === ((below.toDouble / (n - 1).toDouble,
        upto.toDouble / n.toDouble)), s"event $id")
    }
  }

  test("basket_rules: supports/confidence/lift equal a driver-side basket recompute") {
    val dayNs = 86400000000000L
    val m = Tables(spark, dir, "events")
      .select(col("user_id"), expr(s"ts div $dayNs").as("d"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val baskets = m.groupBy(x => (x._1, x._2)).view
      .mapValues(_.map(_._3).toSet).values.toSeq
    val nb = baskets.size.toLong
    def supp(t: String) = baskets.count(_.contains(t)).toLong
    val got = graft.queries.RelationalQueries.basketRules(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(8))).toMap
    val types = m.map(_._3)
    for (a <- types; b <- types if a < b) {
      val ab = baskets.count(s => s.contains(a) && s.contains(b)).toLong
      if (ab > 0) {
        val (sab, sa, sb, n, lift) = got((a, b))
        assert((sab, sa, sb, n) === ((ab, supp(a), supp(b), nb)))
        assert(lift === (ab.toDouble * nb.toDouble) /
          (supp(a).toDouble * supp(b).toDouble))
      } else assert(!got.contains((a, b)))
    }
  }

  test("melt_measures: unpivot conserves row multiplicity and per-measure totals") {
    val li = Tables(spark, dir, "lineitem")
    val rows = li.count()
    val got = graft.queries.RelationalQueries.meltMeasures(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // every (flag, measure) cell carries exactly the flag's row count
    val flagCounts = li.groupBy(col("l_returnflag")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    flagCounts.foreach { case (f, n) =>
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").foreach { m =>
        assert(got((f, m))._1 === n, s"cell ($f, $m) lost rows") } }
    assert(got.values.map(_._1).sum === rows * 4)
    // per-measure totals equal the direct column sums (exact cents)
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").foreach { m =>
      val direct = li.agg(
        sum(round(col(m) * 100).cast("long"))).collect()(0).getLong(0)
      assert(got.collect { case ((_, `m`), (_, s)) => s }.sum === direct,
        s"measure $m total mismatch") }
  }

  test("user_journey: ordered sequence equals a driver-side recompute on any partitioning") {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val want = ev.groupBy(_._1).view.mapValues { rows =>
      val s = rows.sortBy(r => (r._4, r._2))
      (rows.size.toLong, s.head._4, s.last._4, s.map(_._3).toSeq)
    }.toMap
    // declared surface: the journey is the '>'-joined scalar encoding
    // (driver-comparator-sortable; see the scaladoc's round-8 incident note)
    val got = graft.queries.RelationalQueries.userJourney(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_events"),
        r.getAs[Long]("first_us"), r.getAs[Long]("last_us"),
        r.getAs[String]("journey"))).toMap
    assert(got === want.view.mapValues(w =>
      (w._1, w._2, w._3, w._4.mkString(">"))).toMap)
    // collect_list order is partitioning-dependent; the sorted-struct
    // projection must not be — re-aggregate the same input shuffled into
    // 7 partitions by a key UNRELATED to the group key
    val shuffled = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("us"))
      .repartition(7, col("event_id"))
    val again = graft.queries.RelationalQueries.userJourneyOf(shuffled)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](r.fieldIndex("journey")).toSeq)
      .toMap
    assert(again === want.view.mapValues(_._4).toMap)
  }

  test("dq_audit: clean corpus is all-zero; every check fires on one injected violation") {
    import spark.implicits._
    val clean = graft.queries.RelationalQueries.dqAudit(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clean.size === 9)
    assert(clean.values.forall(_ === 0L), s"clean corpus flagged: $clean")

    // one violation per check: the audit must count each exactly once
    val li = Seq(
      (999999L, 10.0, 1.0, 0.05),  // orphan order key
      (1L, -5.0, 1.0, 0.05),       // nonpositive price
      (1L, 10.0, 1.0, 1.5))        // discount out of range
      .toDF("l_orderkey", "l_extendedprice", "l_quantity", "l_discount")
    val ord = Seq((Some(1L), Some(77777L)), (None, Some(1L)))
      .toDF("o_orderkey", "o_custkey") // orphan cust + null key
    val cust = Seq(Tuple1(1L)).toDF("c_custkey")
    val ev = Seq((Some(5L), Some(1L), Some(1L)), (Some(5L), Some(2L), Some(2L)),
      (Some(6L), None, Some(3L)))
      .toDF("event_id", "user_id", "ts") // dup id + null user
    val docs = Seq((1L, ""), (2L, "ok")).toDF("doc_id", "text")
    val emb = Seq((1L, Seq.empty[Float]), (2L, Seq(1.0f)))
      .toDF("vec_id", "embedding")
    val audit = graft.queries.RelationalQueries
      .dqAuditOf(li, ord, cust, ev, docs, emb)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit === Map(
      "lineitem_orphan_order" -> 1L, "orders_orphan_customer" -> 1L,
      "orders_null_key" -> 1L, "lineitem_nonpositive_price" -> 1L,
      "lineitem_discount_range" -> 1L, "events_dup_id" -> 1L,
      "events_null_user" -> 1L, "docs_empty_text" -> 1L,
      "embeddings_empty_vec" -> 1L))
  }
}
