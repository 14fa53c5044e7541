package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.PairsExpr
import graft.operators.PostingPairs
import graft.queries.DedupQueries

/** Property tests for the dedup operators beyond the fixed driver corpus,
  * on constructed and RANDOM corpora (the oracle gate only proves each
  * property for one input).
  */
class DedupPropertySpec extends SparkTestBase {

  test("PairsExpr generates exactly the da<db pairs, regardless of input order") {
    import spark.implicits._
    val df = Seq(
      (0, Seq(1L, 5L, 9L)), (1, Seq(2L)), (2, Seq.empty[Long]),
      (3, Seq(4L, 3L)), // UNSORTED input: min/max per pair, never (4,3)
      (4, Seq(3L, 1L, 4L, 2L)),
      (5, Seq(7L, 7L, 8L)), // duplicates: NO (7,7) self-pair
      (6, Seq(9L, 9L))) // all-equal: no rows at all
      .toDF("k", "ids")
    val got = df.select(col("k"), PairsExpr(col("ids")))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = Set(
      (0, 1L, 5L), (0, 1L, 9L), (0, 5L, 9L), // single-id and empty inputs: no rows
      (3, 3L, 4L),
      (4, 1L, 2L), (4, 1L, 3L), (4, 1L, 4L), (4, 2L, 3L), (4, 2L, 4L), (4, 3L, 4L),
      (5, 7L, 8L))
    assert(got === want)
  }

  /** Random corpus of 240 docs: 120 bases + 120 one-token mutations, so
    * plenty of pairs land on both sides of the τ=0.5 threshold.
    */
  private lazy val randomCorpusDir: String = {
    import spark.implicits._
    val d = tempDir("dedup-prop")
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc(): String =
      Seq.fill(4 + rnd.nextInt(24))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = Seq.tabulate(120) { i =>
      val t = doc()
      val w = t.split(" ")
      w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
      Seq((i * 2L, t), (i * 2L + 1, w.mkString(" ")))
    }.flatten
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    d.toString
  }

  test("ngram_jaccard_prefix runs ngram_jaccard's count plan on sf0.01") {
    val optimized = (q: String) =>
      SparkEntry.queries(q)(spark, sf("sf0.01")).queryExecution.optimizedPlan
    assert(optimized("ngram_jaccard_prefix").sameResult(optimized("ngram_jaccard")))
  }

  test("MaxBandBucket cap: an exact-dup flood generates no pairs, real near-dups survive") {
    // 1030 byte-identical clones exceed the 1024 bucket cap in every band
    // -> dropped before pair generation (the exact-hash dedup path owns
    // mega-clusters); an unrelated near-dup pair must still be found.
    // This is the first test to actually EXERCISE the capped path — at
    // the driver SFs no bucket comes near the cap.
    import spark.implicits._
    val d = tempDir("cap-corpus")
    val clone = "alpha beta gamma delta epsilon zeta eta theta"
    // 20 shared tokens + 1 differing tail token: 19-shingle sets sharing
    // 18 -> J = 18/20 = 0.9 >= tau
    val base = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val nearA = s"$base apple"
    val nearB = s"$base orange"
    val docs = Seq.tabulate(1030)(i => (i.toLong, clone)) ++
      Seq((5000L, nearA), (5001L, nearB))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val pairs = DedupQueries.dedupMinhash(spark, d.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((5000L, 5001L)),
      s"expected only the near-dup pair; got ${pairs.size} pairs: ${pairs.take(5)}")
  }

  test("exact n-gram Jaccard is uncapped: 1030 clones yield every pair") {
    // 1030 byte-identical clones share 2 shingles with df = 1030, above
    // the minhash and media caps (1024), beside an unrelated near-dup
    // pair. Unlike minhash's lossy band cap, the exact ngram path must
    // KEEP every clone pair: expected output is all C(1030,2) clone pairs
    // at jaccard 1.0 plus the near-dup pair.
    import spark.implicits._
    val d = tempDir("hot-shingle-corpus")
    val clone = "alpha beta gamma delta" // 2 shingles, both df=1030
    val base = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val docs = Seq.tabulate(1030)(i => (i.toLong, clone)) ++
      Seq((5000L, s"$base apple"), (5001L, s"$base orange")) // J = 18/20
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val exact = DedupQueries.ngramJaccard(spark, d.toString)
    val nClones = 1030L * 1029L / 2
    val byJ = exact.groupBy(col("jaccard")).count()
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(byJ === Map(1.0 -> nClones, 0.9 -> 1L),
      s"expected $nClones clone pairs at J=1.0 + one J=0.9 pair, got $byJ")
  }

  test("dedup_cluster closes transitive chains: A~B, B~C, A!~B~C still one cluster") {
    // The reason clustering exists: pairwise dedup links A-B and B-C but
    // never A-C when J(A,C) < tau. Construction: base of 52 distinct
    // tokens (50 shingles); A drops the last 6 tokens, C drops the first
    // 6. J(A,B) = J(B,C) = 44/50 = 0.88 >= 0.8, but
    // J(A,C) = (50-12)/50 = 0.76 < 0.8 — a genuine chain. All three must
    // land in cluster min(id); an unrelated singleton must keep its own
    // id as a singleton cluster.
    import spark.implicits._
    val d = tempDir("chain-corpus")
    val toks = Vector("ape", "bat", "cat", "dog", "eel", "fox", "gnu", "hen",
      "ibis", "jay", "kite", "lark", "mole", "newt", "owl", "pig", "quail",
      "rat", "seal", "toad", "urchin", "vole", "wren", "yak", "zebu",
      "ant", "bee", "crab", "dove", "emu", "ferret", "goat", "hare",
      "imp", "jackal", "koala", "lemur", "mink", "numbat", "okapi",
      "panda", "quokka", "raven", "stoat", "tapir", "uakari", "viper",
      "wombat", "xerus", "yabby", "zorse", "addax")
    assert(toks.length === 52 && toks.distinct.length === 52)
    val b = toks.mkString(" ")
    val a = toks.dropRight(6).mkString(" ")
    val c = toks.drop(6).mkString(" ")
    val docs = Seq((10L, a), (11L, b), (12L, c), (99L, "completely unrelated words here"))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    // preflight: the chain shape must actually hold at the minhash level,
    // or the clustering assertion is vacuous
    val pairs = DedupQueries.dedupMinhash(spark, d.toString)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 11L), (11L, 12L)),
      s"corpus didn't produce the A-B, B-C chain (LSH bands missed a pair?): $pairs")
    val labels = DedupQueries.dedupCluster(spark, d.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("PostingPairs: one row per (key, pair); cap n keeps n-row keys, drops n + 1") {
    import spark.implicits._
    def pairMultiset(t: DataFrame, key: String, cap: Option[Int]): Map[(Long, Long), Long] =
      PostingPairs(t, Seq(key), "doc_id", cap).groupBy("da", "db").count()
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // df spans 1..40: shingle h is shared by docs 0..h-1, so pair (a, b),
    // a < b, appears once per h > b, i.e. 40 - b times
    val skewed = (for { h <- 1L to 40L; d <- 0L until h } yield (d, h)).toDF("doc_id", "h")
    val want = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
    } yield (a, b) -> (40L - b)).toMap
    assert(pairMultiset(skewed, "h", None) === want)
    // cap n = 3: "kept" has exactly 3 rows, "dropped" has 4; "repeat"
    // lists doc 9 twice and emits no (9, 9) self-pair
    val capped = Seq(0L -> "kept", 1L -> "kept", 2L -> "kept",
      3L -> "dropped", 4L -> "dropped", 5L -> "dropped", 6L -> "dropped",
      9L -> "repeat", 9L -> "repeat").toDF("doc_id", "k")
    val kept = Map((0L, 1L) -> 1L, (0L, 2L) -> 1L, (1L, 2L) -> 1L)
    assert(pairMultiset(capped, "k", Some(3)) === kept)
    assert(pairMultiset(capped, "k", None) === kept ++ (for {
      a <- 3L to 6L; b <- (a + 1) to 6L
    } yield (a, b) -> 1L))
  }

  test("connected components: pointer jumping closes a diameter-299 path inside the round bound") {
    // The plain min-label propagation loop needed O(diameter) rounds and
    // hard-failed its MaxCcRounds=50 require on a path this long; the
    // lbl <- lbl(lbl) jump makes it O(log diameter), so this converges in
    // ~9 rounds. Every vertex must reach the path's minimum id.
    import spark.implicits._
    val edges = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = DedupQueries.propagateMinLabels(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 300)
    assert(labels.values.toSet === Set(0L))
  }

  test("connected components equal a union-find oracle on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 400
    val edges = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val got = DedupQueries.propagateMinLabels(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side union-find over the same edges
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val want = verts.groupBy(v => find(v.toInt)).flatMap { case (_, vs) =>
      val m = vs.min; vs.map(_ -> m)
    }.toMap
    assert(got === want)
  }

  test("decontaminate flags exactly the train docs sharing a shingle with the eval set") {
    // EvalMod = 37: doc 0 and doc 37 form the eval set. Doc 1 shares one
    // 3-gram with doc 0, doc 4 shares one with doc 37, doc 2 shares none,
    // doc 3 is too short to shingle at all (< 3 tokens) — it must still
    // appear with n_overlap = 0, not vanish.
    import spark.implicits._
    val d = tempDir("decontam-corpus")
    val docs = Seq(
      (0L, "alpha beta gamma delta"), // eval: shingles a-b-g, b-g-d
      (1L, "zzz alpha beta gamma yyy"), // shares a-b-g -> contaminated
      (2L, "one two three four"), // disjoint -> clean
      (3L, "hi there"), // no shingles -> clean, still present
      (37L, "five six seven"), // eval: shingle f-s-s
      (4L, "five six seven eight")) // shares f-s-s -> contaminated
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val got = DedupQueries.decontaminate(spark, d.toString)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      1L -> ((1L, true)), 2L -> ((0L, false)),
      3L -> ((0L, false)), 4L -> ((1L, true))),
      "eval docs must be absent; overlap counts exact")
  }

  test("minhash verification is exact: every reported pair is a true J>=0.8 pair " +
      "with the brute-force jaccard value") {
    // LSH candidate generation may MISS pairs (probabilistic recall), but
    // the verify stage makes precision exact: reported pairs must be a
    // subset of the brute-force J>=0.5 join restricted to J >= JaccardTau,
    // with bit-identical jaccard values.
    val exact = DedupQueries.ngramJaccard(spark, randomCorpusDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mh = DedupQueries.dedupMinhash(spark, randomCorpusDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(mh.nonEmpty, "minhash found no pairs on a near-dup corpus — test is vacuous")
    mh.foreach { case (pair, j) =>
      assert(j >= DedupQueries.JaccardTau, s"$pair below tau: $j")
      assert(exact.get(pair).contains(j),
        s"$pair: minhash jaccard $j != brute force ${exact.get(pair)}")
    }
  }

  test("pagerank: star graph — hub outranks leaves, exact damped integer recurrence") {
    // The corpus graph's components are regular (pairs/triangles), where
    // PageRank is uniform by symmetry — so discrimination and the exact
    // integer recurrence are pinned here on the smallest irregular graph.
    import spark.implicits._
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val got = DedupQueries.pagerankScores(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // driver-side model of the identical recurrence
    val S = DedupQueries.PrScale
    val deg = Map(0L -> 3L, 1L -> 1L, 2L -> 1L, 3L -> 1L)
    var s: Map[Long, Long] = deg.map { case (v, _) => v -> S }
    for (_ <- 1 to DedupQueries.PrIters) {
      val recv = Map(
        0L -> (s(1L) + s(2L) + s(3L)), // leaves have degree 1
        1L -> s(0L) / 3, 2L -> s(0L) / 3, 3L -> s(0L) / 3)
      s = recv.map { case (v, r) => v -> (15L * S / 100 + (85L * r) / 100) }
    }
    assert(got === deg.map { case (v, d) => v -> ((d, s(v))) })
    assert(s(0L) > s(1L), "hub must outrank leaves")
  }

  test("dup_spans: touching runs merge into one island; gapped runs split; " +
    "positions are exact") {
    import spark.implicits._
    val d = tempDir("dup-spans").toString
    // distinct letter-only vocabularies; only the c* runs repeat across docs
    val c1 = "conea coneb conec coned conee conef coneg coneh conei conej conek conel"
    val c2 = "ctwoa ctwob ctwoc ctwod ctwoe ctwof ctwog ctwoh ctwoi ctwoj"
    val c3 = "cthra cthrb cthrc cthrd cthre cthrf cthrg cthrh cthri cthrj"
    val c4 = "cfoura cfourb cfourc cfourd cfoure cfourf cfourg cfourh cfouri cfourj"
    Seq(
      (0L, s"ua ub uc $c1 ud ue uf $c2 ug"), // two shared runs, 3-token gap
      (1L, s"va $c1 vb vc"), // c1 partner
      (2L, s"wa wb $c2"), // c2 partner
      (3L, s"xa $c3 $c4 xb"), // c3/c4 back-to-back: runs TOUCH
      (4L, s"$c3 ya"), // c3 partner (run starts at position 1)
      (5L, s"za zb $c4")) // c4 partner
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val got = DedupQueries.dupSpans(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set(
      (0L, 4L, 15L, 3L), (0L, 19L, 28L, 1L), // gap at tokens 16-18 splits
      (1L, 2L, 13L, 3L),
      (2L, 3L, 12L, 1L),
      (3L, 2L, 21L, 2L), // [2,11] and [12,21] touch -> ONE island
      (4L, 1L, 10L, 1L),
      (5L, 3L, 12L, 1L)))
  }

  test("dup_cluster_stats partitions the corpus and re-derives from dedup_cluster") {
    val dir = sf("sf0.001")
    val stats = DedupQueries.dupClusterStats(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stats.nonEmpty)
    stats.foreach { case (size, (nClusters, nDocs)) =>
      assert(nDocs === size * nClusters, s"n_docs must be size*n_clusters at size $size")
    }
    // the histogram must partition the corpus exactly: every doc is in
    // exactly one cluster, singletons included
    val assignments = DedupQueries.dedupCluster(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(stats.values.map(_._2).sum === assignments.length.toLong,
      "sum of n_docs must equal the corpus size")
    // and agree with the histogram computed directly from the assignment
    val expected = assignments.groupBy(_._2).map(_._2.length.toLong).toSeq
      .groupBy(identity).map { case (sz, xs) => sz -> xs.length.toLong }
    assert(stats.view.mapValues(_._1).toMap === expected)
    // the corpus must actually exercise both branches
    assert(stats.contains(1L), "no singleton clusters — histogram vacuous")
    assert(stats.keys.exists(_ > 1L), "no multi-doc clusters — histogram vacuous")
  }

  test("link_predict equals brute-force neighborhood Jaccard over the dup graph") {
    val dir = sf("sf0.001")
    val edges = DedupQueries.dedupMinhash(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val wedgePairs = adj.toSeq.flatMap { case (_, ns) =>
      for (x <- ns.toSeq; y <- ns.toSeq if x < y) yield (x, y)
    }.distinct
    val expected = wedgePairs.map { case (x, y) =>
      val cn = (adj(x) & adj(y)).size.toLong
      (x, y) -> ((cn, adj(x).size.toLong, adj(y).size.toLong,
        edges.contains((x, y))))
    }.toMap
    val rows = DedupQueries.linkPredict(spark, dir).collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(6)))).toMap
    assert(got === expected)
    assert(got.nonEmpty, "sf0.001 dup graph must produce wedge pairs")
    rows.foreach { r =>
      val (cn, da, db) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(r.getDouble(5) === cn.toDouble / (da + db - cn).toDouble,
        s"score mismatch for pair (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }
}
