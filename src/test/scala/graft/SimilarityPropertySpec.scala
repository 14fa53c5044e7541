package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.queries.SimilarityQueries

/** Pins the salt-grid fragmentation property similar_pairs/dedup_embed
  * rely on: fragmenting a block self-join over the S×S grid must emit
  * every qualifying pair EXACTLY once — identical to the unsalted join —
  * even when the whole corpus is one hot block (the skew case the grid
  * exists for).
  */
class SimilarityPropertySpec extends SparkTestBase {

  /** 300 vectors, ALL in one label block — the worst-case hot block. */
  private lazy val hotBlockDir: String = {
    import spark.implicits._
    val d = tempDir("hot-block")
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(300) { i =>
      // clustered directions so a healthy share of pairs clears CosTau
      val base = Array.fill(8)(rnd.nextGaussian().toFloat)
      (i.toLong, base.map(x => x + rnd.nextGaussian().toFloat * 0.6f).toSeq, 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d.toString
  }

  test("salt-grid block join == unsalted join on a single hot block (exactly-once pairs)") {
    val salted = SimilarityQueries.similarPairs(spark, hotBlockDir)
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3))
    // duplicate emission would show up before the comparison does
    assert(salted.map(_._1).distinct.length === salted.length,
      "salt grid emitted a pair more than once")

    // unsalted reference: the plain block self-join with the same
    // cosine expression
    val e = Tables.embeddings(spark, hotBlockDir)
      .select(col("vec_id"), col("label"), VectorFns.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorFns.norm(col("v")))
    val cos = VectorFns.dot(col("va"), col("vb")) / (col("na") * col("nb"))
    val plain = e.select(col("label"), col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na"))
      .join(e.select(col("label").as("lb"), col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb")),
        col("label") === col("lb") && col("a_id") < col("b_id"))
      .withColumn("sim", round(cos, 4))
      .filter(col("sim") >= SimilarityQueries.CosTau)
      .select(col("a_id"), col("b_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))

    assert(plain.nonEmpty, "no qualifying pairs — test is vacuous")
    assert(salted.toMap === plain.toMap)
  }

  test("dedup_cluster_embed closes transitive chains: A~B, B~C, A!~C still one cluster") {
    // Same reason the text clustering exists (DedupPropertySpec): pairwise
    // embed dedup links A-B and B-C but never A-C when cos(A,C) < tau.
    // Construction: planar rotations — A = e1, B = A rotated by θ with
    // cos θ = 0.8, C = B rotated by θ again, so cos(A,B) = cos(B,C) = 0.8
    // ≥ 0.35 but cos(A,C) = cos 2θ = 0.28 < 0.35 — a genuine chain. An
    // orthogonal singleton must keep its own id.
    import spark.implicits._
    val d = tempDir("embed-chain")
    def vec(x: Double, y: Double, z: Double = 0.0): Seq[Float] =
      Seq(x.toFloat, y.toFloat, z.toFloat, 0f, 0f, 0f, 0f, 0f)
    val rows = Seq(
      (10L, vec(1, 0)), (11L, vec(0.8, 0.6)), (12L, vec(0.28, 0.96)),
      (99L, vec(0, 0, 1)))
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"), lit(0).as("label"))
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    // preflight: the pair graph must be exactly the A-B, B-C chain, or the
    // clustering assertion is vacuous
    val pairs = SimilarityQueries.similarPairs(spark, d.toString)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 11L), (11L, 12L)),
      s"corpus didn't produce the A-B, B-C chain: $pairs")
    val got = SimilarityQueries.dedupClusterEmbed(spark, d.toString)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      10L -> ((10L, true)), 11L -> ((10L, false)),
      12L -> ((10L, false)), 99L -> ((99L, true))))
  }

  test("bounded-chunk broadcast: forced multi-chunk results == single-chunk, ids spread") {
    // At every test SF the query count sits under the production caps, so
    // the multi-chunk union + per-chunk rank path never runs in the oracle
    // gate — force it with a cap of 1 query per chunk and require exact
    // equality with the default (single-chunk) plan, for both the raw-
    // vector and the PQ variant.
    val dir = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val topk1 = rows(SimilarityQueries.annTopk(spark, dir))
    val topkN = rows(SimilarityQueries.annTopk(spark, dir, maxBroadcast = 1))
    assert(topk1.nonEmpty && topkN === topk1)
    val pq1 = rows(SimilarityQueries.annPq(spark, dir))
    val pqN = rows(SimilarityQueries.annPq(spark, dir, maxBroadcast = 1))
    assert(pq1.nonEmpty && pqN === pq1)

    // The chunk assignment itself must SPREAD stride-QueryMod ids: the
    // round-5 pmod(query_id, nChunks) degenerated to chunk 0 whenever
    // nChunks shared a factor with the stride (e.g. nChunks = QueryMod),
    // putting the entire query set in one broadcast. Pin the fix directly:
    // 200 stride-101 ids against nChunks = 101 must occupy many chunks,
    // and no chunk may hold more than a small multiple of the uniform
    // share.
    import spark.implicits._
    val ids = (0 until 200).map(k => k.toLong * SimilarityQueries.QueryMod).toDF("query_id")
    val byChunk = ids
      .select(SimilarityQueries.chunkOf(col("query_id"), SimilarityQueries.QueryMod).as("c"))
      .groupBy("c").count().collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(byChunk.length > 50,
      s"stride-${SimilarityQueries.QueryMod} ids collapsed into ${byChunk.length} chunks")
    assert(byChunk.map(_._2).max <= 10,
      s"one chunk holds ${byChunk.map(_._2).max} of 200 queries (cap bound defeated)")
  }

  test("dedup_cluster_embed closes a diameter-120 cosine chain (salt grid + pointer jump composed)") {
    // The sf-corpus clusters are trivial-diameter, so the embed edge
    // generator (salt-grid cosine join) and the pointer-jumping fixpoint
    // only compose in the easy regime there. Force the hard one: a PATH —
    // v_i = (e_i + e_{i+1})/√2 in one hot label block, so cos(v_i, v_j)
    // is 0.5 for |i−j| = 1 and 0 otherwise. Diameter 120 exceeds the
    // 50-round bound without the lbl ← lbl(lbl) jump; with it the chain
    // must collapse to one cluster with the min id canonical.
    import spark.implicits._
    val n = 121
    val d = tempDir("emb-chain")
    val rows = Seq.tabulate(n) { i =>
      val v = Array.fill(n + 1)(0f)
      v(i) = 0.70710678f; v(i + 1) = 0.70710678f
      (i.toLong, v.toSeq, 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    val dir = d.toString
    // the generator must emit EXACTLY the consecutive-pair chain
    val prs = SimilarityQueries.similarPairs(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prs === (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toSet)
    val out = SimilarityQueries.dedupClusterEmbed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length === n)
    assert(out.forall(_._2 == 0L), "transitive chain must collapse to one cluster")
    assert(out.filter(_._3).map(_._1).toSeq === Seq(0L))
  }

  test("ANN recall@10 vs the exact baseline: floors hold (tuning signal for LshBits/Nprobe)") {
    // ann_topk is the declared recall=1 baseline; this measures what the
    // approximate paths actually deliver on the largest test corpus (sf0.1,
    // 2000 vectors / ~20 queries) and asserts a floor, so a change that
    // silently craters retrieval quality (not correctness — the oracle
    // can't see quality) fails here. Measured values are recorded in
    // PLANS.md; floors sit ~0.7× below measurement to absorb corpus
    // regeneration noise, not plan changes.
    val dir = sf("sf0.1")
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = topSets(SimilarityQueries.annTopk(spark, dir))
    assert(exact.nonEmpty, "baseline returned nothing — test is vacuous")
    def recallAt10(approx: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, t) =>
        approx.getOrElse(q, Set.empty).count(t).toDouble / t.size
      }
      per.sum / per.size
    }
    val lsh = recallAt10(topSets(SimilarityQueries.annLsh(spark, dir)))
    val ivf = recallAt10(topSets(SimilarityQueries.annIvf(spark, dir)))
    val ivfScaled = recallAt10(topSets(SimilarityQueries.annIvfScaled(spark, dir)))
    val ivfKm = recallAt10(topSets(SimilarityQueries.annIvfKmeans(spark, dir)))
    val ivfKmScaled =
      recallAt10(topSets(SimilarityQueries.annIvfKmeansScaled(spark, dir)))
    val pq = recallAt10(topSets(SimilarityQueries.annPq(spark, dir)))
    val ivfPq = recallAt10(topSets(SimilarityQueries.annIvfPq(spark, dir)))
    val ivfPqScaled = recallAt10(topSets(SimilarityQueries.annIvfPqScaled(spark, dir)))
    val ivfPqR = recallAt10(topSets(SimilarityQueries.annIvfPqRerank(spark, dir)))
    val ivfPqRScaled =
      recallAt10(topSets(SimilarityQueries.annIvfPqRerankScaled(spark, dir)))
    info(f"recall@10 on sf0.1: ann_lsh=$lsh%.3f ann_ivf=$ivf%.3f ann_ivf_scaled=$ivfScaled%.3f ann_ivf_kmeans=$ivfKm%.3f ann_ivf_kmeans_scaled=$ivfKmScaled%.3f ann_pq=$pq%.3f ann_ivfpq=$ivfPq%.3f ann_ivfpq_scaled=$ivfPqScaled%.3f ann_ivfpq_rerank=$ivfPqR%.3f ann_ivfpq_rerank_scaled=$ivfPqRScaled%.3f")
    // Measured at the committed RECALL.md operating point (Nprobe=24,
    // RerankR=100, LSH 2 tables × radius-2): lsh 0.560 (~27% scanned),
    // ivf 0.645, ivf_kmeans 0.735 (both ~38% scanned) — the corpus is
    // near-uniform on the sphere, so recall tracks the scanned fraction;
    // floors at ~0.7× measurement (all three production-shaped indexes
    // now clear the 0.5 credibility bar; lsh was 0.120 at the round-10
    // single-table radius-1 point)
    assert(lsh >= 0.40, f"ann_lsh recall@10 $lsh%.3f below floor (LshBits/LshRadius/LshTables mistuned?)")
    assert(ivf >= 0.45, f"ann_ivf recall@10 $ivf%.3f below floor (Nprobe/codebook mistuned?)")
    // scaled capacity: C = ⌊√(24·2000)⌋ = 219 lists at sf0.1, probed
    // fraction ~24/219 ≈ 11% (vs the fixed family's 38%). Measured recall
    // 0.445 — recall-per-scan 4.1×, the BEST in the family (fixed-C 1.7×,
    // kmeans 2.0×, lsh 2.1×): finer cells rank neighborhoods better than
    // the ~2×-scan law RECALL.md measured across the COARSE (64-list)
    // settings, even on this near-uniform corpus. Floor at ~0.7×
    // measurement.
    assert(ivfScaled >= 0.31,
      f"ann_ivf_scaled recall@10 $ivfScaled%.3f below floor (capacity law / probe selection regressed)")
    // Lloyd refinement adapts list balance to the data; on a near-uniform
    // corpus it should at minimum not LOSE retrieval quality vs the
    // sampled codebook.
    assert(ivfKm >= 0.50,
      f"ann_ivf_kmeans recall@10 $ivfKm%.3f below floor (Lloyd refinement regressed retrieval)")
    // The capacity law COMPOSED with Lloyd refinement: measured 0.600 at
    // ~11% scan — recall-per-scan 5.6×, the family's new best (scaled
    // sampled 4.1×, fixed Lloyd 2.0×), and +0.155 over the scaled sampled
    // codebook at the SAME scan fraction: the refinement's list balance
    // is worth more when cells are fine. Floor at ~0.7× measurement.
    assert(ivfKmScaled >= 0.42,
      f"ann_ivf_kmeans_scaled recall@10 $ivfKmScaled%.3f below floor (capacity law + Lloyd composition regressed)")
    assert(ivfKmScaled >= ivfScaled - 0.02,
      f"scaled Lloyd ($ivfKmScaled%.3f) should not lose recall vs scaled sampled ($ivfScaled%.3f) at equal scan")
    // pq 0.545 (PQ16×256, 2-step Lloyd-refined sub-codebooks; the
    // round-12 PQ8×256 point measured 0.385: full compressed scan —
    // recall loss here is pure quantization distortion, there is no
    // candidate pruning, and on this near-uniform corpus capacity M is
    // the binding knob); floor at ~0.7×
    assert(pq >= 0.38,
      f"ann_pq recall@10 $pq%.3f below floor (sub-codebook/quantization regressed)")
    // ivfpq 0.515 (residual-encoded PQ16×8; the round-12 raw-code PQ8×8
    // point measured 0.365): bounded above by the kmeans-IVF 0.735
    // candidate ceiling, degraded by residual-ADC scoring distortion —
    // the expected IVFADC trade; floor at ~0.7× measurement
    assert(ivfPq >= 0.36,
      f"ann_ivfpq recall@10 $ivfPq%.3f below floor (probe/quantization composition regressed)")
    // scaled IVFADC 0.440: bounded by the scaled-Lloyd 0.600 candidate
    // ceiling, degraded by residual-ADC distortion — the same ~0.15-0.2
    // quantization toll the fixed pair pays (0.735 → 0.515); floor ~0.7×
    assert(ivfPqScaled >= 0.30,
      f"ann_ivfpq_scaled recall@10 $ivfPqScaled%.3f below floor (scaled probe/quantization composition regressed)")
    // exact re-rank recovers the ADC quantization distortion: measured
    // 0.735 = EXACTLY the kmeans-IVF candidate-generation ceiling — the
    // re-rank cannot beat the probed lists' recall, and with residual
    // codes it recovers all of it from the top-R ADC candidates
    assert(ivfPqR >= 0.51,
      f"ann_ivfpq_rerank recall@10 $ivfPqR%.3f below floor (re-rank stage regressed)")
    assert(ivfPqR >= ivfPq - 0.02,
      f"re-rank ($ivfPqR%.3f) lost recall vs raw ADC ranks ($ivfPq%.3f)")
    // scaled re-rank 0.600 = EXACTLY its candidate-generation ceiling
    // (the scaled-Lloyd probed lists), same recovery the fixed re-rank
    // shows at 0.735 — the R=100 exact pass erases ADC distortion in
    // both capacity regimes
    assert(ivfPqRScaled >= 0.42,
      f"ann_ivfpq_rerank_scaled recall@10 $ivfPqRScaled%.3f below floor (scaled re-rank stage regressed)")
    assert(ivfPqRScaled >= ivfPqScaled - 0.02,
      f"scaled re-rank ($ivfPqRScaled%.3f) lost recall vs scaled ADC ranks ($ivfPqScaled%.3f)")

    // The declared ann_recall_report (the index auditing itself, in-plan)
    // must agree with this driver-side computation to the rounding digit —
    // a report that disagrees with the measurement it claims to publish is
    // worse than none.
    val report = SimilarityQueries.annRecallReport(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val expected = Map("ann_lsh" -> lsh, "ann_ivf" -> ivf,
      "ann_ivf_scaled" -> ivfScaled,
      "ann_ivf_kmeans" -> ivfKm, "ann_ivf_kmeans_scaled" -> ivfKmScaled,
      "ann_pq" -> pq, "ann_ivfpq" -> ivfPq,
      "ann_ivfpq_scaled" -> ivfPqScaled,
      "ann_ivfpq_rerank" -> ivfPqR,
      "ann_ivfpq_rerank_scaled" -> ivfPqRScaled)
    assert(report.keySet === expected.keySet)
    expected.foreach { case (nm, r) =>
      assert(report(nm)._1 === exact.size.toLong, s"$nm: query count drifted")
      assert(math.abs(report(nm)._2 - r) < 5e-5,
        f"$nm: report says ${report(nm)._2}%.4f, driver-side measured $r%.4f")
    }
    // scan_frac must match the sweep's numbers at the operating point:
    // LSH 2 tables × radius-2 covers ~27% of a near-uniform corpus
    // (1 − (1 − 37/256)²), the IVF family probes 24/64 ≈ 37.5% of
    // near-balanced lists (IVFADC scans exactly the probed lists, only
    // in the compressed domain), and the PQ linear scan is 1.0 by
    // construction. Bands at ±~0.1 absorb corpus regeneration noise,
    // not plan changes.
    val fracs = report.map { case (nm, (_, _, f)) => nm -> f }
    assert(fracs("ann_pq") === 1.0, "PQ linear scan must report scan_frac 1.0")
    assert(fracs("ann_lsh") > 0.17 && fracs("ann_lsh") < 0.37,
      f"ann_lsh scan_frac ${fracs("ann_lsh")}%.3f far from the ~0.27 sweep figure")
    Seq("ann_ivf", "ann_ivf_kmeans", "ann_ivfpq", "ann_ivfpq_rerank").foreach { nm =>
      assert(fracs(nm) > 0.27 && fracs(nm) < 0.48,
        f"$nm scan_frac ${fracs(nm)}%.3f far from the ~0.375 (24/64 lists) figure")
    }
    // the capacity law's signature at n=2000: C=219 lists → ~24/219 ≈ 11%
    // scanned, strictly below the fixed-capacity family's 24/64 ≈ 38% —
    // for every scaled member (sampled, Lloyd, and both IVFADC stages
    // share the scaled-Lloyd probed lists)
    Seq("ann_ivf_scaled", "ann_ivf_kmeans_scaled", "ann_ivfpq_scaled",
      "ann_ivfpq_rerank_scaled").foreach { nm =>
      assert(fracs(nm) > 0.06 && fracs(nm) < 0.17,
        f"$nm scan_frac ${fracs(nm)}%.3f far from the ~0.11 (24/219 lists) figure")
    }
    assert(fracs("ann_ivf_scaled") < fracs("ann_ivf"),
      "the scaled index must scan a SMALLER fraction than the fixed-capacity one at n=2000")
    assert(fracs("ann_ivf_kmeans_scaled") < fracs("ann_ivf_kmeans"),
      "the scaled Lloyd index must scan a SMALLER fraction than the fixed-capacity one at n=2000")
    info(s"scan_frac: ${fracs.toSeq.sortBy(_._1).map { case (n, f) => f"$n=$f%.3f" }.mkString(" ")}")
  }

  test("tagged-union audit contract: every index output is (query_id, neighbor_id)-unique") {
    // The round-17 single-pass report replaced the per-index LEFT SEMI
    // joins with ONE inner join against the exact pairs — equivalent only
    // while every index's output is (query_id, neighbor_id)-unique (true
    // of the ranked()/dropDuplicates shapes today). An index that started
    // emitting duplicate pairs would silently INFLATE its recall instead
    // of being deduplicated as the semi form did; this pin makes such an
    // index fail loudly at the contract boundary (round-18 advice fix).
    val dir = sf("sf0.1")
    val indexes = Seq(
      "ann_lsh" -> SimilarityQueries.annLsh(spark, dir),
      "ann_ivf" -> SimilarityQueries.annIvf(spark, dir),
      "ann_ivf_scaled" -> SimilarityQueries.annIvfScaled(spark, dir),
      "ann_ivf_kmeans" -> SimilarityQueries.annIvfKmeans(spark, dir),
      "ann_ivf_kmeans_scaled" -> SimilarityQueries.annIvfKmeansScaled(spark, dir),
      "ann_pq" -> SimilarityQueries.annPq(spark, dir),
      "ann_ivfpq" -> SimilarityQueries.annIvfPq(spark, dir),
      "ann_ivfpq_scaled" -> SimilarityQueries.annIvfPqScaled(spark, dir),
      "ann_ivfpq_rerank" -> SimilarityQueries.annIvfPqRerank(spark, dir),
      "ann_ivfpq_rerank_scaled" ->
        SimilarityQueries.annIvfPqRerankScaled(spark, dir))
    indexes.foreach { case (nm, df) =>
      val pairs = df.select(col("query_id"), col("neighbor_id"))
      val n = pairs.count()
      val nd = pairs.distinct().count()
      assert(n > 0, s"$nm returned nothing — test is vacuous")
      assert(n === nd,
        s"$nm emits duplicate (query_id, neighbor_id) pairs ($n rows, $nd " +
          "distinct) — the tagged-union audit would inflate its recall; " +
          "dedup at the index boundary or restore the per-index semi join")
    }
  }

  test("recall-report control sampling: scaled members audit every query, controls a deterministic subset") {
    // sf0.1 has ~20 queries; sampleTarget=4 forces the decimated-control
    // regime (m = 20/4 = 5) that production hits at sf10+ where auditing
    // every query makes the audit itself Θ(n²). The declared
    // ann_recall_report at test SFs stays in the full regime (nq ≤
    // 2·target) — pinned by the floor test's exact-agreement block.
    val dir = sf("sf0.1")
    def byName(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val full = byName(SimilarityQueries.annRecallReport(spark, dir))
    val sampledReport = SimilarityQueries.annRecallReportOf(spark, dir, 4)
    val s1 = byName(sampledReport)
    val nqFull = full("ann_ivf_scaled")._1
    val scaledMembers = Seq("ann_ivf_scaled", "ann_ivf_kmeans_scaled",
      "ann_ivfpq_scaled", "ann_ivfpq_rerank_scaled")
    val controls = s1.keySet -- scaledMembers
    // scale-path members: untouched by sampling — bit-identical rows
    scaledMembers.foreach { nm =>
      assert(s1(nm) === full(nm), s"$nm (scale path) must not be sampled")
    }
    // controls: a strict non-empty subset of the queries
    controls.foreach { nm =>
      assert(s1(nm)._1 > 0 && s1(nm)._1 < nqFull,
        s"$nm: sampled n_queries ${s1(nm)._1} not a strict subset of $nqFull")
      assert(s1(nm)._2 >= 0.0 && s1(nm)._2 <= 1.0, s"$nm recall out of range")
    }
    assert(s1("ann_pq")._3 === 1.0, "PQ stays a declared linear scan when sampled")
    // deterministic: the hash decimation must reproduce exactly
    val s2 = byName(SimilarityQueries.annRecallReportOf(spark, dir, 4))
    assert(s1 === s2, "sampled report must be deterministic")
    // agreement: the sampled ann_ivf recall must equal the driver-side
    // recall over exactly the decimated query set (same m, same hash) —
    // guards the silent failure mode where truth-side and search-side
    // predicates drift and recall collapses to garbage unnoticed
    // same decimation formula as the report (nqEst from the parquet
    // footer equals the actual query count on the dense-id testdata)
    val m = math.max(1L, nqFull / 4L)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val pred = pmod(xxhash64(col("query_id")), lit(m)) === 0
    val exactS = topSets(SimilarityQueries.annTopk(spark, dir).filter(pred))
    assert(exactS.size.toLong === s1("ann_ivf")._1, "sampled query-set size drifted")
    val ivfS = topSets(SimilarityQueries.annIvf(spark, dir).filter(pred))
    val expect = exactS.map { case (q, t) =>
      ivfS.getOrElse(q, Set.empty).count(t).toDouble / t.size
    }.sum / exactS.size
    assert(math.abs(s1("ann_ivf")._2 - expect) < 5e-5,
      f"sampled ann_ivf recall ${s1("ann_ivf")._2}%.4f != driver-side $expect%.4f over the same subset")
  }

  test("capacity law: scaledC follows ⌊√(Nprobe·n)⌋ with clamps, and the scanned fraction falls with corpus size") {
    import SimilarityQueries.{scaledC, Nprobe, ScaledCMax}
    // the shared engine/oracle formula, exactly
    Seq(20L, 200L, 2000L, 20000L, 200000L, 2000000L).foreach { n =>
      val want = math.max(4L, math.min(ScaledCMax.toLong,
        math.floor(math.sqrt((Nprobe * n).toDouble)).toLong))
      assert(scaledC(n).toLong === want, s"scaledC($n)")
    }
    assert(scaledC(2000) === 219) // the sf0.1 operating point cited in docs
    assert(scaledC(0) === 4, "lower clamp")
    assert(scaledC(Long.MaxValue / Nprobe - 1) === ScaledCMax, "upper clamp")
    // monotone: more corpus never means fewer lists
    val cs = (1 to 60).map(i => scaledC(1L << (i / 3)))
    assert(cs === cs.sorted, "scaledC must be monotone in n")
    // The decade behavior the operator exists for: per-query scanned
    // fraction nprobe/C falls ~1/√10 per decade (per-query COST nprobe·n/C
    // grows only √10), where the fixed-capacity family holds fraction
    // constant and cost grows 10×. Pinned on the formula across five
    // decades; the measured wall-clock exponents live in BASELINE.md.
    (1 to 5).foreach { d =>
      val n0 = 2000L * math.pow(10, d - 1).toLong
      val n1 = n0 * 10
      val (f0, f1) = (Nprobe.toDouble / scaledC(n0), Nprobe.toDouble / scaledC(n1))
      assert(f1 < f0 * 0.4, f"decade $d: scan fraction $f0%.4f -> $f1%.4f should shrink ~√10×")
      val (c0, c1) = (Nprobe * n0 / scaledC(n0), Nprobe * n1 / scaledC(n1))
      assert(c1 < c0 * 4, f"decade $d: per-query scanned candidates $c0 -> $c1 should grow ~√10×, not 10×")
    }
  }

  test("hard_negatives: cross-label only, contiguous ranks, recall@1 floor vs exact argmax") {
    val dir = sf("sf0.01")
    def minedRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getInt(3).toLong, r.getLong(4)))
    def structural(rows: Array[(Long, Long, Long, Long, Long)], nm: String): Unit = {
      assert(rows.nonEmpty, s"$nm mined nothing")
      assert(rows.forall { case (_, al, _, nl, _) => al != nl },
        s"$nm: a hard negative must carry a DIFFERENT label than its anchor")
      rows.groupBy(_._1).foreach { case (a, rs) =>
        assert(rs.map(_._5).sorted.toSeq === (1L to rs.length).toSeq,
          s"$nm anchor $a: ranks not contiguous from 1")
      }
    }
    val rows = minedRows(SimilarityQueries.hardNegatives(spark, dir))
    structural(rows, "hard_negatives")
    val rowsScaled = minedRows(SimilarityQueries.hardNegativesScaled(spark, dir))
    structural(rowsScaled, "hard_negatives_scaled")
    // exact cross-label argmax per anchor (brute force in-test; 500 vectors)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val exactBest = vecs.map { case (id, l, v) =>
      id -> vecs.filter(_._2 != l)
        .map { case (cid, _, cv) => (math.rint(cos(v, cv) * 1e6) / 1e6, cid) }
        .minBy { case (c, cid) => (-c, cid) }._2
    }.toMap
    def recallAt1(rows: Array[(Long, Long, Long, Long, Long)]): Double = {
      val got = rows.filter(_._5 == 1L).map(r => r._1 -> r._3).toMap
      exactBest.count { case (a, b) => got.get(a).contains(b) }.toDouble /
        exactBest.size
    }
    val recall = recallAt1(rows)
    val recallScaled = recallAt1(rowsScaled)
    info(f"recall@1 vs exact cross-label argmax (sf0.01): hard_negatives=$recall%.3f hard_negatives_scaled=$recallScaled%.3f")
    // The miner probes the anchor's HardNegProbe=2 nearest kmeans-IVF
    // lists (~3.1% of a balanced corpus) — measured 0.368 here (round-13
    // sweep; the round-12 LSH radius-1 miner measured 0.150 at ~3.5%
    // scan, so the Lloyd index is a strictly better candidate generator
    // at the same cost — RECALL.md). Floor at ~0.7× measurement.
    assert(recall >= 0.25,
      f"hard_negatives recall@1 $recall%.3f below floor (probe set mistuned?)")
    // The scaled miner probes 7 of C=⌊√(24·n)⌋ lists; at this SF
    // (n=500, C=109) that is ~6.4% scanned vs the committed miner's
    // ~3.1% — the apples-to-apples scan parity point is sf0.1 (7/219 ≈
    // 2/64), where RECALL.md records both. Floor at ~0.7× measurement.
    assert(recallScaled >= 0.30,
      f"hard_negatives_scaled recall@1 $recallScaled%.3f below floor (capacity/probe mistuned?)")
  }

  test("lshProbeMasks: complete Hamming ball at every radius, not a hand-unrolled cap") {
    // round-11 advice: the old generator silently capped at radius 2 — a
    // radius-3 retune would have under-probed below RECALL.md's claim.
    // Pin the generic generator: exactly sum_{d<=r} C(bits, d) distinct
    // masks, every popcount <= r, every <=r-bit mask PRESENT.
    val bits = SimilarityQueries.LshBits
    def choose(n: Int, k: Int): Int =
      (1 to k).foldLeft(1L)((a, i) => a * (n - i + 1) / i).toInt
    for (r <- 0 to 3) {
      val masks = SimilarityQueries.lshProbeMasks(r)
      val expectSize = (0 to r).map(choose(bits, _)).sum
      assert(masks.size === expectSize, s"radius $r: incomplete Hamming ball")
      assert(masks.distinct.size === masks.size, s"radius $r: duplicate masks")
      assert(masks.forall(m => java.lang.Long.bitCount(m) <= r && m >= 0 &&
        m < (1L << bits)), s"radius $r: mask outside the ball")
    }
    assertThrows[IllegalArgumentException](
      SimilarityQueries.lshProbeMasks(SimilarityQueries.LshBits + 1))
    assertThrows[IllegalArgumentException](SimilarityQueries.lshProbeMasks(-1))
  }

  test("gram_matrix: equals the brute-force quantized X^T X; diagonal positive") {
    val dir = sf("sf0.001")
    val got = SimilarityQueries.gramMatrix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val d = SimilarityQueries.KmDim
    assert(got.size === d * (d + 1) / 2, "upper triangle must be complete")
    val q = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(f => math.floor(
        f.toDouble * SimilarityQueries.QScale + 0.5).toLong).toArray)
    val n = q.length.toLong
    for (i <- 1 to d; j <- i to d) {
      val s = q.iterator.map(v => v(i - 1) * v(j - 1)).sum
      assert(got((i.toLong, j.toLong)) === ((n, s)), s"cell ($i,$j) mismatch")
    }
    for (i <- 1 to d)
      assert(got((i.toLong, i.toLong))._2 > 0L, s"diagonal ($i,$i) must be positive")
  }

  test("probe tie rule: top-n centroids == sort by (cos6 desc, cidx asc)") {
    // The heap selection gets the rule only through centroidPack, so pin
    // it where it matters: cos6 ties. 10 of the 30 centroids are exact
    // copies of others, so their cosines tie bit-for-bit against any query.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec(): Seq[Double] = Seq.fill(8)(rnd.nextGaussian())
    val base = Seq.fill(20)(vec())
    val cvs = base ++ base.indices.filter(_ % 2 == 0).map(base)
    val c = cvs.length
    val cents = cvs.zipWithIndex.map { case (v, i) => (i + 1L, v) }.toDF("cidx", "cv2")
      .withColumn("cn2", VectorFns.norm(col("cv2")))
    // queries: every centroid itself (a duplicated one ties at the top)
    // and 200 random directions
    val qs = (cvs ++ Seq.fill(200)(vec())).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
      .withColumn("nrm", VectorFns.norm(col("v")))
    // Spark's round(cos, 6) per pair; the order is applied here, on the driver
    val cos6 = VectorFns.dot(col("v"), col("cv2")) / (col("nrm") * col("cn2"))
    val sorted: Map[Long, Seq[(Long, Double)]] = qs.crossJoin(cents)
      .select(col("vec_id"), col("cidx"), round(cos6, 6))
      .as[(Long, Long, Double)].collect().toSeq.groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(r => (r._2, r._3)).sortBy(r => (-r._2, r._1)) }
    def check(what: String, df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      val got = df.select(col("vec_id"), col("cidx")).as[(Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val expected = sorted.map { case (q, rs) => q -> rs.take(n).map(_._1).toSet }
      val wrong = expected.keys.filter(q => got.get(q) != expected.get(q)).toSeq.sorted
      if (got.keySet != expected.keySet || wrong.nonEmpty)
        fail(s"$what, n=$n: ${wrong.size} queries differ, e.g. " +
          wrong.take(3).map(q => s"$q got ${got.get(q)} want ${expected(q)}").mkString("; "))
    }
    for (n <- Seq(1, 2, SimilarityQueries.Nprobe)) {
      assert(sorted.values.exists(rs => rs(n - 1)._2 == rs(n)._2),
        s"no cos6 tie across the n=$n cut — the check would be vacuous")
      check("topCentroids", SimilarityQueries.topCentroids(qs, cents, c, n), n)
    }
    // the assignment argmax follows the same rule
    check("nearestCentroid", SimilarityQueries.nearestCentroid(qs, cents, c), 1)
  }

  test("candidate pack: id guard rejects -1 and 2^42; 2^42-1 round-trips") {
    import spark.implicits._
    import SimilarityQueries.{candidateId, candidatePack}
    val cap = 1L << SimilarityQueries.HardNegIdBits
    def pack(cos: Double, id: Long): Long =
      Seq((cos, id)).toDF("cos", "id")
        .select(candidatePack(col("cos"), col("id"))).as[Long].head()
    def roundTrip(id: Long): Long =
      Seq((0.5, id)).toDF("cos", "id")
        .select(candidateId(candidatePack(col("cos"), col("id")))).as[Long].head()
    assert(roundTrip(cap - 1) === cap - 1)
    assert(roundTrip(0L) === 0L)
    // (round(cos, 6) DESC, id ASC): larger long = better candidate
    assert(pack(0.5, 3L) > pack(0.5, 7L))
    assert(pack(0.6, 7L) > pack(0.5, 3L))
    assert(pack(-1.0, cap - 1) >= 0L && pack(1.0, 0L) > 0L)
    // IEEE −0.0 and 0.0 are one cosine: one key, so a rank cut at cos6 = 0
    // is decided by the id alone
    assert(pack(-0.0, 5L) === pack(0.0, 5L))
    for (bad <- Seq(-1L, cap)) {
      val err = intercept[Exception](roundTrip(bad))
      val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains(s"outside [0, 2^${SimilarityQueries.HardNegIdBits}): $bad")),
        s"id $bad: ${msgs.headOption.getOrElse("")}")
    }
  }

  test("one ADC ranking serves both IVFADC twins: ann_ivfpq is its rank <= TopK prefix") {
    import spark.implicits._
    import SimilarityQueries.{LloydIvf, LloydScaledIvf, RerankR, TopK}
    val dir = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "adist", "rank")
        .as[(Long, Long, Long, Long)].collect().toSeq
    for ((idx, search) <- Seq(
        LloydIvf -> SimilarityQueries.annIvfPq(spark, dir),
        LloydScaledIvf -> SimilarityQueries.annIvfPqScaled(spark, dir))) {
      val shared = rows(SimilarityQueries.ivfPqAdc(spark, dir, idx))
      // the shared ranking is dense 1..n per query in (adist, id) order,
      // and deep enough that the RerankR cut is actually taken
      val byQuery = shared.groupBy(_._1)
      for ((q, rs) <- byQuery) {
        val ordered = rs.sortBy(_._4)
        assert(ordered.map(_._4) == (1L to rs.size.toLong), s"${idx.tag} q=$q ranks")
        assert(ordered.map(r => (r._3, r._2)) == rs.map(r => (r._3, r._2)).sorted,
          s"${idx.tag} q=$q order")
      }
      assert(byQuery.values.exists(_.size == RerankR), s"${idx.tag}: RerankR cut never taken")
      assert(rows(search).sorted == shared.filter(_._4 <= TopK).sorted, idx.tag)
    }
  }

  test("ann_recall_report scores each quantizer's ADC join once (plan pin)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the ADC scoring join: per-(query, list) tables ⋈ residual codes on
    // cidx. The report reads both twins of a quantizer from ONE
    // occurrence of its ivfPqAdc ranking (ivfPqTwinRows), because AQE
    // cannot reuse an exchange above a memoized table: one such join per
    // quantizer — 2, where a search per twin held 4
    def adcJoins(p: SparkPlan): Int = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => adcJoins(a.executedPlan)
        case q: QueryStageExec => adcJoins(q.plan)
        case j: BaseJoinExec
            if j.leftKeys.exists(_.references.exists(_.name == "cidx")) && {
              val out = j.left.output.map(_.name) ++ j.right.output.map(_.name)
              out.contains("tds") && out.contains("codes")
            } => 1
        case _ => 0
      }
      here + p.children.map(adcJoins).sum
    }
    val report = SimilarityQueries.annRecallReport(spark, sf("sf0.001"))
    assert(report.collect().length === 10)
    assert(adcJoins(report.queryExecution.executedPlan) === 2)
  }
}
