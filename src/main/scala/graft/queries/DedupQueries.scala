package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns
import graft.operators.PostingPairs

/** Deduplication operators over `documents` — the training-data-pipeline
  * surface: exact hashing, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: nothing here is O(n²) over the corpus.
  *   - exact: one hash-shuffle.
  *   - minhash: per-doc signatures are computed with zero shuffle (native
  *     minhash_sig kernel); candidate pairs come from the band buckets'
  *     posting lists ([[graft.operators.PostingPairs]], capped at
  *     [[MaxBandBucket]]), so generation is proportional to bucket
  *     collisions, not n².
  *   - simhash: per-row fingerprint kernel + one tiny grouped aggregation.
  *   - ngram_jaccard: the same posting-list pairs over the shingle
  *     inverted index, uncapped (exact recall), then one count per pair.
  *     `ngram_jaccard_prefix` is the same plan.
  *
  * All hashes derive from `TextFns.hash60` (md5-prefix), which DuckDB
  * reproduces exactly, so every stage is oracle-checkable.
  */
object DedupQueries {

  // -------------------------------------------------------------- dedup_exact
  /** Q9 `dedup_exact` — exact duplicate removal: keep the minimum doc_id
    * per sha256(text) (SURVEY §2.4 Q9).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.docs(spark, dir)
      .groupBy(sha2(col("text").cast("binary"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  val dedupExactSql: String =
    """SELECT sha256(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents GROUP BY 1""".stripMargin

  // ---------------------------------------------------------- shared plumbing

  /** MinHash parameters: k=12 permutations h_i(x) = (a_i·x + b_i) mod P over
    * 60-bit shingle hashes reduced mod P; banded 4×3 for LSH candidate
    * generation (s-curve threshold ≈ (1/4)^(1/3) ≈ 0.63, tuned for the
    * verify threshold τ=0.8). Constants are primes < P fixed on both
    * engines.
    */
  val P = 2147483647L // 2^31 - 1: keeps a_i·x + b_i < 2^63 (no overflow)
  val AB: Seq[(Long, Long)] = Seq(
    (1610612741L, 805306457L), (402653189L, 201326611L),
    (100663319L, 50331653L), (25165843L, 12582917L),
    (6291469L, 3145739L), (1572869L, 786433L),
    (393241L, 196613L), (98317L, 49157L),
    (24593L, 12289L), (6151L, 3079L), (1543L, 769L), (389L, 193L))
  val Bands = 4
  val RowsPerBand = 3
  val JaccardTau = 0.8

  /** Band-bucket size cap (boilerplate guard): a bucket with more than this
    * many docs means thousands of near-identical documents — its pairwise
    * verification is O(bucket²) for pairs the exact-hash dedup path already
    * collapses, and one such bucket at 100 TB is the job's straggler. Real
    * dedup pipelines divert these mega-clusters to the exact path; here
    * they are dropped from pair generation. The oracle SQL applies the
    * IDENTICAL cap (oversized/bounded CTEs in [[dedupMinhashSql]]), so
    * engine and oracle cannot diverge even if a corpus ever exceeds it;
    * no synthetic-corpus bucket comes near the cap (corpus ≤ 5k docs).
    */
  val MaxBandBucket = 1024

  /** (doc_id, hs: array<long>) — distinct 3-gram shingle hashes per doc.
    * Persisted ONCE per (session, sfDir): every dedup pipeline references
    * this subplan several times (signature branch, candidate branch, both
    * sides of the verify join); without persistence Spark re-tokenizes and
    * re-hashes the corpus per reference, which dominated the sf0.1 bench.
    * The memo map means repeated query invocations in one session (the
    * bench loop, the verify dump) share one cache entry instead of leaking
    * a new one per call. At cluster scale this is the standard "materialize
    * the shingle table once per dedup job" step.
    */
  private def shingleHashes(spark: SparkSession, dir: String): DataFrame =
    // Disk-cached index artifact (see [[Memo.memoizeDisk]]): the per-doc
    // shingle-hash table is the build-once base of every dedup pipeline;
    // a cold JVM scans the content-keyed parquet instead of re-running
    // the tokenize→3-gram→hash kernel over the corpus.
    Memo.memoizeDisk(spark, dir, "shingle_hashes",
      s"k=3,P=$P,tok=letter-runs")(
      // ShingleHash60Expr fuses tokenize -> 3-gram -> hash60 % P ->
      // distinct into one per-row kernel (no intermediate token/gram/
      // hash arrays; the split-pipeline form it replaces was the dedup
      // family's dominant per-row cost).
      Tables.docs(spark, dir)
        .select(col("doc_id"),
          graft.functions.ShingleHash60Expr(col("text"), 3, P).as("hs"))
        .filter(size(col("hs")) > 0))

  private val shingleHashesCte: String =
    s"""toks AS (${Oracle.toksCte}),
       |sh AS (SELECT doc_id, list_distinct(${Oracle.ngrams3("t")}) AS shingles FROM toks WHERE len(t) >= 3),
       |hs AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${Oracle.hash60("s")} % $P)) AS hs FROM sh)""".stripMargin

  /** Exploded distinct (doc_id, h) shingle-hash pairs, memoized — the
    * base of the df-annotated table, the frequency table, and the sizes
    * table below; re-exploding the array table per reference was the
    * round-2 bench regression (1.39 s → 3.57 s). One persisted copy
    * serves them all.
    */
  private[graft] def shinglePairs(spark: SparkSession, dir: String): DataFrame =
    Memo.memoize(spark, dir, "shingle_pairs")(
      shingleHashes(spark, dir)
        .select(col("doc_id"), explode(col("hs")).as("h")))

  private val shinglePairsCte: String =
    s"""$shingleHashesCte,
       |ex AS (SELECT doc_id, unnest(hs) AS h FROM hs)""".stripMargin

  /** The shingle document-frequency table (h, df), memoized:
    * `dup_ngram_coverage` reads it for its df ≥ 2 filter.
    */
  private def shingleFreq(spark: SparkSession, dir: String): DataFrame =
    Memo.memoize(spark, dir, "shingle_freq")(
      shinglePairs(spark, dir).groupBy(col("h")).agg(count(lit(1)).as("df")))

  /** The df-ANNOTATED pair table (doc_id, h, df), memoized: the one h-keyed
    * join of pairs⋈freq happens HERE, once per (session, dir), so
    * `dup_ngram_coverage`'s df filter is a plain FILTER on a persisted
    * table. At cluster scale this is the standard "annotate the inverted
    * index with document frequency" build step of a dedup job.
    */
  private def shinglePairsDf(spark: SparkSession, dir: String): DataFrame =
    Memo.memoize(spark, dir, "shingle_pairs_df")(
      shinglePairs(spark, dir).join(shingleFreq(spark, dir), "h"))

  /** The per-doc shingle-set size table (doc_id, n), memoized — 16 bytes
    * per document. The Jaccard union term joins it once per pair side;
    * caching the narrow projection keeps each (broadcast) build a scan of
    * a few tiny partitions instead of a full-width pass over the array
    * table per invocation. The coalesce width SCALES with the cluster
    * (parallelism/8, floor 1): a fixed coalesce(1) would be a one-task
    * build and a single multi-GB cached partition at 10⁹ documents.
    */
  private def shingleSizes(spark: SparkSession, dir: String): DataFrame =
    Memo.memoize(spark, dir, "shingle_sizes")(
      shingleHashes(spark, dir)
        .select(col("doc_id"), size(col("hs")).cast("long").as("n"))
        .coalesce(math.max(1, spark.sparkContext.defaultParallelism / 8)))

  /** Verified-Jaccard join of `dedup_minhash`'s candidate pairs →
    * (doc_a, doc_b, jaccard ≥ [[JaccardTau]]). jaccard = |A∩B| /
    * (|A|+|B|-|A∩B|) over exact integer counts — the resulting double is
    * engine-identical to the oracle's exploded-join formulation.
    *
    * Each candidate pair fetches both docs' shingle-hash ARRAYS from the
    * persisted array table and intersects them in-row — two narrow joins
    * keyed by doc id, zero re-explosion.
    *
    * A pair shares several bands, so candidates repeat: their
    * de-duplication folds into the SAME exchange that pins the verify
    * width — the repartition hash-clusters by (da, db), the dropDuplicates
    * aggregation reuses that partitioning, and the (broadcast) array
    * joins + intersect run in the same wide stage — one exchange where a
    * separate `.distinct()` before the verify cost two.
    */
  private def verifyJaccard(spark: SparkSession, dir: String,
      cand: DataFrame): DataFrame = {
    val hs = shingleHashes(spark, dir)
    val i = size(array_intersect(col("ha"), col("hb")))
    val j = i.cast("double") / (size(col("ha")) + size(col("hb")) - i)
    // Pin the verify width: candidate rows are byte-tiny (16 B) but each
    // fans out to two shingle arrays + an intersect, so AQE — which sizes
    // post-shuffle stages by BYTES — coalesces the stage to 1-3 tasks and
    // serializes the CPU (observed: 9.3 s of intersect CPU on 3 tasks).
    cand.repartition(spark.sparkContext.defaultParallelism, col("da"), col("db"))
      .dropDuplicates("da", "db")
      .join(hs.select(col("doc_id").as("da"), col("hs").as("ha")), "da")
      .join(hs.select(col("doc_id").as("db"), col("hs").as("hb")), "db")
      .select(col("da").as("doc_a"), col("db").as("doc_b"), j.as("jaccard"))
      .filter(col("jaccard") >= JaccardTau)
  }

  // ------------------------------------------------------------ dedup_minhash
  /** The banded-signature table (doc_id, band, sig) — the LSH index's
    * buckets, read only by the `mh_pairs` build.
    */
  private def bands(spark: SparkSession, dir: String): DataFrame = {
    // the per-doc minhash signature table, memoized: both the cap's count
    // aggregate and the bucket collect read it; one kernel pass over the
    // cached shingle table serves both
    val mh = Memo.memoize(spark, dir, "minhash_sigs")(
      shingleHashes(spark, dir)
        .select(col("doc_id"), graft.functions.MinHashSig(col("hs"), AB, P).as("sig"))
        .select(
          col("doc_id") +: AB.indices.map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*))
    val bandStructs = (0 until Bands).map { b =>
      val sig = concat_ws("-",
        (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}")): _*)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Config fingerprint for the disk-cached minhash artifacts — every
    * tunable the verified pair graph depends on (the AB permutation
    * constants are fixed literals, covered by Memo's cache epoch).
    */
  private def mhConfigKey: String =
    s"P=$P Bands=$Bands Rows=$RowsPerBand cap=$MaxBandBucket tau=$JaccardTau"

  /** `dedup_minhash` — MinHash+LSH near-duplicate pairs: shingle → 12
    * minhashes (computed per-row over the hash array, no shuffle) → 4
    * banded signatures → bucket self-join → exact-Jaccard verification at
    * τ=0.8. Output: (doc_a, doc_b, jaccard).
    *
    * The VERIFIED near-dup pair table is memoized — the minhash index's
    * final artifact. Three consumers reference it (pair listing,
    * cluster-label build, triangle counting), and [[triangleCount]] alone
    * references the edge list four times in one plan — without the memo
    * each reference re-ran the candidate aggregation + Jaccard verify
    * (observed: 3.4 s vs 0.7 s for the single-reference query at sf0.1).
    * O(pairs) rows cached.
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeDisk(spark, dir, "mh_pairs", mhConfigKey)(
      // Candidate pairs from the (band, sig) posting lists — not a bucket
      // self-join, which would compute the minhash-signature pipeline once
      // per join side and shuffle twice. The MaxBandBucket cap drops a
      // mega-bucket before any collect buffer sees it.
      verifyJaccard(spark, dir, PostingPairs(bands(spark, dir), Seq("band", "sig"),
        "doc_id", Some(MaxBandBucket))))

  /** The full minhash pipeline as a reusable CTE chain ending in
    * `mhpairs(doc_a, doc_b, jaccard)` — shared verbatim by
    * [[dedupMinhashSql]] and the connected-components oracle of
    * [[dedupClusterSql]], so the two oracles can never drift apart.
    */
  private[queries] val minhashPairsCtes: String = {
    val mins = AB.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $P)) AS mh$i"
    }.mkString(",\n             ")
    val bandSelects = (0 until Bands).map { b =>
      val sig = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}")
        .mkString("concat(", ", '-', ", ")")
      s"SELECT doc_id, $b AS band, $sig AS sig FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""$shinglePairsCte,
       |mh AS (SELECT doc_id,
       |             $mins
       |      FROM hs),
       |bands AS (
       |  $bandSelects),
       |oversized AS (SELECT band, sig FROM bands GROUP BY 1, 2 HAVING count(*) > $MaxBandBucket),
       |bounded AS (SELECT b.* FROM bands b
       |            WHERE NOT EXISTS (SELECT 1 FROM oversized o
       |                              WHERE o.band = b.band AND o.sig = b.sig)),
       |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |         FROM bounded x JOIN bounded y
       |           ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
       |inter AS (SELECT c.da, c.db, count(*) AS i
       |          FROM cand c
       |          JOIN ex a ON a.doc_id = c.da
       |          JOIN ex b ON b.doc_id = c.db AND b.h = a.h
       |          GROUP BY 1, 2),
       |mhpairs AS (SELECT i.da AS doc_a, i.db AS doc_b,
       |                   CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS jaccard
       |            FROM inter i
       |            JOIN sz sa ON sa.doc_id = i.da
       |            JOIN sz sb ON sb.doc_id = i.db
       |            WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= $JaccardTau)""".stripMargin
  }

  val dedupMinhashSql: String =
    s"""WITH $minhashPairsCtes
       |SELECT doc_a, doc_b, jaccard FROM mhpairs""".stripMargin

  // ------------------------------------------------------------ dedup_cluster
  /** `dedup_cluster` — connected components over the verified minhash
    * near-dup pair graph: every document gets a `cluster_id` = the minimum
    * doc_id reachable through near-duplicate links, and `is_canonical`
    * marks the one kept representative per cluster. This is the "keep one
    * per duplicate CLUSTER" step every production dedup pipeline runs after
    * pair generation — pairwise dedup alone under-deletes transitive chains
    * (a~b, b~c but a≁c keeps both a and c only if clustering is applied).
    *
    * Algorithm: iterative min-label propagation WITH POINTER JUMPING to a
    * FIXPOINT ([[propagateMinLabels]]) — labels start as own ids, each
    * round every vertex takes the min of its own and its neighbors'
    * labels and then jumps `lbl ← lbl(lbl)`, a convergence count stops
    * the loop. The jump makes rounds O(log diameter): near-dup components
    * are dense quasi-cliques (2-3 rounds), and even an adversarially
    * CHAIN-shaped component converges far inside the bound (a
    * diameter-299 path closes in ~9 rounds — property-pinned), where
    * plain propagation needed one round per hop.
    *
    * The label table is an iterative index-BUILD artifact (like the IVF
    * codebook): built once per (session, dir) under [[Memo]] — the
    * convergence loop's Spark jobs run at first construction only — and
    * the per-invocation plan is one left join of `documents` against the
    * cached O(V) label table. Each round is one shuffle join on vertex id
    * + one min-aggregation; `localCheckpoint` truncates the growing loop
    * lineage so round N's plan doesn't replay rounds 1..N-1.
    */
  val MaxCcRounds = 50

  /** Min-label propagation WITH POINTER JUMPING to fixpoint over an
    * undirected pair graph: `pairs` is any 2-column (a, b) edge list;
    * returns the O(V) label table (id, lbl) with lbl = min id reachable
    * from id. Shared by the minhash text-pair graph ([[dedupCluster]]) and
    * the embedding near-dup graph (SimilarityQueries.dedupClusterEmbed).
    * Callers memoize the result as an index-build artifact.
    *
    * Each round folds the min neighbor label in (the propagation step)
    * and then jumps `lbl ← lbl(lbl)` (the pointer-doubling step of
    * classic PRAM/MapReduce connected components, same acceleration as
    * large-star contraction): the distance a label still has to travel
    * halves every round, so convergence is O(log diameter) rounds, not
    * O(diameter) — a path-shaped component of ANY realistic length
    * converges far inside [[MaxCcRounds]] (2^50 vertices at the bound),
    * where the plain propagation loop hard-failed at diameter > 50.
    * DedupPropertySpec pins a diameter-299 path (fails without jumping)
    * and random-graph equality against a driver-side union-find.
    *
    * Safety of the jump: labels start as own ids and only decrease;
    * lbl(v) is always an id inside v's component with lbl(v) ≤ v, hence
    * lbl(lbl(v)) is too — the jump never leaves the component and never
    * increases a label. At the combined fixpoint the propagation
    * condition alone forces lbl(u) = lbl(v) across every edge, so labels
    * are constant per component and equal to the component minimum — the
    * same unique fixpoint as the unjumped loop.
    */
  private[graft] def propagateMinLabels(pairs: DataFrame): DataFrame = {
    val p = pairs.toDF("src", "dst")
    // symmetric edge list: propagation must flow both directions
    val edges = p.union(p.select(col("dst"), col("src"))).persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint()
    var round = 0
    var changed = 1L
    while (changed > 0 && round < MaxCcRounds) {
      // min neighbor label per vertex, then fold into own label
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("lbl").as("nlbl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nlbl")).as("nmin"))
      val stepped = labels.select(col("id"), col("lbl").as("old"))
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nmin"), col("old"))).as("lbl"))
        .localCheckpoint() // flat plan for the self-join below
      // pointer jump: lbl ← lbl(lbl). Every lbl value is itself a vertex
      // id, so the self-join finds its row; jlbl ≤ lbl by monotonicity
      // (least + coalesce are belt-and-braces, not semantics).
      val next = stepped
        .join(stepped.select(col("id").as("lbl"), col("lbl").as("jlbl")), Seq("lbl"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl"),
          (least(col("lbl"), coalesce(col("jlbl"), col("lbl"))) < col("old")).as("moved"))
        .localCheckpoint() // truncate loop lineage; also materializes for the count
      changed = next.filter(col("moved")).count()
      labels = next.select(col("id"), col("lbl"))
      round += 1
    }
    require(changed == 0,
      s"connected components: no fixpoint after $MaxCcRounds rounds")
    edges.unpersist()
    labels
  }

  private def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeDisk(spark, dir, "mh_cluster_labels",
      s"$mhConfigKey rounds=$MaxCcRounds")(
      propagateMinLabels(dedupMinhash(spark, dir).select(col("doc_a"), col("doc_b"))))

  def dedupCluster(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
    val cluster = coalesce(col("lbl"), col("doc_id"))
    Tables.docs(spark, dir)
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), cluster.as("cluster_id"),
        (cluster === col("doc_id")).as("is_canonical"))
  }

  /** Oracle: transitive closure by recursive CTE — `reach(id, x)` holds
    * every vertex x reachable from id over the symmetric near-dup edges;
    * cluster_id = min(x). O(Σ component²) rows — fine at oracle scale,
    * which is exactly why the engine side uses label propagation instead.
    */
  val dedupClusterSql: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM mhpairs
       |          UNION ALL SELECT doc_b, doc_a FROM mhpairs),
       |reach(id, x) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT r.id, e.b FROM reach r JOIN edges e ON e.a = r.x),
       |comp AS (SELECT id, min(x) AS cluster_id FROM reach GROUP BY id)
       |SELECT d.doc_id,
       |       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       |       coalesce(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin

  // ------------------------------------------------------- dup_cluster_stats
  /** `dup_cluster_stats` — the duplication-multiplicity histogram of the
    * near-dup clustering: one row per cluster SIZE with how many clusters
    * have that size and how many documents they hold. This is the dedup
    * audit every large-corpus pipeline reports ("N% of the corpus sits in
    * duplicate groups of size k") — the number that justifies the dedup
    * stage's cost and catches a banding/threshold retune that silently
    * collapses or shatters the clustering. Size-1 rows are the unique
    * documents (singleton clusters), so `n_docs` partitions the corpus
    * exactly (test-pinned).
    *
    * Scale shape: one scan of the disk-cached cluster-label artifact
    * ([[dedupCluster]]'s join against the memoized labels), then two
    * partial-final hash aggregations whose outputs are ≤ |clusters| and
    * ≤ |distinct sizes| rows — nothing after the first aggregate is
    * corpus-sized. `n_docs = cluster_size × n_clusters` stays a BIGINT
    * product (no double, no HUGEINT-promoting sum).
    */
  def dupClusterStats(spark: SparkSession, dir: String): DataFrame =
    dedupCluster(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  val dupClusterStatsSql: String =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM mhpairs
       |          UNION ALL SELECT doc_b, doc_a FROM mhpairs),
       |reach(id, x) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT r.id, e.b FROM reach r JOIN edges e ON e.a = r.x),
       |comp AS (SELECT id, min(x) AS cluster_id FROM reach GROUP BY id),
       |assign AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |           FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM assign GROUP BY 1)
       |SELECT cluster_size, count(*) AS n_clusters,
       |       cluster_size * count(*) AS n_docs
       |FROM sizes GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ dedup_simhash
  /** `dedup_simhash` — 32-bit SimHash fingerprint over distinct token
    * hashes (unit weights): bit j of the fingerprint is the sign of
    * Σ_tokens (±1 by bit j of the token hash). Docs are then grouped by
    * identical fingerprint (keep min doc_id).
    *
    * The fingerprint is a pure per-document function, so SimHash32Expr
    * computes it IN-ROW (tokenize → distinct → hash60 → bit sums → sign
    * fold in one kernel): the only shuffle left is the final tiny
    * fingerprint grouping. The round-2/3a form exploded ~200 token rows
    * per doc and re-aggregated them by doc_id — a full exchange of the
    * token table that carried no information the row didn't already have.
    */
  val SimhashBits = 32

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Tables.docs(spark, dir)
      .select(col("doc_id"), graft.functions.SimHash32Expr(col("text")).as("simhash"))
      .filter(col("simhash").isNotNull) // token-less docs: absent in the
      // exploded/oracle formulation, so drop them here identically
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))

  val dedupSimhashSql: String = {
    val bitSums = (0 until SimhashBits).map { j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n              ")
    val fp = (0 until SimhashBits)
      .map(j => s"CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (${Oracle.toksCte}),
       |tok AS (SELECT doc_id, ${Oracle.hash60("w")} AS h
       |        FROM (SELECT doc_id, unnest(list_distinct(t)) AS w FROM toks)),
       |bits AS (SELECT doc_id,
       |              $bitSums
       |         FROM tok GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fp AS simhash FROM bits)
       |SELECT simhash, min(doc_id) AS keep_id, count(*) AS n_docs
       |FROM fp GROUP BY simhash""".stripMargin
  }

  // ------------------------------------------------------------ ngram_jaccard
  /** `ngram_jaccard` — exact n-gram Jaccard similarity via inverted-index
    * join (pairs sharing ≥1 shingle), verified at τ=0.5. Unlike
    * `dedup_minhash` this has perfect recall; the LSH variant is the
    * 100 TB path, this is the exact path.
    */
  val NgramJaccardTau = 0.5

  /** The pairwise-OVERLAP table (da, db, inter = |A∩B|), memoized, over the
    * full inverted index — the candidate-pair artifact every exact
    * similarity formula reads ([[ngramJaccard]]'s union ratio,
    * [[ngramContainment]]'s min ratio; a containment-direction or
    * overlap-coefficient variant would read it too). The Σ_h df(h)²/2
    * pair fan-out + count aggregation is the dominant cost of this family
    * — building it once per (session, dir) is the standard "materialize
    * the candidate pairs with overlap counts" step of a dedup job.
    * Intersection counts come from the shingles' posting lists
    * ([[graft.operators.PostingPairs]], uncapped: the oracle has no cap,
    * so a shingle's whole posting list sits in one collect buffer) — not
    * an h self-join, which scans/shuffles the pair table twice for the
    * same rows. The pinned repartition IS the aggregation exchange
    * (groupBy reuses the hash partitioning) — without it AQE sizes the
    * post-shuffle stage by BYTES and coalesces the byte-tiny pair rows to
    * ~3 tasks, serializing the CPU that runs in that stage.
    */
  private def interCounts(spark: SparkSession, dir: String): DataFrame =
    // Disk-cached index artifact (see [[Memo.memoizeDisk]]): the pair
    // fan-out + count aggregation is the dominant build of the exact
    // n-gram family, and its output is τ-independent (thresholds apply
    // downstream), so one build serves ngram_jaccard, ngram_containment
    // AND cosine_rerank across processes.
    Memo.memoizeDisk(spark, dir, "shingle_inter", s"tok=letter-runs n=3 P=$P")(
      PostingPairs(shinglePairs(spark, dir), Seq("h"), "doc_id")
        .repartition(spark.sparkContext.defaultParallelism, col("da"), col("db"))
        .groupBy(col("da"), col("db"))
        .agg(count(lit(1)).as("inter")))

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // |A∩B| from the memoized overlap table; the union term's sizes are a
    // per-row map over the cached array table (the array-verify of
    // [[verifyJaccard]] would only re-ship both shingle arrays per pair).
    val sizes = shingleSizes(spark, dir)
    val j = col("inter").cast("double") / (col("na") + col("nb") - col("inter"))
    interCounts(spark, dir)
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .select(col("da").as("doc_a"), col("db").as("doc_b"), j.as("jaccard"))
      .filter(col("jaccard") >= NgramJaccardTau)
  }

  val ngramJaccardSql: String =
    s"""WITH $shinglePairsCte,
       |sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
       |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |          FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT i.da AS doc_a, i.db AS doc_b,
       |       CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS jaccard
       |FROM inter i
       |JOIN sz sa ON sa.doc_id = i.da
       |JOIN sz sb ON sb.doc_id = i.db
       |WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= $NgramJaccardTau""".stripMargin

  // -------------------------------------------------------- ngram_containment
  /** `ngram_containment` — near-SUBSET detection: pairs where the smaller
    * document's shingle set is almost contained in the other's,
    * containment = |A∩B| / min(|A|,|B|) ≥ 0.9. Jaccard misses these (a
    * 50-shingle quote inside a 5000-shingle page has J ≈ 0.01 but
    * containment 1.0); real pipelines run both — Jaccard for near-twins,
    * containment for quotes/boilerplate/subset dups. Same overlap table
    * and the same sizes table as [[ngramJaccard]], so the scale story is
    * identical; only the verify formula differs.
    */
  val ContainmentTau = 0.9

  def ngramContainment(spark: SparkSession, dir: String): DataFrame = {
    val sizes = shingleSizes(spark, dir)
    val c = col("inter").cast("double") / least(col("na"), col("nb"))
    interCounts(spark, dir)
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .select(col("da").as("doc_a"), col("db").as("doc_b"), c.as("containment"))
      .filter(col("containment") >= ContainmentTau)
  }

  val ngramContainmentSql: String =
    s"""WITH $shinglePairsCte,
       |sz AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
       |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |          FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT i.da AS doc_a, i.db AS doc_b,
       |       CAST(i.i AS DOUBLE) / least(sa.n, sb.n) AS containment
       |FROM inter i
       |JOIN sz sa ON sa.doc_id = i.da
       |JOIN sz sb ON sb.doc_id = i.db
       |WHERE CAST(i.i AS DOUBLE) / least(sa.n, sb.n) >= $ContainmentTau""".stripMargin

  // ------------------------------------------------------------ decontaminate
  /** `decontaminate` — train/eval n-gram overlap detection, the standard
    * pretraining decontamination step (GPT-3 appendix C, Llama 2 §A.6):
    * every training document is checked for shingles it shares with a
    * held-out benchmark/eval set, and flagged with its overlap count so
    * the pipeline can drop or audit contaminated examples before
    * training. The eval set here is a deterministic stand-in carved from
    * the corpus (`doc_id % EvalMod == 0` — the tables ship no separate
    * benchmark file); swapping in a real benchmark table changes one
    * filter.
    *
    * Shape: both sides read the memoized exploded (doc_id, h) shingle
    * table; the eval side collapses to a DISTINCT shingle-hash set, the
    * train side inner-joins it on h (each train (doc, h) row matches AT
    * MOST ONE eval-set row — the eval side is distinct on the key — so a
    * hot shingle cannot fan out; output ≤ train pair count) and one
    * partial-final count aggregation per doc_id yields the overlap. A
    * REAL benchmark set is small and fixed, so at 100 TB its distinct
    * shingle set is a broadcast and the train side streams once; with
    * the corpus-derived stand-in the eval side grows with the corpus,
    * so no broadcast is hinted — AQE broadcasts it at test scale and the
    * join degrades to a shuffle-hash on h beyond that.
    *
    * Short documents (< 3 tokens) have no shingles and therefore no
    * overlap — both engines surface them as n_overlap = 0 via the final
    * left join against `documents`.
    */
  val EvalMod = 37L

  /** The eval set's DISTINCT shingle-hash table — the static side of the
    * decontamination join, shared by the batch query and the streaming
    * twin (StreamingOps.decontaminateDocs joins it stream-static).
    */
  private[graft] def evalShingles(spark: SparkSession, dir: String): DataFrame =
    shinglePairs(spark, dir).filter(col("doc_id") % EvalMod === 0)
      .select(col("h")).distinct()

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val pairs = shinglePairs(spark, dir)
    val evalH = evalShingles(spark, dir)
    val hits = pairs.filter(col("doc_id") % EvalMod =!= 0)
      .join(evalH, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hit"))
    Tables.docs(spark, dir).filter(col("doc_id") % EvalMod =!= 0)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hit"), lit(0L)).as("n_overlap"),
        (coalesce(col("hit"), lit(0L)) > 0).as("contaminated"))
  }

  val decontaminateSql: String =
    s"""WITH $shinglePairsCte,
       |ev AS (SELECT DISTINCT h FROM ex WHERE doc_id % $EvalMod = 0),
       |hits AS (SELECT e.doc_id, count(*) AS hit
       |         FROM ex e JOIN ev ON ev.h = e.h
       |         WHERE e.doc_id % $EvalMod <> 0 GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(coalesce(h.hit, 0) AS BIGINT) AS n_overlap,
       |       coalesce(h.hit, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
       |WHERE d.doc_id % $EvalMod <> 0""".stripMargin

  // ------------------------------------------------------ decontaminate_bloom
  /** `decontaminate_bloom` — [[decontaminate]] with an EXPLICIT Bloom
    * runtime filter: the eval set's distinct shingle hashes build a Bloom
    * sketch (distributed `BloomFilterAggregate` — associative merges, only
    * the finished KB-scale sketch reaches the driver, memoized like every
    * index-build artifact), and the corpus-sized train shingle stream is
    * pruned by the codegen `might_contain` probe BEFORE it reaches the
    * exact join. `might_contain` has no false negatives, so the output is
    * bit-identical to [[decontaminate]] (same oracle SQL); false positives
    * only pass extra rows into the exact join, which rejects them.
    *
    * This is the production decontamination layout at 100 TB: the exact
    * join needs a shuffle (or a broadcast of the eval side), but ~99% of
    * train shingle rows can't match at all (FPP = [[BloomFpp]]) — the
    * sketch kills them scan-locally, so the exchange carries candidates,
    * not the corpus. It is also the engine's explicit form of Spark's own
    * `InjectRuntimeFilter` semi-join reduction, stated in the plan rather
    * than left to the optimizer's injection heuristics (which skip
    * aggregated-then-joined shapes like this one).
    */
  val BloomFpp = 0.01

  /** The serialized eval-set Bloom sketch (memoized build artifact; the
    * `count()` is build-time sketch sizing, not per-query work).
    */
  private[graft] def evalBloomBytes(spark: SparkSession, dir: String): Array[Byte] =
    Memo.memoizeDisk(spark, dir, "eval_bloom",
      s"fpp=$BloomFpp EvalMod=$EvalMod") {
      val ev = evalShingles(spark, dir)
      val n = math.max(ev.count(), 1L)
      ev.agg(graft.functions.BloomFns
        .bloomAgg(col("h"), n, graft.functions.BloomFns.optimalBits(n, BloomFpp))
        .as("bf"))
    }.head().getAs[Array[Byte]]("bf")

  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val bf = evalBloomBytes(spark, dir)
    val hits = shinglePairs(spark, dir)
      .filter(col("doc_id") % EvalMod =!= 0)
      .filter(graft.functions.BloomFns.mightContain(bf, col("h"))) // pre-shuffle prune
      .join(evalShingles(spark, dir), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hit"))
    Tables.docs(spark, dir).filter(col("doc_id") % EvalMod =!= 0)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hit"), lit(0L)).as("n_overlap"),
        (coalesce(col("hit"), lit(0L)) > 0).as("contaminated"))
  }

  // -------------------------------------------------------------- fuzzy_dedup
  /** `fuzzy_dedup` — blocked edit-distance entity resolution over the part
    * NAME vocabulary: pairs of distinct names within Levenshtein distance 2
    * of each other, each carrying its record support count. The record-
    * linkage / catalog-canonicalization primitive ("cold plate" vs "old
    * plate"): the emitted pairs are the merge candidates a resolution pass
    * consumes.
    *
    * Scale shape: the corpus FIRST collapses to the distinct key vocabulary
    * with support counts (one partial-final hash agg — raw rows are never
    * pairwise-compared; the name space grows sublinearly in records), then
    * a BLOCKED self-join compares only names sharing a block key (last
    * token), the standard ER blocking that turns O(|vocab|²) into
    * Σ|block|². Blocking is lossy by design when a true pair spans blocks
    * (classic recall/cost tradeoff — here a differential test shows zero
    * loss on this corpus); the in-block comparison uses Spark's
    * early-abandoning `levenshtein(l, r, threshold)` kernel, O(len·k)
    * instead of O(len²) per pair.
    */
  def fuzzyDedup(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables(spark, dir, "part")
      .groupBy(col("p_name")).agg(count(lit(1)).as("n"))
      .select(col("p_name"), col("n"),
        element_at(split(col("p_name"), " "), -1).as("blk"))
    val a = names.select(col("blk"), col("p_name").as("name_a"), col("n").as("n_a"))
    val b = names.select(col("blk"), col("p_name").as("name_b"), col("n").as("n_b"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b"), 2).cast("long").as("dist"),
        col("n_a"), col("n_b"))
      .filter(col("dist") =!= -1L) // threshold kernel returns -1 above k
  }

  val fuzzyDedupSql: String =
    """WITH p AS (SELECT p_name, CAST(count(*) AS BIGINT) AS n,
      |                  string_split(p_name, ' ')[-1] AS blk
      |           FROM part GROUP BY p_name)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
      |       a.n AS n_a, b.n AS n_b
      |FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin

  // ----------------------------------------------------------- triangle_count
  /** `triangle_count` — graph analytics over the verified near-dup pair
    * graph (the classic MapReduce-era graph benchmark, and
    * [[dedupCluster]]'s structural complement: components say WHICH docs
    * connect, triangle density says HOW tightly): one summary row with
    * vertex/edge/wedge/triangle counts and the global clustering
    * coefficient `3·T / W` — near-dup components that are cliques
    * (true duplicate groups) score ~1, chain-shaped false-positive
    * bridges score ~0, so the coefficient is a dedup-graph QUALITY
    * metric, not just a curiosity.
    *
    * Algorithm: degree-ordered triangle enumeration (the MapReduce
    * standard, Suri & Vassilvitskii's node-iterator++): orient every
    * edge from its (degree, id)-smaller endpoint, enumerate wedges at
    * each vertex over its OUT-neighbors only, and close each wedge
    * against the edge set. The orientation bounds out-degree by
    * O(√m), so per-vertex wedge generation is O(√m)-bounded where the
    * naive node-iterator explodes on hubs — the skew story at 100 TB.
    * Each triangle {u,v,w} is counted EXACTLY once: at its rank-minimum
    * vertex. The ORACLE is deliberately the orientation-free 3-way
    * self-join on id-ordered edges — hash-matching it proves the
    * orientation trick loses/duplicates nothing.
    *
    * Scale shape: degree table = one partial-final hash agg over the
    * exploded edge list (O(V)); orientation = two vertex-keyed joins;
    * wedge generation = the out-neighbor posting lists
    * ([[graft.operators.PostingPairs]]: pairs stream, no n² buffer — and
    * |out(v)| ≤ O(√m) by the orientation); closing = one (da, db)-keyed
    * equi-join against the edge list; the summary is three 1-row aggregates crossJoined
    * (O(1) broadcasts, PlanGuard-allowlisted). The corpus-sized text
    * pipeline behind the edges is the SHARED memoized minhash index.
    */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val e = dedupMinhash(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val ed = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val srcIsA = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = ed.select(
      when(srcIsA, col("a")).otherwise(col("b")).as("src"),
      when(srcIsA, col("b")).otherwise(col("a")).as("dst"))
    val wedges = PostingPairs(oriented, Seq("src"), "dst") // (da, db), da < db
    val tri = wedges.join(e,
      wedges("da") === e("a") && wedges("db") === e("b"))
      .agg(count(lit(1)).as("n_triangles"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    val degStats = deg.agg(count(lit(1)).as("n_vertices"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    degStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(tri))
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        ((col("n_triangles") * 3L).cast("double") /
          col("n_wedges").cast("double")).as("global_cc"))
  }

  /** Orientation-free oracle: triangles = id-ordered 3-way edge self-join
    * (every triangle x<y<z appears exactly once as (x,y),(y,z),(x,z)).
    */
  val triangleCountSql: String =
    s"""WITH $minhashPairsCtes,
       |e AS (SELECT doc_a AS a, doc_b AS b FROM mhpairs),
       |deg AS (SELECT v, count(*) AS d
       |        FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
       |        GROUP BY v),
       |tri AS (SELECT count(*) AS n_tri
       |        FROM e e1 JOIN e e2 ON e2.a = e1.b
       |                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
       |SELECT (SELECT count(*) FROM deg) AS n_vertices,
       |       (SELECT count(*) FROM e) AS n_edges,
       |       (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
       |       (SELECT CAST(n_tri AS BIGINT) FROM tri) AS n_triangles,
       |       CAST(3 * (SELECT n_tri FROM tri) AS DOUBLE) /
       |         CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS DOUBLE) AS global_cc""".stripMargin

  // --------------------------------------------------------------- pagerank
  /** Scale factor for the integer PageRank arithmetic: scores are BIGINT
    * multiples of 1/PrScale. 10⁹ keeps 9 decimal digits of rank precision
    * while leaving 2⁶³ headroom for the hottest vertex's received sum:
    * total score mass is ≤ V·PrScale at every iteration (the damped
    * update redistributes, floors only shrink), so `85 · Σ contribs`
    * stays under 2⁶³ up to V ≈ 10⁸ graph vertices. Past that, shrink the
    * scale (10⁶ buys V ≈ 10¹¹) — rank ORDER is what downstream consumes.
    */
  val PrScale = 1000000000L
  val PrIters = 3
  private val PrBase = 15L * PrScale / 100 // (1 − 0.85) · PrScale

  /** `pagerank` — vertex centrality over the verified near-dup pair graph
    * (the third member of the graph family: [[dedupCluster]] = WHICH docs
    * connect, [[triangleCount]] = HOW tightly, pagerank = WHO is central).
    * On a dedup graph, high-rank documents are the hubs that near-match
    * many others (template/boilerplate carriers) — a keep-priority /
    * review-priority signal the flat duplicate flag can't give.
    *
    * EXACT fixed-point-free formulation: [[PrIters]] damped iterations in
    * scaled BIGINT arithmetic — score₀ = PrScale; each round every vertex
    * emits `score div degree` along each edge and re-scores to
    * `0.15·PrScale + (85 · Σ incoming) div 100`. Every op is an
    * associative BIGINT sum or a positive integer floor division, so the
    * result is bit-identical across partial-aggregation orders and
    * engines — the libm-free discipline that lets an iterative numeric
    * algorithm hash-match a different engine. (True PageRank's float
    * division differs only below the scale quantum; ranking is preserved.)
    * The undirected graph has no dangling vertices by construction (every
    * vertex carries ≥ 1 edge), so no sink-mass term is needed.
    *
    * Scale shape: each iteration is ONE vertex-keyed equi-join (scores ⋈
    * degree-annotated edges) + ONE partial-final sum aggregation — O(E)
    * per round, the standard Pregel/MapReduce PageRank step. The edge
    * list derives from the memoized minhash index ([[dedupMinhash]]);
    * iteration count is fixed and small, so the unrolled lineage stays
    * shallow (no checkpoint needed, unlike [[propagateMinLabels]]'s
    * data-dependent loop).
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    // The O(V) score table is an iterative index-BUILD artifact (exactly
    // like [[dedupCluster]]'s label table): the unrolled-iteration jobs run
    // once per (session, dir); steady-state invocations read the cache.
    Memo.memoizeDisk(spark, dir, "pagerank_scores",
      s"$mhConfigKey iters=$PrIters scale=$PrScale")(
      pagerankScores(
        dedupMinhash(spark, dir).select(col("doc_a").as("a"), col("doc_b").as("b")))
        .select(col("v").as("doc_id"), col("d").as("degree"),
          col("s").as("pr_scaled"),
          (col("s").cast("double") / lit(PrScale.toDouble)).as("pr")))

  /** The damped integer-PageRank core over any undirected 2-column (a, b)
    * edge list: returns (v, d = degree, s = scaled score after
    * [[PrIters]] rounds). Factored for property tests on crafted graphs
    * (the corpus graph's components happen to be regular, where PageRank
    * is uniform by symmetry — discrimination must be pinned on an
    * irregular one).
    */
  private[graft] def pagerankScores(pairs: DataFrame): DataFrame = {
    val und = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val edges = und.join(deg, "src") // (src, dst, d = out-degree of src)
    var s = deg.select(col("src").as("v"), lit(PrScale).as("s"))
    for (_ <- 1 to PrIters) {
      s = edges.join(s, edges("src") === s("v"))
        .select(col("dst"), expr("s div d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("r"))
        .select(col("dst").as("v"),
          (lit(PrBase) + expr("(85 * r) div 100")).as("s"))
    }
    s.join(deg, s("v") === deg("src")).select(col("v"), col("d"), col("s"))
  }

  /** Oracle: the same damped integer recurrence unrolled as a CTE chain
    * (s0 → s1 → … — DuckDB's recursive CTEs can't aggregate in the
    * recursive term, and unrolling keeps the oracle a plain join/GROUP BY
    * pipeline). `//` on positive BIGINTs floors exactly like Spark's
    * `div`; the HUGEINT sum is cast back to BIGINT before the damping
    * multiply so both engines do the identical 64-bit arithmetic.
    */
  val pagerankSql: String = {
    val iters = (1 to PrIters).map { i =>
      s"""s$i AS (SELECT ed.dst AS v,
         |             $PrBase + (85 * CAST(sum(s${i - 1}.s // ed.d) AS BIGINT)) // 100 AS s
         |      FROM ed JOIN s${i - 1} ON s${i - 1}.v = ed.src GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $minhashPairsCtes,
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM mhpairs
       |      UNION ALL SELECT doc_b AS src, doc_a AS dst FROM mhpairs),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, deg.d FROM e JOIN deg USING (src)),
       |s0 AS (SELECT src AS v, CAST($PrScale AS BIGINT) AS s FROM deg),
       |$iters
       |SELECT deg.src AS doc_id, deg.d AS degree, s$PrIters.s AS pr_scaled,
       |       CAST(s$PrIters.s AS DOUBLE) / $PrScale.0 AS pr
       |FROM s$PrIters JOIN deg ON deg.src = s$PrIters.v""".stripMargin
  }

  // ---------------------------------------------------- dup_ngram_coverage
  /** `dup_ngram_coverage` — per-document duplicated-shingle fraction: of a
    * doc's distinct 3-gram shingles, how many occur in at least one OTHER
    * document (df ≥ 2). This is the RefinedWeb/Dolma-style "duplicate
    * n-gram coverage" quality signal: a PAIRWISE dedup pass only removes
    * near-twins, while a doc stitched together from many sources carries
    * high coverage without any single near-duplicate partner — the
    * mosaic-boilerplate case the pair graph misses. Exact arithmetic:
    * both counts are BIGINTs off the shared shingle index, the fraction
    * is one IEEE division of exact integers.
    *
    * Scale shape: ZERO new corpus passes — a filter + doc-keyed
    * partial-final count over the memoized df-annotated pair table
    * ([[shinglePairsDf]]) and one doc_id-keyed zero-fill join against the
    * memoized size table ([[shingleSizes]]). Documents under 3 tokens
    * have no shingles and are out of scope on both engines.
    */
  def dupNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val dup = shinglePairsDf(spark, dir).filter(col("df") >= 2)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    shingleSizes(spark, dir)
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (coalesce(col("n_dup"), lit(0L)).cast("double") /
          col("n").cast("double")).as("dup_frac"))
  }

  val dupNgramCoverageSql: String =
    s"""WITH $shinglePairsCte,
       |freq AS (SELECT h, count(*) AS df FROM ex GROUP BY 1),
       |dup AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_dup
       |        FROM ex e JOIN freq f ON f.h = e.h WHERE f.df >= 2 GROUP BY 1),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1)
       |SELECT sz.doc_id, sz.n AS n_shingles,
       |       COALESCE(dup.n_dup, CAST(0 AS BIGINT)) AS n_dup,
       |       CAST(COALESCE(dup.n_dup, 0) AS DOUBLE) / CAST(sz.n AS DOUBLE) AS dup_frac
       |FROM sz LEFT JOIN dup ON dup.doc_id = sz.doc_id""".stripMargin

  // --------------------------------------------------------------- dup_spans
  /** Width of the duplicated-span gram (tokens). 10 mirrors the exact
    * substring-dedup literature's "long enough that a shared run is
    * copying, not coincidence" setting, scaled to this corpus's ~50-token
    * documents.
    */
  val DupSpanK = 10

  /** `dup_spans` — POSITIONAL duplicate-span extraction (the exact
    * substring-dedup shape of Lee et al.'s "Deduplicating Training Data
    * Makes Language Models Better"): for every document, the maximal
    * contiguous token ranges covered by at least one [[DupSpanK]]-token
    * gram that also occurs in ANOTHER document. Where the shingle family
    * answers "are these two DOCS near-dups?", this answers "WHICH PART of
    * this doc is copied?" — the span list is what a surgical span-removal
    * pass (cut the boilerplate, keep the original prose) consumes.
    * Gram identity is `hash60(gram) % P` — same collision posture as the
    * whole shingle family: deterministic and engine-identical, with a
    * ~2⁻³¹ per-pair false-merge probability that a 100 TB pass accepts.
    *
    * Span merging is the GAPS-AND-ISLANDS window family (its first
    * position-axis member here; `sessionize` is the time-axis one): grams
    * sort per doc by position, a gram starts a new island iff its covered
    * interval [pos, pos+K−1] neither overlaps nor touches the running
    * max end of its predecessors, and the island id is the running sum of
    * those starts. All arithmetic is BIGINT positions — engine-exact.
    *
    * Scale shape: the positional gram table is one scan-local
    * explode (native tokenize/ngram kernels); duplicated-gram selection
    * is a partial-final min/max agg (min(doc_id) != max(doc_id) ⟺ ≥ 2
    * distinct docs) collapsing map-side to the gram
    * VOCABULARY; the hit join is h-keyed (the tf⋈df shape — both sides
    * shuffle on the key, no broadcast of an unbounded side); the island
    * windows partition by doc_id, whose partition size is bounded by
    * document LENGTH (not corpus size) — skew-free by construction.
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val k = DupSpanK
    // the positional gram table (doc_id, pos, h), memoized — referenced
    // twice (df aggregation + hit join); one persisted copy serves both,
    // so the corpus is tokenized/exploded once per (session, dir), not
    // once per plan reference
    val pg = Memo.memoize(spark, dir, "dup_spans_pos_grams")(
      Tables.docs(spark, dir)
        .select(col("doc_id"),
          posexplode(TextFns.wordNgrams(TextFns.tokens(col("text")), k)))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          (TextFns.hash60(col("col")) % P).as("h")))
    // "occurs in ANOTHER document" = distinct-doc count >= 2 = min(doc_id)
    // != max(doc_id): min/max partial-aggregate map-side (guide §2.3), so
    // the exchange carries one row per (partition, gram) — the round-17
    // countDistinct form planned a two-exchange distinct expansion whose
    // FIRST shuffle carried the full positional-gram mass keyed
    // (h, doc_id), the query's largest exchange at any scale.
    val dup = pg.groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select("h")
    val hits = pg.join(dup, "h").select(col("doc_id"), col("pos"))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = hits
      .withColumn("pe", max(col("pos") + lit(k - 1).cast("long")).over(wPrev))
      .withColumn("ni",
        when(col("pe").isNull || col("pos") > col("pe") + 1L, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(wRun))
    isl.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  val dupSpansSql: String = {
    val k = DupSpanK
    val km1 = k - 1
    s"""WITH toks AS (${Oracle.toksCte}),
       |pg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |              ${Oracle.hash60(s"array_to_string(t[i:i+$km1], ' ')")} % $P AS h
       |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - $km1)) AS i
       |             FROM toks WHERE len(t) >= $k)),
       |dup AS (SELECT h FROM pg GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |hits AS (SELECT pg.doc_id, pg.pos FROM pg JOIN dup USING (h)),
       |fl AS (SELECT doc_id, pos,
       |         CASE WHEN max(pos + $km1) OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |              OR pos > max(pos + $km1) OVER (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
       |              THEN 1 ELSE 0 END AS ni
       |       FROM hits),
       |isl AS (SELECT doc_id, pos,
       |               CAST(sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS island
       |        FROM fl)
       |SELECT doc_id, min(pos) AS span_start, max(pos) + $km1 AS span_end,
       |       CAST(count(*) AS BIGINT) AS n_grams
       |FROM isl GROUP BY doc_id, island""".stripMargin
  }

  // ------------------------------------------------------------- link_predict
  /** `link_predict` — common-neighbor link prediction over the verified
    * near-dup graph (the graph family's fourth member: [[dedupCluster]] =
    * which docs connect, [[triangleCount]] = how tightly, `pagerank` = who
    * is central, this = how strongly SHOULD each pair connect): every pair
    * with ≥ 1 shared neighbor, scored by shared-neighbor count and
    * neighbor-set Jaccard `cn / (deg_a + deg_b − cn)` (Liben-Nowell &
    * Kleinberg 2003), with an `is_edge` flag. Unlinked scored pairs are
    * the LINK PREDICTIONS — candidates the LSH banding missed but
    * transitivity implicates, the first pairs a second verify pass should
    * check (on a clique-y dup graph this set is often empty: transitive
    * duplicates all band together, and the flag records that finding
    * rather than hiding it); linked pairs get their EMBEDDEDNESS — the
    * tie-strength signal that separates core clique edges from bridge
    * edges when choosing cluster representatives. Scores are one IEEE
    * division of exact BIGINTs.
    *
    * Scale shape: wedge pairs come from the SAME neighbor posting lists
    * ([[graft.operators.PostingPairs]]) as [[triangleCount]] (no
    * adjacency self-join — the upstream runs once and pairs STREAM out of
    * GenerateExec); a hot vertex of degree d costs d²/2 generated pairs,
    * bounded by the dedup graph's [[MaxBandBucket]]-capped degrees. The
    * pair table then collapses partial-final to (pair → cn), the edge
    * flag attaches by a left join on the pair key, and degrees attach by
    * two key-equi joins (vertex-vocabulary-sized relations, AQE
    * broadcasts them when small).
    */
  def linkPredict(spark: SparkSession, dir: String): DataFrame = {
    val e = dedupMinhash(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val und = e.select(col("a").as("v"), col("b").as("n"))
      .unionAll(e.select(col("b").as("v"), col("a").as("n")))
    val deg = und.groupBy(col("v")).agg(count(lit(1)).as("d"))
    val cn = PostingPairs(und, Seq("v"), "n")
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("cn"))
    val edges = e.select(col("a").as("da"), col("b").as("db"))
      .withColumn("flag", lit(true))
    cn.join(edges, Seq("da", "db"), "left")
      .join(deg.select(col("v").as("da"), col("d").as("deg_a")), "da")
      .join(deg.select(col("v").as("db"), col("d").as("deg_b")), "db")
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("cn"),
        col("deg_a"), col("deg_b"),
        (col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double")).as("score"),
        coalesce(col("flag"), lit(false)).as("is_edge"))
  }

  val linkPredictSql: String =
    s"""WITH $minhashPairsCtes,
       |e AS (SELECT doc_a AS a, doc_b AS b FROM mhpairs),
       |und AS (SELECT a AS v, b AS n FROM e UNION ALL SELECT b AS v, a AS n FROM e),
       |deg AS (SELECT v, count(*) AS d FROM und GROUP BY v),
       |cn AS (SELECT u1.n AS da, u2.n AS db, count(*) AS cn
       |       FROM und u1 JOIN und u2 ON u1.v = u2.v AND u1.n < u2.n
       |       GROUP BY 1, 2)
       |SELECT w.da AS doc_a, w.db AS doc_b, w.cn,
       |       dx.d AS deg_a, dy.d AS deg_b,
       |       CAST(w.cn AS DOUBLE) / CAST(dx.d + dy.d - w.cn AS DOUBLE) AS score,
       |       EXISTS (SELECT 1 FROM e WHERE e.a = w.da AND e.b = w.db) AS is_edge
       |FROM cn w JOIN deg dx ON dx.v = w.da JOIN deg dy ON dy.v = w.db""".stripMargin

  // ------------------------------------------------------ dedup_recall_report
  /** `dedup_recall_report` — the dedup index AUDITING ITSELF: exact
    * near-dup pairs at τ=[[JaccardTau]] (ground truth, from the lossless
    * inverted-index join) bucketed by Jaccard decile, with how many of
    * each bucket the MinHash+LSH index recovered and the per-bucket
    * recall. This is the artifact a production dedup pipeline publishes
    * next to its output: LSH recall is a TUNABLE (bands × rows trade
    * recall for index cost), rises steeply with Jaccard by the banding
    * S-curve `1-(1-j^r)^b`, and a per-decile report shows exactly where
    * the knee sits on THIS corpus — the empirical counterpart of the
    * SimilarityPropertySpec recall floors, computed by the engine itself.
    * Precision needs no column: verified LSH pairs are a subset of the
    * exact set by construction (the Jaccard verify rejects every banding
    * false positive — pinned by test).
    *
    * Scale shape: both inputs are the memoized pair tables the dedup
    * family already builds (no new corpus pass); the bucket report is a
    * pair-key left join + one partial-final aggregation to ≤ 3 decile
    * rows. Buckets compare bit-identical doubles (both engines compute
    * jaccard by the same single division), so `floor(j·10)` can never
    * disagree at a boundary.
    */
  def dedupRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val exact = ngramJaccard(spark, dir).filter(col("jaccard") >= JaccardTau)
    val mh = dedupMinhash(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(true).as("found"))
    exact.select(col("doc_a"), col("doc_b"), col("jaccard"))
      .join(mh, Seq("doc_a", "doc_b"), "left")
      .groupBy(floor(col("jaccard") * 10).cast("long").as("j_bucket"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("found"), lit(1L)).otherwise(lit(0L))).as("n_found"))
      .withColumn("recall",
        col("n_found").cast("double") / col("n_exact").cast("double"))
  }

  val dedupRecallReportSql: String =
    s"""WITH $minhashPairsCtes,
       |exinter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
       |            FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |            GROUP BY 1, 2),
       |expairs AS (SELECT i.da, i.db,
       |                   CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS jaccard
       |            FROM exinter i
       |            JOIN sz sa ON sa.doc_id = i.da
       |            JOIN sz sb ON sb.doc_id = i.db
       |            WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= $JaccardTau)
       |SELECT CAST(floor(e.jaccard * 10) AS BIGINT) AS j_bucket,
       |       count(*) AS n_exact,
       |       CAST(sum(CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       |       CAST(sum(CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
       |         CAST(count(*) AS DOUBLE) AS recall
       |FROM expairs e
       |LEFT JOIN mhpairs m ON m.doc_a = e.da AND m.doc_b = e.db
       |GROUP BY 1""".stripMargin

  val entries: Seq[(String, QueryDef)] = Seq(
    "dedup_exact" -> QueryDef(dedupExact, Some(dedupExactSql)),
    "fuzzy_dedup" -> QueryDef(fuzzyDedup, Some(fuzzyDedupSql)),
    "dedup_minhash" -> QueryDef(dedupMinhash, Some(dedupMinhashSql)),
    "dedup_simhash" -> QueryDef(dedupSimhash, Some(dedupSimhashSql)),
    "ngram_jaccard" -> QueryDef(ngramJaccard, Some(ngramJaccardSql)),
    "ngram_containment" -> QueryDef(ngramContainment, Some(ngramContainmentSql)),
    // same plan and oracle as ngram_jaccard: the count plan beat a
    // prefix-filter plan on every corpus timed (sf0.01, sf0.1, GenScale
    // openvocab ×1 and ×10), open-vocabulary ones included
    "ngram_jaccard_prefix" -> QueryDef(ngramJaccard, Some(ngramJaccardSql)),
    "dedup_cluster" -> QueryDef(dedupCluster, Some(dedupClusterSql)),
    "dup_cluster_stats" -> QueryDef(dupClusterStats, Some(dupClusterStatsSql)),
    "decontaminate" -> QueryDef(decontaminate, Some(decontaminateSql)),
    // same oracle as decontaminate: the Bloom pre-filter has no false
    // negatives and the exact join rejects its false positives, so the
    // hash-match proves the pruning lossless per round
    "decontaminate_bloom" -> QueryDef(decontaminateBloom, Some(decontaminateSql)),
    "triangle_count" -> QueryDef(triangleCount, Some(triangleCountSql)),
    "pagerank" -> QueryDef(pagerank, Some(pagerankSql)),
    "dup_ngram_coverage" -> QueryDef(dupNgramCoverage, Some(dupNgramCoverageSql)),
    "dup_spans" -> QueryDef(dupSpans, Some(dupSpansSql)),
    "link_predict" -> QueryDef(linkPredict, Some(linkPredictSql)),
    "dedup_recall_report" -> QueryDef(dedupRecallReport, Some(dedupRecallReportSql)))
}
