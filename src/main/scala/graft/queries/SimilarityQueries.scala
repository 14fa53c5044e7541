package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TopKLongsAgg, VectorFns}

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, 64-dim): blocked cosine near-duplicate pairs (SURVEY
  * §2.4 Q12) and approximate-nearest-neighbor top-k — brute force as the
  * exact baseline, axis-LSH bucketing as the scale path.
  *
  * Numeric determinism: vectors are widened to double and folded
  * left-to-right (`VectorFns.dot`); norms are computed once per vector
  * before any join. Ranking orders by `round(cos, 6)` with the candidate id
  * as tiebreak, so rank boundaries never depend on sub-ULP float noise.
  */
object SimilarityQueries {

  /** Embeddings with precomputed double vector + norm (O(d) per row, once —
    * not recomputed per pair). Memoized-and-persisted per (session, dir)
    * (see [[Memo]]): every similarity query references this table 2-4×
    * (query side, corpus side, centroid/assignment branches), and without
    * the cache each reference re-scanned the parquet and re-derived
    * vector + norm — the dominant repeated cost in ann_ivf's round-3 plan.
    */
  private val embMemo = Memo.table()

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Memo.memoize(embMemo, spark, dir)(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), VectorFns.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorFns.norm(col("v"))))

  private val embCte: String =
    """e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |      FROM embeddings)""".stripMargin

  private def cosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    VectorFns.dot(va, vb) / (na * nb)

  // ------------------------------------------------------------ similar_pairs
  /** Q12 `similar_pairs` — embedding-cosine near-duplicate pairs within
    * `label` blocks at τ=0.35 (threshold fitted to the synthetic data's
    * cosine distribution). Blocking by label keeps the pair join linear per
    * block — the same role LSH bands play for text dedup.
    *
    * Skew guard: the block self-join is fragmented over an S×S salt grid
    * (see [[saltedBlockJoin]]) so one hot label never lands its entire
    * pair-quadratic on a single task.
    */
  val CosTau = 0.35

  /** Salt-grid fragmentation factor for block self-joins. Each side is
    * replicated S×; a block's pairs spread over S² join cells.
    */
  val SaltGrid = 4

  /** Fragment a block self-join over an S×S salt grid: left rows carry
    * (si = salt(leftId), sj = 0..S-1), right rows (si = 0..S-1,
    * sj = salt(rightId)); joining on (block, si, sj) makes each (a, b)
    * pair meet in EXACTLY one cell — (salt(a), salt(b)) — so results are
    * identical to the unsalted join, but a hot block's O(block²) pairs
    * spread across S² independent join cells instead of one straggler
    * task. Standard theta-join fragmentation; replication factor S per
    * side.
    */
  private def saltedGrid(df: DataFrame, idCol: String, ownAxis: String,
      otherAxis: String): DataFrame =
    df.withColumn(ownAxis, pmod(xxhash64(col(idCol)), lit(SaltGrid)).cast("int"))
      .withColumn(otherAxis, explode(array((0 until SaltGrid).map(lit): _*)))

  private def saltedJoinCond: Column =
    col("sa_i") === col("sb_i") && col("sa_j") === col("sb_j")

  def similarPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val a = saltedGrid(
      e.select(col("label"), col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na")),
      "a_id", "sa_i", "sa_j")
    val b = saltedGrid(
      e.select(col("label").as("lb"), col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb")),
      "b_id", "sb_j", "sb_i")
    a.join(b, col("label") === col("lb") && saltedJoinCond && col("a_id") < col("b_id"))
      .withColumn("sim", round(cosine(col("va"), col("vb"), col("na"), col("nb")), 4))
      .filter(col("sim") >= CosTau)
      .select(col("label"), col("a_id"), col("b_id"), col("sim"))
  }

  val similarPairsSql: String =
    s"""WITH $embCte
       |SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
       |       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS sim
       |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $CosTau""".stripMargin

  // ---------------------------------------------------------------- ann_topk
  /** `ann_topk` — exact brute-force cosine top-10 for a deterministic query
    * subset (vec_id ≡ 0 mod 101): broadcast the query side in BOUNDED
    * chunks, stream the corpus side once per chunk, per-query top-k via
    * window. This is the recall=1 baseline the LSH variant is measured
    * against.
    *
    * The query set is O(corpus/QueryMod), so an unchunked `broadcast(q)`
    * grows with the corpus and would kill the driver at 100 TB. Queries are
    * split into ceil(nq / MaxBroadcastQueries) disjoint hash classes; each
    * chunk broadcasts within a fixed memory bound and the corpus streams
    * once per chunk — same total compute, bounded memory. At the test SFs
    * nq < MaxBroadcastQueries, so this is a single chunk and the plan is
    * the round-1 plan unchanged.
    */
  val QueryMod = 101
  val TopK = 10
  val MaxBroadcastQueries = 65536

  /** Exact row count from the parquet FOOTERS — planning metadata only
    * (file listing + footer reads), NO Spark job. A bytes/row heuristic is
    * not safe here: a dictionary-/RLE-compressed file below the assumed
    * bytes/row would *under*count rows, undercount chunks, and let a
    * broadcast chunk exceed [[MaxBroadcastQueries]] — the memory bound the
    * chunking exists to protect. Footer record counts are exact regardless
    * of encoding.
    */
  /** Footer-count cache: at 100 TB the embeddings table is ~10⁵ files and
    * a footer pass costs driver minutes — do it once per (session, dir),
    * not per query construction.
    */
  private val rowsMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]

  private def estimatedRows(spark: SparkSession, dir: String): Long =
    Memo.memoizeValue(rowsMemo, spark, dir)(countRows(spark, dir))

  private def countRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(conf)
    // Recursive listing: a partitioned/bucketed embeddings table nests its
    // part files under key=value subdirectories — a top-level-only listing
    // would count 0 rows and silently defeat the MaxBroadcastQueries memory
    // bound the exact count exists to protect. Skip _metadata/_SUCCESS AND
    // dot-prefixed hidden files (neither is parquet data).
    val files: Seq[org.apache.hadoop.fs.Path] =
      if (fs.getFileStatus(p).isDirectory) {
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
        while (it.hasNext) {
          val s = it.next()
          val n = s.getPath.getName
          if (s.isFile && !n.startsWith("_") && !n.startsWith(".")) buf += s.getPath
        }
        require(buf.nonEmpty, s"countRows: no parquet data files under $p")
        buf.toSeq
      } else Seq(p)
    val rows = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
    math.max(1L, rows)
  }

  /** Chunk assignment for the bounded-broadcast query split. Hash first:
    * query ids are the multiples of [[QueryMod]] (vec_id % QueryMod == 0),
    * so chunking on `pmod(query_id, nChunks)` degenerates whenever nChunks
    * shares a factor with QueryMod — at nChunks = 101 every query lands in
    * chunk pmod(101k, 101m) ∈ 101·ℤ, i.e. chunk 0 holds ALL queries and
    * one broadcast carries the entire query set, defeating the byte bound
    * the chunking exists to enforce. xxhash64 spreads any id stride
    * uniformly across every chunk count. Correctness is chunk-count
    * independent (the classes partition the query set either way).
    */
  private[graft] def chunkOf(queryId: Column, nChunks: Int): Column =
    pmod(xxhash64(queryId), lit(nChunks.toLong))

  /** Per-query exact top-[[TopK]] over a candidate-pair stream carrying
    * both raw vectors (query_id, neighbor_id, qv, qn, cv, cn). Order is
    * `round(cos, 6) desc, neighbor_id asc`; `sim` is `round(cos, 4)`.
    *
    * NOT a `row_number` window: each candidate row necessarily carries
    * both 64-double vectors (the cosine is computed here), and a window
    * sorts the full candidate stream — ~1.1 KB per row through its
    * exchange. Measured at the 100× scale-up (sf10, 200 k vectors): the
    * brute-force truth build's 400 M-candidate window sort filled the
    * disk and killed the stage (BENCH_sf10_r15.json.failed), the same
    * failure mode hard_negatives hit a round earlier. Instead the rank
    * key packs into ONE long in the join projection — the
    * [[hardNegMine]] packing: round(cos6·10⁶) ∈ [−10⁶, 10⁶] shifted
    * non-negative, 21 bits, times 2^[[HardNegIdBits]] plus the
    * complemented id, with the id bound ENFORCED in-plan — and a bounded
    * distinct-top-k heap aggregate ([[TopKLongsAgg]], O(k) state) keeps
    * the k best per query: the vectors never leave the map side and the
    * aggregation exchange carries one ≤k-long buffer per query per
    * partition. Duplicate candidate PAIRS (the LSH multi-table union
    * emits a pair once per matching table) pack to the SAME long and the
    * aggregate's distinct semantics absorb them — no pre-scoring
    * `dropDuplicates` exchange either.
    *
    * The k winners (≤ TopK·nq rows) re-join the vector table by id to
    * recompute `sim` as round(cos, 4) EXACTLY — deriving it from the
    * packed 6-decimal value would double-round.
    *
    * PRECONDITION (silent-row-loss hazard, round-15 advice): BOTH id
    * columns of `joined` must be `emb(spark, dir)` vec_ids — the winner
    * re-join is INNER, so a candidate stream whose query or neighbor ids
    * are not drawn from the embeddings table (e.g. a future external
    * query-vector set) would silently drop those winners rather than
    * fail. All current callers pass emb-derived ids; a new call site with
    * external vectors must thread its own vector table through here
    * instead of emb (or left-join + assert).
    */
  private def ranked(spark: SparkSession, dir: String, joined: DataFrame): DataFrame = {
    val cos = cosine(col("qv"), col("cv"), col("qn"), col("cn"))
    val idCap = 1L << HardNegIdBits
    val guardedId = when(col("neighbor_id") < 0 || col("neighbor_id") >= lit(idCap),
      raise_error(concat(
        lit(s"ranked packing: neighbor_id outside [0, 2^$HardNegIdBits): "),
        col("neighbor_id").cast("string")))).otherwise(col("neighbor_id"))
    val pk = (round(round(cos, 6) * lit(1000000d)).cast("long") + lit(1000000L)) *
      lit(idCap) + (lit(idCap - 1L) - guardedId)
    val e = emb(spark, dir)
    val sim = round(cosine(col("qv2"), col("cv2"), col("qn2"), col("cn2")), 4)
    joined
      .select(col("query_id"), pk.as("pk"))
      .groupBy(col("query_id"))
      .agg(TopKLongsAgg(col("pk"), TopK).as("pks"))
      .select(col("query_id"), posexplode(col("pks")).as(Seq("pos", "pk")))
      .select(col("query_id"),
        (lit(idCap - 1L) - pmod(col("pk"), lit(idCap))).as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"))
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv2"),
        col("nrm").as("qn2")), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("cv2"),
        col("nrm").as("cn2")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"), sim.as("sim"))
  }

  /** `maxBroadcast` is the per-chunk query bound (default
    * [[MaxBroadcastQueries]]); tests pass a tiny cap to force the
    * multi-chunk path on small corpora, which the production bound never
    * reaches at test scale factors.
    */
  /** Disk-cached form of [[annTopk]] at the production operating point —
    * the recall=1 TRUTH TABLE is itself an index artifact: it is probed by
    * the declared `ann_topk` query, by [[annRecallReport]]'s ten
    * per-index semi-joins, and by SimilarityPropertySpec's recall floors, and its
    * O(corpus × queries) brute-force build is the most expensive plan in
    * the similarity family. Build-once/probe-many across JVMs is exactly
    * the 100 TB shape (the evaluation truth set is computed by one offline
    * job and read by every audit after). The config key pins the query
    * subset and k; `maxBroadcast` is NOT in the key because results are
    * chunk-count independent (the pmod classes partition the query set) —
    * tests that force the multi-chunk path call [[annTopk]] directly.
    */
  private val exactTopkMemo = Memo.table()

  def annTopkCached(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeDisk(exactTopkMemo, spark, dir, "exact_topk",
      s"mod=$QueryMod,k=$TopK")(annTopk(spark, dir))

  def annTopk(spark: SparkSession, dir: String,
      maxBroadcast: Long = MaxBroadcastQueries): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    // Chunk count from file-size metadata, not q.count(): the count was a
    // real Spark job on every DataFrame *construction* (scan + aggregate,
    // twice per bench with warmup). Results are identical for ANY
    // nChunks >= 1 — the pmod classes partition the query set — so an
    // estimate only has to bound per-chunk memory, which the conservative
    // row bound does.
    val nqBound = estimatedRows(spark, dir) / QueryMod + 1
    val nChunks = math.max(1L, (nqBound + maxBroadcast - 1) / maxBroadcast).toInt
    val joined = (0 until nChunks).map { k =>
      val qk = if (nChunks == 1) q else q.filter(chunkOf(col("query_id"), nChunks) === k)
      broadcast(qk).join(c, col("query_id") =!= col("neighbor_id"))
    }.reduce(_ union _)
    // chunks are query_id-disjoint, so the per-query top-k agg is chunk-safe
    ranked(spark, dir, joined)
  }

  private def rankedSql(candJoin: String): String =
    s"""r AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |             round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos6,
       |             round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS sim
       |      FROM $candJoin),
       |rk AS (SELECT query_id, neighbor_id, sim,
       |              CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos6 DESC, neighbor_id) AS BIGINT) AS rank
       |       FROM r)
       |SELECT query_id, neighbor_id, rank, sim FROM rk WHERE rank <= $TopK""".stripMargin

  val annTopkSql: String =
    s"""WITH $embCte,
       |q AS (SELECT * FROM e WHERE vec_id % $QueryMod = 0),
       |${rankedSql(s"q JOIN e c ON q.vec_id <> c.vec_id")}""".stripMargin

  // ----------------------------------------------------------------- ann_lsh
  /** `ann_lsh` — multi-table, multi-probe LSH-bucketed ANN: each of
    * [[LshTables]] hash tables buckets the corpus by the sign bits of a
    * disjoint block of [[LshBits]] axes (table t = dims [8t, 8t+8) → 256
    * buckets); a query probes, per table, its own bucket plus every
    * bucket within Hamming distance [[LshRadius]] (the standard
    * multi-probe trick: a near neighbor split across ≤radius hyperplanes
    * is recovered by flipping those bits), candidates from the tables
    * union (distinct pairs), then exact cosine top-10. Probing is an
    * EQUI-join still: the query side explodes into (table, probe_bucket)
    * rows, the corpus side into (table, bucket) rows, join on both — the
    * shuffle-hash shape survives, no inequality/bit-distance join.
    *
    * Operating point (RECALL.md sweep, near-uniform test corpus): 1 table
    * radius-1 (9 probes, ~3.5% scanned) measured recall@10 0.120 — the
    * round-10 weak mark; 1 table radius-2 (37 probes, ~14.5%) 0.350;
    * the committed 2×radius-2 point (74 probe rows, ~27% of the corpus
    * scanned once deduped) measures 0.560 — past the 0.5 credibility bar
    * at ~0.7× the scan cost of the IVF indexes' 38% probe fraction.
    * Bucket assignment is engine-exact (float sign tests), so results
    * remain oracle-checkable.
    */
  val LshBits = 8
  val LshRadius = 2
  val LshTables = 2

  /** XOR masks of every bucket within Hamming distance `radius` of a
    * query's own bucket (own bucket = mask 0), in a deterministic
    * (distance, numeric) order. O(LshBits^radius) masks, computed once at
    * plan construction — never per row.
    */
  private[graft] def lshProbeMasks(radius: Int): Seq[Long] = {
    // generic Hamming-r generation (not hand-unrolled per radius): a
    // future retune to radius 3+ gets the FULL probe set rather than
    // silently under-probing below the recall that RECALL.md and the
    // SimilarityPropertySpec floors would then claim
    require(0 <= radius && radius <= LshBits,
      s"LSH probe radius $radius outside [0, $LshBits]")
    (0 to radius).flatMap { d =>
      (0 until LshBits).combinations(d)
        .map(_.foldLeft(0L)((m, j) => m | (1L << j))).toSeq.sorted
    }
  }

  /** PLAN memo for the ten declared search DataFrames + the recall
    * report (round-17, Memo.memoizeValue — no data cached, ever): each
    * search assembles a deep plan from the memoized index artifacts, and
    * the recall report assembles all ten. Re-building them per
    * invocation cost 1.4 s of driver construction per report call and —
    * because fresh construction means fresh expression ids — generated
    * code that never text-matches the codegen cache (158 janino
    * recompiles per WARM report run). One analyzed plan per (session,
    * dir, search) fixes both; every action still executes from parquet.
    */
  private val searchPlanMemo = Memo.table()
  private def planMemo(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    Memo.memoizeValue(searchPlanMemo, spark, dir + "#" + name)(build)

  def annLsh(spark: SparkSession, dir: String): DataFrame =
    planMemo(spark, dir, "ann_lsh")(annLshProbe(spark, dir, LshRadius, LshTables))

  /** DEDUPED candidate-pair IDS of the (radius, tables)-parameterized
    * LSH search — the exact-scored candidate set [[annRecallReport]]
    * counts (the same set the RECALL.md "~X% scanned" figures
    * describe). Ids only, deduped: the SCORING pass no longer consumes
    * this stage (the distinct-top-k aggregate inside [[ranked]] absorbs
    * multi-table duplicates, so [[annLshProbe]] feeds the raw bucket
    * join straight into it), and pruning the vectors here keeps the
    * distinct exchange at 16 B per candidate pair — the
    * vector-carrying `dropDuplicates` this replaces shipped ~1.1 KB per
    * pair and was one of the four sf10 stage deaths
    * (BENCH_sf10_r15.json.failed).
    */
  private def lshCandidates(spark: SparkSession, dir: String, radius: Int,
      tables: Int = 1): DataFrame = {
    def build = lshCandidatesBuild(spark, dir, radius, tables)
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    if (radius == LshRadius && tables == LshTables)
      Memo.memoize(lshCandMemo, spark, dir)(build)
    else build
  }

  /** Memo for the DEFAULT-setting deduped LSH candidate-pair ids —
    * [[annRecallReport]]'s scan count, computed once per (session, dir).
    * Parameter sweeps (RECALL.md) bypass the memo.
    */
  private val lshCandMemo = Memo.table()

  private def lshCandidatesBuild(spark: SparkSession, dir: String, radius: Int,
      tables: Int = 1): DataFrame = {
    val masks = lshProbeMasks(radius)
    // per-table buckets computed ONCE per row, before the probe explode
    val withB = emb(spark, dir).withColumn("bs", array(
      (0 until tables).map(t => VectorFns.axisLshBucketAt(col("v"), LshBits, t * LshBits)): _*))
    val q = withB.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(array((for { t <- 0 until tables; m <- masks } yield
          struct(lit(t).as("t"), element_at(col("bs"), t + 1).bitwiseXOR(lit(m)).as("b"))): _*)).as("p"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("p.t").as("qtbl"), col("p.b").as("pb"))
    val c = withB
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"), element_at(col("bs"), t + 1).as("b"))): _*)).as("p"))
      .select(col("neighbor_id"), col("cv"), col("cn"),
        col("p.t").as("ctbl"), col("p.b").as("cb"))
    // Shuffle-hash join on the (table, bucket) equi-key, NOT broadcast(q):
    // the query side is O(corpus·tables·|probes|/QueryMod) and grows
    // unboundedly. Both sides shuffle on the key; the per-partition build
    // side is only that bucket's probes. A (query, neighbor) pair can
    // match in SEVERAL tables (that union is the recall mechanism), so
    // candidates dedup on the pair key before ranking — all surviving
    // columns are functions of the pair ids, so which duplicate survives
    // is immaterial. At 100 TB, raise LshBits so 2^LshBits >= cluster
    // parallelism (bucket count is the join's max fan-out) — probe count
    // grows O(tables·LshBits²) at radius 2 while the scanned fraction
    // falls O(LshBits²/2^LshBits) per table.
    // NO pair dedup here: a (query, neighbor) pair matching in several
    // tables emits one row per table, and the two consumers handle it
    // where it's cheap — the scoring pass packs duplicates to the same
    // rank long (absorbed by the distinct-top-k aggregate, vectors never
    // exchanged), and the scan-count stage dedups the 16 B id pairs
    // (lshCandidates). Deduping HERE would exchange both raw vectors per
    // candidate — the sf10 stage death this split removes.
    q.hint("shuffle_hash").join(c,
      col("qtbl") === col("ctbl") && col("pb") === col("cb") &&
        col("query_id") =!= col("neighbor_id"))
  }

  def annLshProbe(spark: SparkSession, dir: String, radius: Int,
      tables: Int = 1): DataFrame =
    ranked(spark, dir, lshCandidatesBuild(spark, dir, radius, tables))

  private val bucketSql: String =
    (0 until LshBits)
      .map(j => s"CASE WHEN v[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")

  val annLshSql: String = {
    def bucketSqlAt(t: Int): String = (0 until LshBits)
      .map(j => s"CASE WHEN v[${t * LshBits + j + 1}] > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    val ts = 0 until LshTables
    val bCols = ts.map(t => s"${bucketSqlAt(t)} AS b$t").mkString(", ")
    val probeBranches = ts.map { t =>
      val probeList = lshProbeMasks(LshRadius)
        .map(m => if (m == 0L) s"q.b$t" else s"xor(q.b$t, $m)")
        .mkString("[", ", ", "]")
      s"SELECT q.vec_id, $t AS tbl, p.pb FROM q, unnest($probeList) AS p(pb)"
    }.mkString("\n           UNION ALL ")
    val corpusBranches = ts
      .map(t => s"SELECT vec_id, $t AS tbl, b$t AS bucket FROM eb")
      .mkString(" UNION ALL ")
    s"""WITH $embCte,
       |eb AS (SELECT *, $bCols FROM e),
       |q AS (SELECT * FROM eb WHERE vec_id % $QueryMod = 0),
       |probes AS ($probeBranches),
       |cbkt AS ($corpusBranches),
       |cand AS (SELECT DISTINCT p.vec_id AS qid, c.vec_id AS nid
       |         FROM probes p JOIN cbkt c ON p.tbl = c.tbl AND p.pb = c.bucket
       |         WHERE p.vec_id <> c.vec_id),
       |${rankedSql("cand JOIN e q ON q.vec_id = cand.qid JOIN e c ON c.vec_id = cand.nid")}""".stripMargin
  }

  // ------------------------------------------------------------- dedup_embed
  /** `dedup_embed` — embedding-cosine near-duplicate *removal* (the dedup
    * counterpart of `similar_pairs`): within each `label` block, a vector is
    * a near-dup if some lower-id vector in the block has cosine ≥ τ; output
    * is the survivor set. Join shape is identical to `similar_pairs`
    * (blocked pair join, norms precomputed) followed by a left-anti join —
    * at 100 TB the `label` block is replaced/augmented by the LSH bucket of
    * `ann_lsh`, keeping candidate generation linear per bucket.
    */
  def dedupEmbed(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // same salt-grid fragmentation as similar_pairs: a hot label block's
    // pair-quadratic spreads over SaltGrid² join cells, results unchanged
    val a = saltedGrid(
      e.select(col("label"), col("vec_id"), col("v").as("va"), col("nrm").as("na")),
      "vec_id", "sa_i", "sa_j")
    val b = saltedGrid(
      e.select(col("label").as("lb"), col("vec_id").as("b_id"), col("v").as("vb"), col("nrm").as("nb")),
      "b_id", "sb_j", "sb_i")
    val dups = a.join(b, col("label") === col("lb") && saltedJoinCond &&
        col("b_id") < col("vec_id") &&
        round(cosine(col("va"), col("vb"), col("na"), col("nb")), 4) >= CosTau)
      .select(col("vec_id")).distinct()
    e.join(dups, Seq("vec_id"), "left_anti").select(col("label"), col("vec_id"))
  }

  val dedupEmbedSql: String =
    s"""WITH $embCte
       |SELECT label, vec_id FROM e a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM e b
       |  WHERE b.label = a.label AND b.vec_id < a.vec_id
       |    AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $CosTau)""".stripMargin

  // --------------------------------------------------------- dedup_embed_lsh
  /** `dedup_embed_lsh` — the 100 TB form of [[dedupEmbed]] made concrete:
    * candidate blocks are (label, LSH bucket) instead of bare label, so a
    * billion-vector label can never produce a quadratic block — the
    * per-block pair count divides by ~2^LshBits. The trade is recall < 1
    * vs the exact block scan (a near-dup pair split across a hyperplane
    * survives dedup); QueriesSpec pins the containment invariant
    * (lsh survivors ⊇ exact survivors). Same salt-grid fragmentation and
    * deterministic cosine as dedup_embed, so the result remains
    * oracle-checkable bit-for-bit.
    */
  def dedupEmbedLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
      .withColumn("bucket", VectorFns.axisLshBucket(col("v"), LshBits))
    val a = saltedGrid(
      e.select(col("label"), col("bucket"), col("vec_id"), col("v").as("va"), col("nrm").as("na")),
      "vec_id", "sa_i", "sa_j")
    val b = saltedGrid(
      e.select(col("label").as("lb"), col("bucket").as("cb"), col("vec_id").as("b_id"),
        col("v").as("vb"), col("nrm").as("nb")),
      "b_id", "sb_j", "sb_i")
    val dups = a.join(b, col("label") === col("lb") && col("bucket") === col("cb") &&
        saltedJoinCond && col("b_id") < col("vec_id") &&
        round(cosine(col("va"), col("vb"), col("na"), col("nb")), 4) >= CosTau)
      .select(col("vec_id")).distinct()
    e.join(dups, Seq("vec_id"), "left_anti").select(col("label"), col("vec_id"))
  }

  val dedupEmbedLshSql: String =
    s"""WITH $embCte,
       |eb AS (SELECT *, $bucketSql AS bucket FROM e)
       |SELECT label, vec_id FROM eb a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM eb b
       |  WHERE b.label = a.label AND b.bucket = a.bucket AND b.vec_id < a.vec_id
       |    AND round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $CosTau)""".stripMargin

  // ----------------------------------------------------- dedup_cluster_embed
  /** `dedup_cluster_embed` — connected components over the EMBEDDING
    * near-dup pair graph: the clustering step [[DedupQueries.dedupCluster]]
    * runs for text near-dups, applied to the cosine pair graph. Pairwise
    * min-id dedup ([[dedupEmbed]]) under-deletes transitive chains — A~B
    * and B~C with A≁C keeps both A and C — so a production pipeline
    * clusters the pair graph and keeps one canonical vector per CLUSTER.
    * Every vector gets `cluster_id` = the minimum vec_id reachable through
    * near-dup links; `is_canonical` marks the kept representative.
    *
    * The pair graph is exactly [[similarPairs]]' output (same salted block
    * join, same rounded-cosine τ), and the labels come from the SAME
    * min-label-propagation fixpoint loop the text clustering uses
    * ([[DedupQueries.propagateMinLabels]]) — one graph algorithm, two edge
    * generators. The label table is a memoized index-build artifact; the
    * per-invocation plan is one left join of the embeddings against the
    * cached O(V) labels, so the scale story is dedup_cluster's:
    * O(log diameter) rounds (pointer jumping), one shuffle join + min-agg
    * + jump join per round.
    */
  private val embedClusterMemo = Memo.table()

  private def embedClusterLabels(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeDisk(embedClusterMemo, spark, dir, "embed_cluster_labels",
      s"CosTau=$CosTau SaltGrid=$SaltGrid")(
      DedupQueries.propagateMinLabels(
        similarPairs(spark, dir).select(col("a_id"), col("b_id"))))

  def dedupClusterEmbed(spark: SparkSession, dir: String): DataFrame = {
    val labels = embedClusterLabels(spark, dir)
    val cluster = coalesce(col("lbl"), col("vec_id"))
    emb(spark, dir)
      .join(labels, col("vec_id") === col("id"), "left")
      .select(col("vec_id"), cluster.as("cluster_id"),
        (cluster === col("vec_id")).as("is_canonical"))
  }

  /** Oracle: the same recursive-CTE transitive closure as dedupClusterSql,
    * over similarPairsSql's pair predicate (label block + rounded cosine τ).
    */
  val dedupClusterEmbedSql: String =
    s"""WITH RECURSIVE $embCte,
       |prs AS (SELECT a.vec_id AS a, b.vec_id AS b
       |        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |        WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= $CosTau),
       |edges AS (SELECT a, b FROM prs UNION ALL SELECT b, a FROM prs),
       |reach(id, x) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT r.id, g.b FROM reach r JOIN edges g ON g.a = r.x),
       |comp AS (SELECT id, min(x) AS cluster_id FROM reach GROUP BY id)
       |SELECT v.vec_id,
       |       coalesce(c.cluster_id, v.vec_id) AS cluster_id,
       |       coalesce(c.cluster_id, v.vec_id) = v.vec_id AS is_canonical
       |FROM embeddings v LEFT JOIN comp c ON c.id = v.vec_id""".stripMargin

  // ----------------------------------------------------------------- ann_ivf
  /** `ann_ivf` — IVF-bucketed ANN, the second scale path beside `ann_lsh`:
    * a deterministic coarse quantizer assigns each corpus vector to its
    * nearest centroid once — O(n·C) with the C centroids broadcast, the
    * standard IVF build cost — and each query probes only its `Nprobe`
    * nearest inverted lists, doing exact cosine top-k inside ~Nprobe/C of
    * the corpus. The codebook is FIXED-SIZE and HASH-SAMPLED: the `IvfC`
    * vectors with the smallest `hash60(vec_id)` — a deterministic uniform
    * sample of the corpus (a k-means codebook at real scale refines it),
    * reproducible bit-for-bit by the oracle SQL, and decoupled from id
    * assignment order: unlike round-3's smallest-vec_ids codebook, list
    * balance cannot degenerate just because low ids cluster (e.g.
    * insertion-ordered corpora). Still a constant-C broadcast independent
    * of corpus size. Centroids carry a DENSE index 0..IvfC-1 used for the
    * packed tiebreak, so the packing is safe for arbitrary (e.g. hashed
    * 64-bit) vec_ids. Assignment and probe order use `round(cos, 6)` with
    * centroid index as tiebreak, so list membership is engine-exact and
    * the result oracle-checkable.
    */
  /** Nprobe=24 of 64 lists scans ~38% of the corpus per query — the
    * operating point from the committed RECALL.md sweep (RecallSweep at
    * sf0.1): recall@10 0.735 (ann_ivf_kmeans) at flat measured probe cost.
    * The test corpus is near-uniform on the sphere, so recall tracks the
    * scanned fraction and its marginal efficiency DECLINES past this
    * point (16→24 buys +0.165, 24→32 only +0.130 for the same +12.5%
    * scan); a clustered production corpus bends the whole curve left, so
    * nprobe is the knob to re-tune per deployment, not a fixed truth.
    * Floors in SimilarityPropertySpec sit at ~0.7× the measured values.
    *
    * FIXED capacity holds the scanned fraction constant, so the
    * fixed-C family's cost is quadratic across corpus decades (measured:
    * BASELINE.md's capacity-law table, 151 s vs 1.9 s at the 100× scale
    * point). The production capacity policy is the MEASURED operator
    * pair [[annIvfScaled]]/[[hardNegativesScaled]] (C = ⌊√(Nprobe·n)⌋);
    * the fixed-C variants remain committed alongside it because the
    * Lloyd/PQ compositions (kmeans refinement, IVFADC, re-rank) are
    * defined over this codebook and their oracles unroll its training,
    * and because keeping both sides makes the law itself measurable.
    */
  val IvfC = 64
  val Nprobe = 24

  /** Stride of the packed (cos6, cidx) ordering long used by the
    * assignment/probe max_by trick: `cos6_fixed * IvfStride + (IvfC -
    * cidx)`. The tiebreak term ranges over [0, IvfC-1] (cidx is DENSE in
    * [1, IvfC]), so the stride must exceed IvfC-1 or cidx bits silently
    * overflow into the cos6 field, corrupting both tie-breaks and the
    * pmod unpacking. Derived from IvfC (next power of two above it) so
    * the scaladocs' "raise IvfC at 100 TB" advice can't break packing.
    */
  val IvfStride: Long = strideOf(IvfC)

  /** The packing stride for a codebook of `c` lists — the ONE definition
    * behind the (cos6, cidx) packed orderings in [[ivfAssigned]],
    * [[hardNegMine]], and the streaming probe stage
    * (`StreamingOps.probeStreamOver`): next power of two above c-1, so
    * the dense tiebreak term (c − cidx) ∈ [0, c−1] can never overflow
    * into the cos6 field. Shared so the invariant cannot desynchronize
    * across the three packers.
    */
  private[graft] def strideOf(c: Int): Long =
    java.lang.Long.highestOneBit(c.toLong) * 2L

  /** Memo for ann_recall_report's kmeans-IVF scanned-candidate count —
    * one long of audit metadata shared by the report's three
    * kmeans-list consumers (ivf_kmeans / ivfpq / ivfpq_rerank).
    */
  private val kmScanCountMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]

  /** Same, for the scaled Lloyd codebook's probe lists (shared by the
    * three capacity-law consumers: kmeans_scaled / ivfpq_scaled /
    * ivfpq_rerank_scaled).
    */
  private val kmScaledScanCountMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]

  /** Round-17 metadata memos: per-regime query counts and the remaining
    * per-index scan counts (sampled-IVF, scaled-IVF, LSH) — each a 1-row
    * deterministic aggregate over memoized artifacts, collected once per
    * (session, dir, regime) and embedded in the recall report as a
    * literal, exactly the [[kmScanCountMemo]] pattern.
    */
  private val nQueriesMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]
  private val ivfScanCountMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]
  private val ivfScaledScanCountMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]
  private val lshScanCountMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]

  /** Memo for the IVF codebook — the index-BUILD artifact of IVF search
    * (build the coarse quantizer once, probe it for every query batch):
    * IvfC rows, persisted per (session, dir) so the assignment and probe
    * branches (and repeated invocations) share one TakeOrdered+rank
    * computation instead of re-deriving the codebook per reference.
    */
  private val codebookMemo = Memo.table()

  private def codebook(spark: SparkSession, dir: String): DataFrame =
    Memo.memoize(codebookMemo, spark, dir)(sampledCodebook(spark, dir, IvfC))

  /** Hash-sampled codebook of `c` centroids — the shared builder behind
    * the fixed-capacity [[codebook]] and the data-scaled
    * [[scaledCodebookOf]]. `orderBy.limit(c)` is TakeOrderedAndProject; the
    * dense-rank window runs over those c rows only (single tiny
    * partition).
    */
  private def sampledCodebook(spark: SparkSession, dir: String, c: Int): DataFrame = {
    import graft.functions.TextFns
    val ch = TextFns.hash60(col("vec_id").cast("string"))
    emb(spark, dir).withColumn("ch", ch)
      .orderBy(col("ch").asc, col("vec_id").asc).limit(c)
      .withColumn("cidx",
        row_number().over(Window.orderBy(col("ch").asc, col("vec_id").asc)).cast("long"))
      .select(col("cidx"), col("v").as("cv2"), col("nrm").as("cn2"))
  }

  def annIvf(spark: SparkSession, dir: String): DataFrame =
    planMemo(spark, dir, "ann_ivf")(
      ivfSearch(spark, dir, codebook(spark, dir), ivfListsMemo, "ivf_lists_sampled"))

  /** Memos for the assigned inverted LISTS, one per codebook variant —
    * the other half of the IVF index-build artifact (the codebook memo is
    * the quantizer; this is the corpus partitioned by it). A real IVF
    * index stores exactly this table; recomputing the n·C assignment on
    * every probe batch would make "index" a misnomer. Keyed (session,
    * dir) like every memo; a codebook change invalidates with the session.
    */
  private val ivfListsMemo = Memo.table()
  private val kmListsMemo = Memo.table()

  /** The IVF search stage, shared by [[annIvf]] and [[annIvfKmeans]]:
    * assignment of all corpus vectors to their nearest centroid (packed
    * max_by hash aggregate), Nprobe probe lists per query, shuffle-hash
    * probe join, exact top-k ranking. `cents` must be a (cidx, cv2, cn2)
    * codebook with cidx DENSE in [1, IvfC].
    */
  /** Corpus → centroid assignment, memoized: the inverted LISTS half of
    * the IVF index. max_by aggregation instead of a row_number window —
    * partial aggregation collapses the n·C broadcast-join rows to n
    * map-side, so only one row per vector crosses the exchange. The
    * (cos6 DESC, cidx ASC) order is packed into ONE long — cos6 is
    * exactly k/1e6 so round(cos6·1e6) recovers k, and cidx is DENSE in
    * [1, IvfC] so the tiebreak term fits below IvfStride regardless of
    * vec_id width — because a STRUCT ordering argument forces a
    * SortAggregate while a fixed-width long keeps the whole assignment in
    * a HashAggregate. Unique per (vec_id, cidx) → deterministic argmax,
    * matching the oracle's rank-1 row. Only (vec_id, cidx, ord) flow into
    * the aggregate: an array-typed buffer (e.g. first(v)) would force a
    * SortAggregate over all n·C rows AND ship every vector C times
    * through the cross join; the all-long buffer keeps a HashAggregate,
    * and (v, nrm) re-attach with one join against the persisted emb table
    * afterwards.
    */
  /** Config fingerprints for the disk-cached index artifacts: every
    * tunable the artifact's CONTENT depends on, so a retune invalidates
    * exactly the affected cache entries (Memo.memoizeDisk). Probe-side
    * constants (Nprobe, RerankR, QueryMod) are deliberately absent — they
    * parameterize the search, not the index.
    */
  private def ivfConfigKey: String =
    s"IvfC=$IvfC KmIters=$KmIters KmDim=$KmDim QScale=$QScale"
  private def pqConfigKey: String =
    s"PqM=$PqM PqK=$PqK PqIters=$PqIters KmDim=$KmDim QScale=$QScale"

  /** Each (listsMemo, diskLabel) pair is bound to one codebook variant,
    * whose `c` is a pure function of (variant, dir) — IvfC for the fixed
    * tables, [[scaledCOf]] (memoized per session+dir) for the scaled
    * ones. The in-memory memo key carries `C=$c` like the disk key does,
    * so a capacity sweep passing a different c against a populated table
    * builds its own entry instead of silently reading the first-built
    * lists back.
    */
  private def ivfAssigned(spark: SparkSession, dir: String, cents: DataFrame,
      listsMemo: Memo.Table, diskLabel: String, c: Int = IvfC): DataFrame =
    Memo.memoizeDisk(listsMemo, spark, dir, diskLabel, s"$ivfConfigKey C=$c",
      memoKey = s"#C=$c") {
      val e = emb(spark, dir)
      // stride derived from the ACTUAL list count, not the fixed constant:
      // the scaled codebook's C is data-derived and can exceed IvfC
      val stride = strideOf(c)
      val cos6 = round(cosine(col("v"), col("cv2"), col("nrm"), col("cn2")), 6)
      val packedOrder = round(cos6 * lit(1000000d)).cast("long") * lit(stride) +
        (lit(c.toLong) - col("cidx"))
      val assignedIds = e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cidx"), packedOrder.as("ord"))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cidx"), col("ord")).as("cidx"))
      assignedIds.join(e, "vec_id")
        .select(col("cidx"), col("vec_id").as("neighbor_id"),
          col("v").as("cv"), col("nrm").as("cn"))
    }

  /** Memo for the DEFAULT-depth kmeans probe lists — the query→list
    * assignment table (O(n/QueryMod · Nprobe) rows, vectors included) that
    * annIvfKmeans, the IVFADC pair, and ann_recall_report's scan count
    * all derive. Their downstream column prunings differ, so Spark's
    * ReuseExchange canonical-equality check can NOT dedupe the subtree
    * across them — without this memo each consumer re-runs the
    * query×centroid crossJoin + window. Production shape: a query batch
    * is assigned to lists once, then probed against every index variant.
    * Sweep paths (non-default nprobe, sampled codebook) bypass the memo.
    */
  private val kmProbesMemo = Memo.table()
  private val kmScaledProbesMemo = Memo.table()

  /** Probe-side config fingerprint: unlike the LIST artifacts (whose
    * content the probe constants cannot touch), the probe tables' content
    * IS a function of Nprobe (rows kept per query) and QueryMod (which
    * vectors are queries), so both ride the disk key.
    */
  private def probesConfigKey(c: Long): String =
    s"$ivfConfigKey Nprobe=$Nprobe QueryMod=$QueryMod C=$c"

  private def ivfProbes(spark: SparkSession, dir: String, cents: DataFrame,
      nprobe: Int = Nprobe): DataFrame =
    // Round-18 (verdict item 1): the two SHARED probe tables are
    // disk-cached index artifacts like the lists/codebooks they pair with
    // (a query batch is assigned to lists ONCE, then probed against every
    // index variant — the assignment is part of the build side of the
    // BUILD-vs-PROBE split). In-memory memoization (round 17) already
    // shared one persisted copy per session; the disk artifact
    // additionally (a) drops the per-cold-JVM query×centroid crossJoin +
    // window rebuild, and (b) replaces the rebuild subtree under the
    // InMemoryRelation with one parquet scan — fewer stages on the
    // first-touch pass of every session.
    if (nprobe == Nprobe && kmCodebookMemo.get((spark, dir)).exists(_ eq cents))
      Memo.memoizeDisk(kmProbesMemo, spark, dir, "ivf_probes_kmeans",
        probesConfigKey(IvfC))(
        ivfProbesBuild(spark, dir, cents, nprobe))
    else if (nprobe == Nprobe &&
        kmScaledCodebookMemo.get((spark, dir)).exists(_ eq cents))
      // the scaled Lloyd codebook's probe lists have the same three
      // default-depth consumers (search, ADC tables, recall-report scan)
      Memo.memoizeDisk(kmScaledProbesMemo, spark, dir, "ivf_probes_kmeans_scaled",
        probesConfigKey(scaledCOf(spark, dir)))(
        ivfProbesBuild(spark, dir, cents, nprobe))
    else ivfProbesBuild(spark, dir, cents, nprobe)

  /** Probe lists (n/QueryMod query vectors): each query's top-Nprobe
    * centroids via a window over the already-filtered query×centroid
    * join — tiny input.
    */
  private def ivfProbesBuild(spark: SparkSession, dir: String, cents: DataFrame,
      nprobe: Int = Nprobe): DataFrame = {
    val cos6 = round(cosine(col("v"), col("cv2"), col("nrm"), col("cn2")), 6)
    val centRank = Window.partitionBy(col("vec_id"))
      .orderBy(cos6.desc, col("cidx").asc)
    emb(spark, dir).filter(col("vec_id") % QueryMod === 0)
      .crossJoin(broadcast(cents))
      .withColumn("cr", row_number().over(centRank))
      .filter(col("cr") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cidx"), col("v").as("qv"), col("nrm").as("qn"))
  }

  /** Candidate-pair stage of the IVF search (probes ⋈ inverted lists) —
    * exposed separately so [[annRecallReport]] can count the scanned set.
    * Shuffle-hash join on cidx, NOT broadcast(probes): the probe side
    * is O(corpus·Nprobe/QueryMod) and grows unboundedly; the centroid
    * broadcast inside the helpers is O(IvfC) — constant — by
    * construction.
    */
  private def ivfCandidates(spark: SparkSession, dir: String, cents: DataFrame,
      listsMemo: Memo.Table, diskLabel: String, nprobe: Int = Nprobe,
      c: Int = IvfC): DataFrame =
    ivfProbes(spark, dir, cents, nprobe).hint("shuffle_hash")
      .join(ivfAssigned(spark, dir, cents, listsMemo, diskLabel, c), Seq("cidx"))
      .filter(col("query_id") =!= col("neighbor_id"))

  private def ivfSearch(spark: SparkSession, dir: String, cents: DataFrame,
      listsMemo: Memo.Table, diskLabel: String, nprobe: Int = Nprobe,
      c: Int = IvfC): DataFrame =
    ranked(spark, dir,
      ivfCandidates(spark, dir, cents, listsMemo, diskLabel, nprobe, c))

  /** Sweep hook (dev + property tests): [[annIvfKmeans]] at an arbitrary
    * probe depth, sharing every memoized index artifact.
    */
  private[graft] def annIvfKmeansProbe(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame =
    ivfSearch(spark, dir, kmeansCodebook(spark, dir), kmListsMemo,
      "ivf_lists_kmeans", nprobe)

  /** The IVF search stage as oracle SQL — tc/assigned/probes/rank over a
    * codebook CTE named `$cent` with columns (cidx, cv, cn). Shared by the
    * hash-sampled and k-means oracles so the search semantics cannot
    * drift between the two.
    */
  private def ivfSearchSqlTail(cent: String): String =
    s"""tc AS (SELECT e.vec_id, e.v, e.nrm, c.cidx,
       |              row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY round(list_dot_product(e.v, c.cv) / (e.nrm * c.cn), 6) DESC,
       |                         c.cidx) AS cr
       |       FROM e CROSS JOIN $cent c),
       |assigned AS (SELECT cidx, vec_id, v, nrm FROM tc WHERE cr = 1),
       |probes AS (SELECT vec_id, cidx, v, nrm FROM tc
       |           WHERE vec_id % $QueryMod = 0 AND cr <= $Nprobe),
       |${rankedSql(
        "probes q JOIN assigned c ON q.cidx = c.cidx AND q.vec_id <> c.vec_id")}""".stripMargin

  val annIvfSql: String = {
    val ch = Oracle.hash60("CAST(vec_id AS VARCHAR)")
    s"""WITH $embCte,
       |cent AS (SELECT v AS cv, nrm AS cn,
       |                row_number() OVER (ORDER BY $ch, vec_id) AS cidx
       |         FROM e QUALIFY cidx <= $IvfC),
       |${ivfSearchSqlTail("cent")}""".stripMargin
  }

  // ---------------------------------------------------------- ann_ivf_scaled
  /** `ann_ivf_scaled` — IVF search whose list count follows the BALANCED
    * CAPACITY LAW instead of a fixed constant: C(n) = ⌊√(Nprobe·n)⌋
    * (clamped to [4, 2²⁰]), derived from the corpus row count. This is the
    * textbook optimum for a FLAT coarse quantizer (Jégou et al. 2011 §V:
    * per-query cost = C coarse comparisons + Nprobe·n/C list scans is
    * minimized at C = √(Nprobe·n), where both terms equal √(Nprobe·n)) —
    * and it is the engine's measured answer to the sf10 scale-up finding
    * that the fixed-capacity family is quadratic across decades: with
    * C ∝ √n, per-query probe cost grows √n (not n) and the scanned
    * FRACTION falls as 1/√n per decade, so total cost over a query set
    * that grows with the corpus is n^1.5, not n². (BASELINE.md's
    * scale-up section records the measured decade exponents side by
    * side.)
    *
    * The row count comes from [[estimatedRows]] — exact parquet FOOTER
    * counts, memoized planning metadata, no Spark job — and the oracle
    * derives the same C from `count(*)` inside the SQL, so the law itself
    * is hash-checked cross-engine. Determinism of the shared formula:
    * Nprobe·n is exact in a double for any feasible n (< 2⁴⁸) and IEEE-754
    * requires sqrt to be correctly rounded, so ⌊√x⌋ is bit-identical in
    * the JVM and DuckDB.
    *
    * Index-build cost is n·C = n^1.5 comparisons, one-time and
    * disk-cached (Memo.memoizeDisk) like every index artifact — the
    * production build-vs-probe split. At extreme scale a production
    * system escapes even that via a hierarchical coarse quantizer
    * (IMI / multi-level assignment); the codebook here stays hash-sampled
    * (not Lloyd-refined — refinement composes orthogonally, see
    * [[annIvfKmeans]]) because the capacity LAW, not quantizer quality,
    * is what this operator pins. Recall trade on the near-uniform test
    * corpus: the shrinking 1/√n scan fraction costs recall as n grows —
    * the information-theoretic price ANY sublinear-scan index pays on
    * clusterless data; on a clustered production corpus the coarse
    * quantizer concentrates true neighbors into the probed lists and
    * recall holds at the falling scan fraction. Measured at sf0.1
    * (SimilarityPropertySpec): recall@10 0.445 at 10.9% scanned —
    * recall-per-scan 4.1×, the FAMILY'S BEST (fixed-C sampled 1.7×,
    * Lloyd 2.0×, LSH 2.1×): finer cells rank neighborhoods better than
    * the coarse 64-list settings' ~2×-per-scan law, so the capacity law
    * buys retrieval efficiency as well as cost scaling — at EQUAL scan
    * (RecallSweep `scaled` grid, RECALL.md) it dominates its fixed-C
    * sampled twin (0.735 vs 0.645 at ~38%) and MATCHES the Lloyd-refined
    * index with zero training iterations. The scan fraction is published
    * per index by [[annRecallReport]], so the trade is visible
    * in-engine, not just in this comment.
    */
  val ScaledCMax = 1 << 20

  private[graft] def scaledC(n: Long): Int = {
    require(n >= 0, s"scaledC: negative row count $n")
    // double multiply, NOT (Nprobe * n).toDouble: a Long product overflows
    // negative for n > Long.MaxValue/Nprobe and sqrt would yield NaN,
    // silently clamping to the floor instead of ScaledCMax
    val c = math.sqrt(Nprobe.toDouble * n.toDouble).toLong
    math.max(4L, math.min(ScaledCMax.toLong, c)).toInt
  }

  private val scaledCodebookMemo = Memo.table()
  private val scaledListsMemo = Memo.table()

  private def scaledCodebookOf(spark: SparkSession, dir: String): DataFrame =
    Memo.memoize(scaledCodebookMemo, spark, dir)(
      sampledCodebook(spark, dir, scaledC(estimatedRows(spark, dir))))

  def annIvfScaled(spark: SparkSession, dir: String): DataFrame =
    planMemo(spark, dir, "ann_ivf_scaled")(
      ivfSearch(spark, dir, scaledCodebookOf(spark, dir), scaledListsMemo,
        "ivf_lists_scaled", c = scaledCOf(spark, dir)))

  /** Sweep hooks (dev + RECALL.md): the scaled-capacity index at an
    * arbitrary probe depth, sharing every memoized artifact; and the
    * derived list count itself.
    */
  private[graft] def scaledCOf(spark: SparkSession, dir: String): Int =
    scaledC(estimatedRows(spark, dir))

  /** Index-artifact accessors for the streaming probe twin (the scaled
    * analog of [[kmIndexCodebook]]/[[kmIndexLists]]).
    */
  private[graft] def scaledIndexCodebook(spark: SparkSession, dir: String): DataFrame =
    scaledCodebookOf(spark, dir)

  private[graft] def scaledIndexLists(spark: SparkSession, dir: String): DataFrame =
    ivfAssigned(spark, dir, scaledCodebookOf(spark, dir), scaledListsMemo,
      "ivf_lists_scaled", scaledCOf(spark, dir))

  private[graft] def annIvfScaledProbe(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame =
    ivfSearch(spark, dir, scaledCodebookOf(spark, dir), scaledListsMemo,
      "ivf_lists_scaled", nprobe, scaledCOf(spark, dir))

  /** The scaled-capacity codebook as CTEs (`cap`/`cent0`/`cent`) — shared
    * by the ann_ivf_scaled oracle and the hard_negatives_scaled oracle so
    * the capacity formula and sampling order cannot drift between them.
    */
  private def scaledCentSqlCtesAs(name: String): String = {
    val ch = Oracle.hash60("CAST(vec_id AS VARCHAR)")
    s"""cap AS (SELECT greatest(4, least($ScaledCMax,
       |               CAST(floor(sqrt($Nprobe * count(*))) AS BIGINT))) AS c
       |        FROM e),
       |${name}0 AS (SELECT v AS cv, nrm AS cn,
       |                 row_number() OVER (ORDER BY $ch, vec_id) AS cidx
       |          FROM e),
       |$name AS (SELECT ${name}0.* FROM ${name}0, cap WHERE cidx <= cap.c)""".stripMargin
  }

  private val scaledCentSqlCtes: String = scaledCentSqlCtesAs("cent")

  val annIvfScaledSql: String =
    s"""WITH $embCte,
       |$scaledCentSqlCtes,
       |${ivfSearchSqlTail("cent")}""".stripMargin

  // ---------------------------------------------------------- ann_ivf_kmeans
  /** `ann_ivf_kmeans` — IVF search over a k-means-REFINED codebook: the
    * hash-sampled codebook of [[annIvf]] is the Lloyd INIT, then
    * [[KmIters]] unrolled Lloyd iterations reassign every corpus vector to
    * its nearest centroid and recompute each centroid as its members' mean.
    * This is the production IVF quantizer (list balance adapts to the data
    * distribution instead of being a uniform sample), and the refinement is
    * the answer to "list balance at 100 TB depends on a real coarse
    * quantizer".
    *
    * Cross-engine determinism of the centroid arithmetic: float summation
    * is NOT associative, and Spark's partial aggregation adds in partition
    * order — a naive avg(v[i]) would hash-mismatch the oracle in the last
    * ULP. So member vectors are QUANTIZED once to integers
    * (q_i = floor(v_i·2^20 + 0.5), exact and engine-identical), centroid
    * sums are exact BIGINT arithmetic (associative — any addition order
    * gives the same long), and each centroid component is one
    * exactly-rounded IEEE division s_i / (2^20·cnt). Every derived double
    * is therefore bit-identical across engines, like the integer-ratio
    * scores elsewhere in this engine.
    *
    * Scale shape per iteration: assignment is the same broadcast-codebook
    * crossJoin + packed-long max_by HashAggregate as the search stage
    * (n·C rows collapse map-side); the centroid update is ONE hash
    * aggregation with KmDim+1 long buffers (map-side partial, no per-key
    * array buffer). Empty clusters keep their previous centroid. The
    * refined codebook is memoized per (session, dir) — the iterations are
    * an index-BUILD cost, not a per-query cost, exactly like a real IVF
    * index build.
    */
  val KmIters = 2
  val KmDim = 64
  val QScale = 1048576L // 2^20: |q_i| < 2^40-ish => 64-dim sums never overflow

  private val kmCodebookMemo = Memo.table()

  /** (vec_id, v, nrm, qv) — emb plus the quantized integer vector. */
  private def quantized(e: DataFrame): DataFrame =
    e.withColumn("qv", transform(col("v"), x => floor(x * QScale + lit(0.5))))

  /** One Lloyd step: cents (cidx, cv, cn) -> refined (cidx, cv, cn).
    * `c` is the list count of the codebook being refined (cidx DENSE in
    * [1, c]) — the packing stride derives from it like every packer.
    */
  private def lloydStep(eq: DataFrame, cents: DataFrame, c: Int): DataFrame = {
    val cos6 = round(cosine(col("v"), col("cv"), col("nrm"), col("cn")), 6)
    // same packed (cos6 desc, cidx asc) max_by trick as the search stage:
    // keeps the whole n·C assignment in a HashAggregate
    val ord = round(cos6 * lit(1000000d)).cast("long") * lit(strideOf(c)) +
      (lit(c.toLong) - col("cidx"))
    val assigned = eq.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cidx"), ord.as("ord"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cidx"), col("ord")).as("cidx"))
    val sums = assigned.join(eq.select(col("vec_id"), col("qv")), "vec_id")
      .groupBy(col("cidx"))
      .agg(count(lit(1)).as("cnt"),
        (1 to KmDim).map(i => sum(element_at(col("qv"), i)).as(s"s$i")): _*)
    val meanCv = array((1 to KmDim).map(i =>
      col(s"s$i").cast("double") / (lit(QScale) * col("cnt")).cast("double")): _*)
    cents.select(col("cidx"), col("cv"))
      .join(broadcast(sums), Seq("cidx"), "left")
      .select(col("cidx"),
        when(col("cnt").isNull, col("cv")).otherwise(meanCv).as("cv"))
      .withColumn("cn", VectorFns.norm(col("cv")))
  }

  private def kmeansCodebook(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeDisk(kmCodebookMemo, spark, dir, "km_codebook", ivfConfigKey)(
      kmeansCodebookBuild(spark, dir, IvfC))

  /** The Lloyd build at an arbitrary list count — shared by the fixed
    * [[kmeansCodebook]] (c = IvfC) and the capacity-law
    * [[kmeansScaledCodebookOf]] (c = ⌊√(Nprobe·n)⌋).
    */
  private def kmeansCodebookBuild(spark: SparkSession, dir: String,
      c: Int): DataFrame = {
    val eq = quantized(emb(spark, dir))
    // Lloyd INIT = the same hash-sampled selection as [[codebook]], but
    // with centroids in the QUANTIZED domain (cv = qv / 2^20) so
    // iteration 0's centroids are already integer-derived like every
    // later one (joining the existing codebook back by vector value
    // would fan out under duplicate vectors).
    val ch = graft.functions.TextFns.hash60(col("vec_id").cast("string"))
    val init = eq.withColumn("ch", ch)
      .orderBy(col("ch").asc, col("vec_id").asc).limit(c)
      .withColumn("cidx",
        row_number().over(Window.orderBy(col("ch").asc, col("vec_id").asc)).cast("long"))
      .select(col("cidx"),
        transform(col("qv"), q => q.cast("double") / lit(QScale.toDouble)).as("cv"))
      .withColumn("cn", VectorFns.norm(col("cv")))
    val refined = (1 to KmIters).foldLeft(init)((cb, _) => lloydStep(eq, cb, c))
    refined.select(col("cidx"), col("cv").as("cv2"), col("cn").as("cn2"))
  }

  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame =
    planMemo(spark, dir, "ann_ivf_kmeans")(
      ivfSearch(spark, dir, kmeansCodebook(spark, dir), kmListsMemo,
        "ivf_lists_kmeans"))

  /** The two halves of the k-means IVF index, exposed for the STREAMING
    * probe job ([[graft.streaming.StreamingOps.annProbeStream]]): built
    * (or read back from the disk cache) exactly as the batch query
    * builds them, so a probe process in a different JVM serves queries
    * against the same artifacts the build job wrote — the build-vs-probe
    * separation made literal.
    */
  private[graft] def kmIndexCodebook(spark: SparkSession, dir: String): DataFrame =
    kmeansCodebook(spark, dir)
  private[graft] def kmIndexLists(spark: SparkSession, dir: String): DataFrame =
    ivfAssigned(spark, dir, kmeansCodebook(spark, dir), kmListsMemo,
      "ivf_lists_kmeans")

  /** The Lloyd-codebook CTE chain (embCte, eq with (vec_id, v, nrm, qv),
    * init c0/cq/cent0, KmIters refinement steps → `${pfx}cent$KmIters`) as
    * a WITH-body prefix — ONE generator behind the fixed-capacity chain
    * (capped = false: c0 keeps the first IvfC sampled rows) and the
    * capacity-law chain (capped = true: the list count is
    * ⌊√(Nprobe·count(*))⌋ derived INSIDE the SQL, so the law itself is
    * hash-checked, the [[scaledCentSqlCtesAs]] pattern). Shared by the
    * k-means IVF oracles and the IVFADC oracles so codebook semantics
    * cannot drift. `pfx` prefixes every chain-internal CTE name so two
    * chains can coexist in one WITH (ivf_balance); `emitEq` skips the
    * shared embCte/eq CTEs when an earlier chain already defined them.
    * NB: `eq` carries (v, nrm) alongside qv — a superset of the PQ
    * chain's needs, so the PQ CTEs can stack on top of it.
    */
  private def kmCentSqlChain(pfx: String, capped: Boolean,
      emitEq: Boolean): String = {
    val ch = Oracle.hash60("CAST(vec_id AS VARCHAR)")
    val qvList =
      s"[CAST(floor(v[i] * $QScale + 0.5) AS BIGINT) for i in generate_series(1, $KmDim)]"
    val sumCols = (1 to KmDim).map(i => s"sum(qv[$i]) AS s$i").mkString(", ")
    def meanList(s: String) = (1 to KmDim)
      .map(i => s"CAST($s.s$i AS DOUBLE) / CAST($QScale * $s.cnt AS DOUBLE)")
      .mkString("[", ", ", "]")
    def step(n: Int): String = {
      val prev = s"${pfx}cent${n - 1}"
      s"""${pfx}t$n AS (SELECT eq.vec_id, c.cidx,
         |              row_number() OVER (PARTITION BY eq.vec_id
         |                ORDER BY round(list_dot_product(eq.v, c.cv) / (eq.nrm * c.cn), 6) DESC,
         |                         c.cidx) AS cr
         |       FROM eq CROSS JOIN $prev c),
         |${pfx}s$n AS (SELECT ${pfx}t$n.cidx, count(*) AS cnt, $sumCols
         |        FROM ${pfx}t$n JOIN eq ON eq.vec_id = ${pfx}t$n.vec_id AND ${pfx}t$n.cr = 1
         |        GROUP BY ${pfx}t$n.cidx),
         |${pfx}m$n AS (SELECT p.cidx,
         |               CASE WHEN s.cnt IS NULL THEN p.cv ELSE ${meanList("s")} END AS cv
         |        FROM $prev p LEFT JOIN ${pfx}s$n s ON s.cidx = p.cidx),
         |${pfx}cent$n AS (SELECT cidx, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM ${pfx}m$n)""".stripMargin
    }
    val eqCtes =
      s"""$embCte,
         |eq AS (SELECT vec_id, v, nrm, $qvList AS qv FROM e),
         |""".stripMargin
    val c0 =
      if (capped)
        s"""${pfx}cap AS (SELECT greatest(4, least($ScaledCMax,
           |               CAST(floor(sqrt($Nprobe * count(*))) AS BIGINT))) AS c
           |        FROM e),
           |${pfx}c00 AS (SELECT qv, row_number() OVER (ORDER BY $ch, vec_id) AS cidx
           |       FROM eq),
           |${pfx}c0 AS (SELECT ${pfx}c00.qv, ${pfx}c00.cidx FROM ${pfx}c00, ${pfx}cap
           |      WHERE ${pfx}c00.cidx <= ${pfx}cap.c)""".stripMargin
      else
        s"""${pfx}c0 AS (SELECT qv, row_number() OVER (ORDER BY $ch, vec_id) AS cidx
           |       FROM eq QUALIFY cidx <= $IvfC)""".stripMargin
    s"""${if (emitEq) eqCtes else ""}$c0,
       |${pfx}cq AS (SELECT cidx, list_transform(qv, q -> CAST(q AS DOUBLE) / $QScale) AS cv FROM ${pfx}c0),
       |${pfx}cent0 AS (SELECT cidx, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM ${pfx}cq),
       |${(1 to KmIters).map(step).mkString(",\n")}""".stripMargin
  }

  private val kmCentSqlCtes: String =
    kmCentSqlChain("", capped = false, emitEq = true)

  /** The capacity-law Lloyd chain (C = ⌊√(Nprobe·n)⌋ derived in-SQL). */
  private val kmScaledCentSqlCtes: String =
    kmCentSqlChain("", capped = true, emitEq = true)

  val annIvfKmeansSql: String =
    s"""WITH $kmCentSqlCtes,
       |${ivfSearchSqlTail(s"cent$KmIters")}""".stripMargin

  // -------------------------------------------------- ann_ivf_kmeans_scaled
  /** `ann_ivf_kmeans_scaled` — the balanced capacity law applied to the
    * LLOYD-REFINED quantizer: C = ⌊√(Nprobe·n)⌋ hash-sampled init
    * centroids (the [[annIvfScaled]] derivation, [[scaledCOf]] from exact
    * parquet footer counts), then the same [[KmIters]] integer-exact Lloyd
    * iterations as [[annIvfKmeans]], then the shared IVF search stage.
    * This closes the family's last fixed-capacity hole on the BUILD side:
    * the round-14 measurements proved C ∝ √n turns the probe stage's
    * across-decade cost from n² to n^1.5 for the sampled codebook, and the
    * Lloyd refinement — the quantizer that actually balances lists on
    * clustered data — composes with the law unchanged (each iteration is
    * the same n·C assignment the search stage runs; the refinement is a
    * one-time disk-cached index-BUILD cost, now n^1.5 per iteration
    * instead of n·64).
    *
    * The oracle derives the same C from `count(*)` inside the SQL
    * ([[kmScaledCentSqlCtes]]), so the law composed with the Lloyd
    * training loop is hash-checked end to end. Recall at sf0.1: the
    * scan fraction falls to Nprobe/C ≈ 11% like [[annIvfScaled]]'s; the
    * Lloyd iterations buy list balance, floor-pinned in
    * SimilarityPropertySpec and audited (with scan fraction) in
    * [[annRecallReport]] and [[ivfBalance]].
    */
  private val kmScaledCodebookMemo = Memo.table()
  private val kmScaledListsMemo = Memo.table()

  private def kmeansScaledCodebookOf(spark: SparkSession, dir: String): DataFrame = {
    val c = scaledCOf(spark, dir)
    Memo.memoizeDisk(kmScaledCodebookMemo, spark, dir, "km_codebook_scaled",
      s"$ivfConfigKey C=$c")(kmeansCodebookBuild(spark, dir, c))
  }

  def annIvfKmeansScaled(spark: SparkSession, dir: String): DataFrame =
    planMemo(spark, dir, "ann_ivf_kmeans_scaled")(
      ivfSearch(spark, dir, kmeansScaledCodebookOf(spark, dir), kmScaledListsMemo,
        "ivf_lists_kmeans_scaled", c = scaledCOf(spark, dir)))

  /** Sweep hook: the scaled Lloyd index at arbitrary probe depth. */
  private[graft] def annIvfKmeansScaledProbe(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame =
    ivfSearch(spark, dir, kmeansScaledCodebookOf(spark, dir), kmScaledListsMemo,
      "ivf_lists_kmeans_scaled", nprobe, scaledCOf(spark, dir))

  val annIvfKmeansScaledSql: String =
    s"""WITH $kmScaledCentSqlCtes,
       |${ivfSearchSqlTail(s"cent$KmIters")}""".stripMargin

  /** The bare corpus→centroid assignment as tc/assigned CTEs (vec_id and
    * cidx only — [[ivfSearchSqlTail]]'s richer tc also carries vectors).
    * Shared by the IVFADC oracle and the hard_negatives oracle so the
    * assignment ordering/tiebreak cannot drift between them — the same
    * one-generated-chain rule as [[kmCentSqlCtes]]/[[pqSqlCtesOver]].
    */
  private def kmAssignSqlCtes(cent: String): String =
    s"""tc AS (SELECT e.vec_id, c.cidx,
       |              row_number() OVER (PARTITION BY e.vec_id
       |                ORDER BY round(list_dot_product(e.v, c.cv) / (e.nrm * c.cn), 6) DESC,
       |                         c.cidx) AS cr
       |       FROM e CROSS JOIN $cent c),
       |assigned AS (SELECT cidx, vec_id FROM tc WHERE cr = 1)""".stripMargin

  // --------------------------------------------------------- label_centroids
  /** `label_centroids` — per-label mean embedding (class centroids): the
    * semantic-aggregation primitive behind label-balanced sampling,
    * centroid-distance outlier filtering, and per-class drift monitoring.
    * Same engine-exact arithmetic as the k-means codebook: components are
    * quantized to integers once, summed with associative BIGINT
    * arithmetic, and divided by one exactly-rounded IEEE division — so the
    * centroid doubles hash-match the oracle regardless of partial-
    * aggregation order. Output is EXPLODED to (label, dim, value) scalar
    * rows (oracle compare is scalar-typed), one row per label×dimension.
    *
    * Shape: posexplode to (label, dim, q) then ONE partial-final hash
    * aggregation on (label, dim) — n·d rows collapse map-side; the result
    * is |labels|·d rows. The n_vectors count rides the same aggregation.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    quantized(emb(spark, dir))
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "q")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("q")).as("s"))
      .select(col("label"), col("dim"), col("n_vectors"),
        (col("s").cast("double") / (lit(QScale) * col("n_vectors")).cast("double"))
          .as("value"))

  val labelCentroidsSql: String = {
    val qvList =
      s"[CAST(floor(v[i] * $QScale + 0.5) AS BIGINT) for i in generate_series(1, $KmDim)]"
    s"""WITH $embCte,
       |eq AS (SELECT label, $qvList AS qv FROM e),
       |x AS (SELECT label, CAST(d.i AS BIGINT) AS dim, qv[d.i] AS q
       |      FROM eq CROSS JOIN generate_series(1, $KmDim) AS d(i))
       |SELECT label, dim, count(*) AS n_vectors,
       |       CAST(sum(q) AS DOUBLE) / CAST($QScale * count(*) AS DOUBLE) AS value
       |FROM x GROUP BY label, dim""".stripMargin
  }

  // ------------------------------------------------------------------ ann_pq
  /** `ann_pq` — product-quantization ANN (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the 64-dim
    * vector splits into [[PqM]] contiguous subvectors; each subvector is
    * vector-quantized against a [[PqK]]-entry sub-codebook; a corpus
    * vector is then just [[PqM]] small codes (16 bytes here vs 256+ for the
    * raw floats — PQ's role at 100 TB is COMPRESSION: the whole corpus'
    * codes fit in memory where the vectors don't). Search is ADC
    * (asymmetric distance): per query, precompute the PqM×PqK table of
    * exact subvector distances to every sub-centroid, then score each
    * candidate with PqM table LOOKUPS instead of a d-dim dot product.
    *
    * Engine-exactness: everything runs in the quantized INTEGER domain —
    * subvector distances are BIGINT sums of squared differences of the
    * 2^20-quantized components (associative, engine-identical; the same
    * [[QScale]] trick as the k-means codebook), code assignment breaks
    * ties on the smaller code, and `adist` is an exact BIGINT, so ranks
    * can never hash-mismatch on float noise. Sub-codebooks are the
    * hash-sampled [[PqK]] vectors' subvectors (deterministic,
    * oracle-reproducible; a k-means refinement per subspace is the
    * production upgrade, exactly as with the IVF codebook).
    *
    * Scale shape: encoding is the one-time index build (memoized):
    * corpus × PqK broadcast → per-(vector, subspace) min_by packed-long
    * HashAggregate → one codes row per vector. Search mirrors ann_topk's
    * bounded-chunk broadcast, but broadcasting 128-entry distance TABLES
    * instead of vectors, and the scan does 8 integer lookups per
    * candidate instead of a 64-dim double dot — the ADC win. Compose with
    * the IVF probe lists (IVFADC) when even a compressed full scan is too
    * much.
    */
  val PqM = 16
  val PqSub = KmDim / PqM
  /** 256 sub-centroids = 8-bit codes → the standard PQ16×8 layout
    * (16 bytes per vector, 16× smaller than the 256-byte raw floats).
    * M is the capacity knob that matters on THIS corpus: the embeddings
    * are near-uniform on the unit sphere, so the coarse quantizer removes
    * only ~14% of the variance (measured residual variance 0.86 vs raw
    * 1.0; mean centroid norm 0.38) and recall is quantization-capacity
    * limited — the round-12 PQ8×8 point measured 0.385 full-scan /
    * 0.365 IVFADC recall@10 no matter what was encoded. Doubling M
    * (PqSub 8 → 4 per subspace) roughly halves per-subspace distortion;
    * measured full-scan recall@10 at PQ16×8 with the 2-step Lloyd
    * sub-codebooks is recorded in RECALL.md. A clustered production
    * corpus bends the other way: residuals shrink, and M can drop back
    * toward 8 for the same recall — M is a per-deployment knob like
    * Nprobe.
    */
  val PqK = 256

  /** Per-chunk cap for broadcasting ADC tables: a PQ query row carries
    * PqM·PqK longs (16 KB at 8×256), ~32× an ann_topk vector row, so the
    * generic [[MaxBroadcastQueries]] would let one chunk reach ~1 GB.
    * Scale the cap down by the row-size ratio to keep the same byte bound.
    */
  val PqMaxBroadcast: Int =
    math.max(1, MaxBroadcastQueries * KmDim / (PqM * PqK))

  private val pqCodebookMemo = Memo.table()
  private val pqCodesMemo = Memo.table()

  /** Lloyd iterations for the PQ sub-codebooks (the trained-quantizer
    * upgrade PQ gets, mirroring the IVF k-means codebook — a production
    * PQ always trains per-subspace centroids; the hash-sampled init alone
    * leaves recall on the table). 2 matches [[KmIters]]: the oracle CTE
    * chain ([[pqSqlCtesAfterEq]]) unrolls per-iteration, so the constant
    * moves both engines in lockstep.
    */
  val PqIters = 2

  /** Hash-sampled INIT then [[PqIters]] Lloyd steps per subspace,
    * entirely in the integer domain: each refined centroid component is
    * re-quantized to the nearest integer (floor(s/cnt + 0.5) — one
    * exactly-rounded IEEE division, so it is engine-identical), which
    * keeps every downstream distance/adist/rank an exact BIGINT while
    * costing ≤0.5 q-units (2⁻²¹ in vector units) of centroid precision —
    * immaterial next to the quantization cell size. Layout: (cj in
    * 1..PqK, qc = full 64-long vector; subspace m reads components
    * [m·PqSub+1, (m+1)·PqSub]) — the refined sub-centroids reassemble
    * into this same layout so encoding/query-table code is codebook-
    * agnostic. Empty clusters keep their previous centroid. All of this
    * is memoized index-BUILD cost.
    */
  private def pqCodebook(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeDisk(pqCodebookMemo, spark, dir, "pq_codebook", pqConfigKey)(
      trainPqCodebook(quantized(emb(spark, dir)).select(col("vec_id"), col("qv"))))

  /** The PQ training loop over ANY (vec_id, qv) integer-vector source —
    * shared verbatim by the raw-vector sub-codebooks ([[annPq]]'s full
    * compressed scan) and the RESIDUAL sub-codebooks ([[annIvfPq]]'s
    * IVFADC), so the two quantizers can never drift in training
    * semantics; only the vectors they are trained ON differ.
    */
  private def trainPqCodebook(src: DataFrame): DataFrame = {
    val ch = graft.functions.TextFns.hash60(col("vec_id").cast("string"))
    val init0 = src.withColumn("ch", ch)
      .orderBy(col("ch").asc, col("vec_id").asc).limit(PqK)
      .withColumn("cj",
        row_number().over(Window.orderBy(col("ch").asc, col("vec_id").asc)).cast("long"))
      .select(col("cj"), col("qv").as("qc"))
    // per-subspace view of init and corpus: (m, cj, sc) / (vec_id, m, sv)
    val subSlice = (c: Column) =>
      slice(c, (col("m") * PqSub + 1).cast("int"), lit(PqSub))
    val init = init0
      .select(col("cj"), explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("qc"))
      .select(col("m"), col("cj"), subSlice(col("qc")).as("sc"))
    val eqSubs = src
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("qv"))
      .select(col("vec_id"), col("m"), subSlice(col("qv")).as("sv"))
    val refined = (1 to PqIters).foldLeft(init)((c, _) => pqLloydStep(eqSubs, c))
    // reassemble (m, cj, sc) blocks into the full-vector layout
    refined.groupBy(col("cj"))
      .agg(sort_array(collect_list(struct(col("m"), col("sc")))).as("ms"))
      .select(col("cj"),
        flatten(transform(col("ms"), x => x.getField("sc"))).as("qc"))
  }

  /** One Lloyd step over all subspaces at once: assign every (vector,
    * subspace) to its nearest (m, cj) sub-centroid — equi-join on m +
    * packed-long min_by HashAggregate, the same shape as encoding — then
    * recompute each sub-centroid as the re-quantized integer mean of its
    * members (cnt + PqSub BIGINT sums in one hash aggregation).
    */
  private def pqLloydStep(eqSubs: DataFrame, cents: DataFrame): DataFrame = {
    val d = (1 to PqSub).map { i =>
      val diff = element_at(col("sv"), i) - element_at(col("sc"), i)
      diff * diff
    }.reduceLeft(_ + _)
    val assigned = eqSubs.join(broadcast(cents), Seq("m"))
      .select(col("vec_id"), col("m"), col("cj"),
        (d * lit(2L * PqK) + col("cj")).as("ord"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("cj"), col("ord")).as("cj"))
    val sumCols = (1 to PqSub).map(i => sum(element_at(col("sv"), i)).as(s"s$i"))
    val sums = assigned.join(eqSubs, Seq("vec_id", "m"))
      .groupBy(col("m"), col("cj"))
      .agg(count(lit(1)).as("cnt"), sumCols: _*)
    val mean = array((1 to PqSub).map(i =>
      floor(col(s"s$i").cast("double") / col("cnt").cast("double") + lit(0.5))): _*)
    cents.join(broadcast(sums), Seq("m", "cj"), "left")
      .select(col("m"), col("cj"),
        when(col("cnt").isNull, col("sc")).otherwise(mean).as("sc"))
  }

  /** Exact integer L2² between subvector `m` of `qv` and of `qc`. */
  private def pqSubDist(qv: Column, qc: Column, m: Column): Column =
    (1 to PqSub).map { i =>
      val idx = (m * PqSub + i).cast("int")
      val diff = element_at(qv, idx) - element_at(qc, idx)
      diff * diff
    }.reduceLeft(_ + _)

  /** (vec_id, m, cj, d): distance of every vector's subspace-m subvector
    * to every sub-centroid of `cb` — the shared base of encoding (argmin
    * over cj) and the query distance tables (all cj kept). `cb` is an
    * O(PqK)-row codebook, always broadcast.
    */
  private def pqDistances(side: DataFrame, cb: DataFrame): DataFrame =
    side
      .select(col("vec_id"), col("qv"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .crossJoin(broadcast(cb))
      .select(col("vec_id"), col("m"), col("cj"),
        pqSubDist(col("qv"), col("qc"), col("m")).as("d"))

  /** Encode (vec_id, m, cj, d) distances into one codes row per vector.
    * d·(2·PqK)+cj packs (d asc, cj asc) into one long (d < 2^50,
    * cj ≤ PqK) so the per-(vector, subspace) argmin stays a HashAggregate.
    */
  private def encodeCodes(dists: DataFrame): DataFrame = {
    val enc = dists
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("cj"), col("d") * lit(2L * PqK) + col("cj")).as("cj"))
    val pivots = (0 until PqM).map(m =>
      max(when(col("m") === m, col("cj"))).as(s"c$m"))
    enc.groupBy(col("vec_id"))
      .agg(pivots.head, pivots.tail: _*)
      .select(col("vec_id"),
        array((0 until PqM).map(m => col(s"c$m")): _*).as("codes"))
  }

  /** The PQ index: one row per corpus vector, codes = array of PqM codes. */
  private def pqCodes(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeDisk(pqCodesMemo, spark, dir, "pq_codes", pqConfigKey)(
      encodeCodes(pqDistances(quantized(emb(spark, dir)), pqCodebook(spark, dir))))

  /** Query-side ADC tables (query_id, tds): tds = the PqM×PqK distances
    * flattened in (m, cj) order — entry for (m, cj) sits at 1-based index
    * m·PqK+cj. Assembled by sorting collected (key, d) structs in-row,
    * NOT by a PqK-wide conditional pivot: 256 aggregate buffers of
    * `max(when(...))` fall out of whole-stage codegen and evaluate 256
    * interpreted predicates per input row (~1.5 s/invocation measured); a
    * collect_list appends one struct per row and the sort/projection
    * touches each group once.
    */
  private def pqQueryTables(spark: SparkSession, dir: String): DataFrame =
    pqDistances(
      quantized(emb(spark, dir)).filter(col("vec_id") % QueryMod === 0),
      pqCodebook(spark, dir))
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_list(struct(
        (col("m") * PqK + col("cj")).as("key"), col("d")))).as("kd"))
      .select(col("vec_id").as("query_id"),
        transform(col("kd"), x => x.getField("d")).as("tds"))

  /** ADC scoring tail shared by [[annPq]] and [[annIvfPq]]: `joined` must
    * carry (query_id, tds, neighbor_id, codes); adist = PqM table lookups
    * summed as exact BIGINT, rank per query by (adist, neighbor_id), top-k
    * kept (k = TopK for the search result, RerankR for the re-rank
    * candidate stage).
    */
  private def pqRank(joined: DataFrame, k: Int = TopK): DataFrame = {
    val adist = (0 until PqM).map { m =>
      element_at(col("tds"),
        (lit(m * PqK) + element_at(col("codes"), m + 1)).cast("int"))
    }.reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    joined.withColumn("adist", adist)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist"), col("rank"))
  }

  def annPq(spark: SparkSession, dir: String,
      maxBroadcast: Long = PqMaxBroadcast): DataFrame =
    // plan-memo only at the declared operating point — the test hook
    // forcing multi-chunk paths must keep building fresh plans
    if (maxBroadcast == PqMaxBroadcast)
      planMemo(spark, dir, "ann_pq")(annPqBuild(spark, dir, maxBroadcast))
    else annPqBuild(spark, dir, maxBroadcast)

  private def annPqBuild(spark: SparkSession, dir: String,
      maxBroadcast: Long): DataFrame = {
    val q = pqQueryTables(spark, dir)
    val c = pqCodes(spark, dir)
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    // same bounded-chunk broadcast as ann_topk: the query side grows with
    // the corpus; each chunk's tables broadcast within a fixed byte
    // bound and the codes table streams once per chunk (maxBroadcast
    // param: test hook forcing the multi-chunk path, like annTopk's)
    val nqBound = estimatedRows(spark, dir) / QueryMod + 1
    val nChunks = math.max(1L, (nqBound + maxBroadcast - 1) / maxBroadcast).toInt
    val joined = (0 until nChunks).map { k =>
      val qk = if (nChunks == 1) q else q.filter(chunkOf(col("query_id"), nChunks) === k)
      broadcast(qk).join(c, col("query_id") =!= col("neighbor_id"))
    }.reduce(_ union _)
    pqRank(joined)
  }

  /** The PQ train+encode CTE chain over a (vec_id, qv) source CTE named
    * `src` (cb0 → Lloyd steps → cb, then ed/codes). Generated ONCE and
    * instantiated on the plain quantized `eq` by the full-scan oracle and
    * on the residual table `rq` by the IVFADC oracle, so training/encode
    * semantics cannot drift between the two — the same sharing
    * [[trainPqCodebook]] gives the Spark side. Mirrors
    * [[pqCodebook]]/[[pqLloydStep]]: integer sub-distances, argmin by
    * (d, cj), re-quantized integer centroid means, empty clusters keep
    * the previous centroid, blocks reassembled in m order.
    */
  private def pqSqlCtesOver(src: String): String = {
    val ch = Oracle.hash60("CAST(vec_id AS VARCHAR)")
    val sq =
      s"(t.qv[s.m*$PqSub+i] - c.qc[s.m*$PqSub+i]) * (t.qv[s.m*$PqSub+i] - c.qc[s.m*$PqSub+i])"
    val sumCols = (1 to PqSub)
      .map(i => s"sum(t.qv[a.m*$PqSub+$i]) AS s$i").mkString(", ")
    val meanList = (1 to PqSub)
      .map(i => s"CAST(floor(CAST(p.s$i AS DOUBLE) / CAST(p.cnt AS DOUBLE) + 0.5) AS BIGINT)")
      .mkString("[", ", ", "]")
    def step(n: Int): String = {
      val prev = s"cb${n - 1}"
      s"""pa$n AS (SELECT t.vec_id, s.m, c.cj,
         |                row_number() OVER (PARTITION BY t.vec_id, s.m
         |                  ORDER BY list_sum([$sq for i in generate_series(1, $PqSub)]), c.cj) AS rn
         |         FROM $src t CROSS JOIN sub s CROSS JOIN $prev c),
         |ps$n AS (SELECT a.m, a.cj, count(*) AS cnt, $sumCols
         |         FROM pa$n a JOIN $src t ON t.vec_id = a.vec_id
         |         WHERE a.rn = 1 GROUP BY a.m, a.cj),
         |pm$n AS (SELECT s.m, c.cj,
         |                CASE WHEN p.cnt IS NULL THEN c.qc[s.m*$PqSub+1 : s.m*$PqSub+$PqSub]
         |                     ELSE $meanList END AS sc
         |         FROM $prev c CROSS JOIN sub s
         |         LEFT JOIN ps$n p ON p.m = s.m AND p.cj = c.cj),
         |cb$n AS (SELECT cj, flatten(list(sc ORDER BY m)) AS qc
         |         FROM pm$n GROUP BY cj)""".stripMargin
    }
    s"""cb0 AS (SELECT qv AS qc,
       |              CAST(row_number() OVER (ORDER BY $ch, vec_id) AS BIGINT) AS cj
       |       FROM $src QUALIFY cj <= $PqK),
       |sub AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |${(1 to PqIters).map(step).mkString(",\n")},
       |cb AS (SELECT cj, qc FROM cb$PqIters),
       |ed AS (SELECT t.vec_id, s.m, c.cj,
       |              list_sum([$sq for i in generate_series(1, $PqSub)]) AS d
       |       FROM $src t CROSS JOIN sub s CROSS JOIN cb c),
       |codes AS (SELECT vec_id, m, cj FROM (
       |            SELECT vec_id, m, cj,
       |                   row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cj) AS rn
       |            FROM ed) WHERE rn = 1)""".stripMargin
  }

  private val pqSqlCtes: String = {
    val qvList =
      s"[CAST(floor(v[i] * $QScale + 0.5) AS BIGINT) for i in generate_series(1, $KmDim)]"
    s"""$embCte,
       |eq AS (SELECT vec_id, $qvList AS qv FROM e),
       |${pqSqlCtesOver("eq")},
       |qd AS (SELECT * FROM ed WHERE vec_id % $QueryMod = 0)""".stripMargin
  }

  private val pqSqlRank: String =
    s"""rk AS (SELECT query_id, neighbor_id, adist,
       |              CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS BIGINT) AS rank
       |       FROM ad)
       |SELECT query_id, neighbor_id, adist, rank FROM rk WHERE rank <= $TopK""".stripMargin

  val annPqSql: String =
    s"""WITH $pqSqlCtes,
       |ad AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |              CAST(sum(q.d) AS BIGINT) AS adist
       |       FROM codes x JOIN qd q ON q.m = x.m AND q.cj = x.cj
       |       WHERE q.vec_id <> x.vec_id
       |       GROUP BY 1, 2),
       |$pqSqlRank""".stripMargin

  // --------------------------------------------------------------- ann_ivfpq
  /** `ann_ivfpq` — IVFADC with RESIDUAL encoding (Jégou et al. 2011,
    * §III-IV — see reference survey row; "the residual vector r(y) =
    * y − q_c(y) is encoded" is the defining step of IVFADC, not an
    * optional refinement): IVF prunes WHICH candidates to score (each
    * query reads only its Nprobe inverted lists, ~Nprobe/IvfC of the
    * corpus); PQ compresses HOW each candidate is scored — but what gets
    * PQ-encoded is the residual x − c(x) against the vector's assigned
    * Lloyd-refined coarse centroid, NOT the raw vector. Residuals have a
    * fraction of the raw vectors' variance (the coarse quantizer removed
    * the rest), so the same PqM×PqK budget spends its quantization cells
    * on a much smaller ball — the round-12 raw-code variant measured
    * recall@10 0.365 against the 0.735 candidate ceiling, and residual
    * encoding exists to close exactly that gap. The query side pays the
    * standard IVFADC price: one PqM×PqK ADC table PER PROBED LIST (the
    * query's residual differs per centroid), i.e. nq·Nprobe tables
    * instead of nq — still O(1) per (query, list) and tiny next to the
    * list scans they replace.
    *
    * Residual arithmetic stays engine-exact end to end: centroids are the
    * integer-derived doubles of [[kmeansCodebook]], re-quantized to
    * integers by one exactly-rounded floor(cv·2^20 + 0.5) per component
    * ([[qCentroids]]), so residuals are differences of exact BIGINTs and
    * every sub-distance/adist/rank below them is associative integer
    * arithmetic the oracle reproduces bit-for-bit.
    *
    * Index shape at 100 TB is unchanged from the raw-code variant: the
    * search path touches only (cidx, neighbor_id, codes) — 16-byte codes,
    * 16× smaller than the vectors — via a shuffle-hash probe join on
    * cidx (probe side grows with the corpus — never broadcast). The
    * residual sub-codebooks are ONE shared PqM×PqK table (Jégou §III's
    * memory-bounded choice), trained by the same [[trainPqCodebook]]
    * loop as ann_pq's, just on residual vectors.
    */
  private val rpqCodebookMemo = Memo.table()
  private val rIvfPqMemo = Memo.table()
  private val residualsMemo = Memo.table()
  private val rpqScaledCodebookMemo = Memo.table()
  private val rIvfPqScaledMemo = Memo.table()
  private val residualsScaledMemo = Memo.table()

  /** The IVFADC chain is ONE parameterized pipeline over two coarse
    * quantizers: `scaled = false` probes the fixed-capacity Lloyd
    * codebook ([[kmeansCodebook]], C = IvfC — the measured control half),
    * `scaled = true` the capacity-law one ([[kmeansScaledCodebookOf]],
    * C = ⌊√(Nprobe·n)⌋). Residual training/encoding/ADC are shared
    * verbatim, so the twins cannot drift in search semantics — only the
    * coarse quantizer (and thus the probed fraction) differs.
    */
  private def adcCents(spark: SparkSession, dir: String,
      scaled: Boolean): DataFrame =
    if (scaled) kmeansScaledCodebookOf(spark, dir) else kmeansCodebook(spark, dir)

  private def adcLists(spark: SparkSession, dir: String,
      scaled: Boolean): DataFrame =
    if (scaled)
      ivfAssigned(spark, dir, kmeansScaledCodebookOf(spark, dir),
        kmScaledListsMemo, "ivf_lists_kmeans_scaled", scaledCOf(spark, dir))
    else kmIndexLists(spark, dir)

  /** Artifact-label suffix + config key per variant: the scaled
    * artifacts' content depends on the derived C, so it rides the key.
    */
  private def adcSuffix(scaled: Boolean): String = if (scaled) "_scaled" else ""
  private def adcConfigKey(spark: SparkSession, dir: String,
      scaled: Boolean): String =
    if (scaled) s"$ivfConfigKey $pqConfigKey C=${scaledCOf(spark, dir)}"
    else s"$ivfConfigKey $pqConfigKey"

  /** The coarse centroids re-quantized to the integer domain (cidx, qc):
    * one exactly-rounded floor per component of an engine-identical
    * double → engine-identical BIGINTs.
    */
  private def qCentroids(spark: SparkSession, dir: String,
      scaled: Boolean = false): DataFrame =
    adcCents(spark, dir, scaled).select(col("cidx"),
      transform(col("cv2"), x => floor(x * QScale + lit(0.5))).as("qc"))

  /** (vec_id, cidx, qv): each corpus vector's exact integer residual
    * against its assigned coarse centroid — the vectors IVFADC actually
    * encodes. Memoized in-memory (feeds both the residual-codebook build
    * and the encode pass); the derived artifacts are disk-cached.
    */
  private def residuals(spark: SparkSession, dir: String,
      scaled: Boolean = false): DataFrame =
    Memo.memoize(if (scaled) residualsScaledMemo else residualsMemo, spark, dir) {
      adcLists(spark, dir, scaled).select(col("neighbor_id").as("vec_id"), col("cidx"))
        .join(quantized(emb(spark, dir)).select(col("vec_id"), col("qv")), Seq("vec_id"))
        .join(broadcast(qCentroids(spark, dir, scaled)), Seq("cidx"))
        .select(col("vec_id"), col("cidx"),
          zip_with(col("qv"), col("qc"), (a, b) => a - b).as("qv"))
    }

  /** Residual sub-codebooks: the same hash-sampled-init + Lloyd training
    * loop as [[pqCodebook]], run on residuals.
    */
  private def rpqCodebook(spark: SparkSession, dir: String,
      scaled: Boolean = false): DataFrame =
    Memo.memoizeDisk(if (scaled) rpqScaledCodebookMemo else rpqCodebookMemo,
      spark, dir, s"rpq_codebook${adcSuffix(scaled)}",
      adcConfigKey(spark, dir, scaled))(
      trainPqCodebook(residuals(spark, dir, scaled).select(col("vec_id"), col("qv"))))

  /** The IVFADC index: (cidx, neighbor_id, codes) with codes = the PqM
    * residual codes. One disk-cached artifact — at 100 TB this table IS
    * the in-memory index a probe fleet serves from.
    */
  private def ivfPqResIndex(spark: SparkSession, dir: String,
      scaled: Boolean = false): DataFrame =
    Memo.memoizeDisk(if (scaled) rIvfPqScaledMemo else rIvfPqMemo, spark, dir,
      s"ivfpq_res_index${adcSuffix(scaled)}", adcConfigKey(spark, dir, scaled)) {
      val r = residuals(spark, dir, scaled)
      encodeCodes(pqDistances(r, rpqCodebook(spark, dir, scaled)))
        .withColumnRenamed("vec_id", "neighbor_id")
        .join(r.select(col("vec_id").as("neighbor_id"), col("cidx")),
          Seq("neighbor_id"))
    }

  /** Query-side ADC tables, one per (query, probed list): the query's
    * residual against THAT list's centroid, tabulated against the
    * residual sub-codebooks. (query_id, cidx, tds) with tds laid out
    * exactly like [[pqQueryTables]]' so [[pqRank]] scores both variants.
    */
  /** Memo for the DEFAULT-depth ADC query distance tables — shared by
    * [[annIvfPq]] (k = TopK) and [[annIvfPqRerank]] (k = RerankR): the
    * two consumers differ only in how many candidates they keep, so the
    * per-(query, probed list) table build (residuals × sub-codebook
    * scoring + the 4096-slot sort) is identical and O(nq · Nprobe) rows.
    * Without the memo each consumer — and the recall report, which runs
    * both — rebuilds it. Sweep paths (non-default nprobe) bypass.
    */
  private val rpqQtMemo = Memo.table()
  private val rpqQtScaledMemo = Memo.table()

  private def rpqQueryTables(spark: SparkSession, dir: String,
      nprobe: Int, scaled: Boolean = false): DataFrame =
    if (nprobe == Nprobe)
      Memo.memoize(if (scaled) rpqQtScaledMemo else rpqQtMemo, spark, dir)(
        rpqQueryTablesBuild(spark, dir, nprobe, scaled))
    else rpqQueryTablesBuild(spark, dir, nprobe, scaled)

  private def rpqQueryTablesBuild(spark: SparkSession, dir: String,
      nprobe: Int, scaled: Boolean = false): DataFrame = {
    val qInt = quantized(emb(spark, dir)).filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("qv").as("qvi"))
    val qres = ivfProbes(spark, dir, adcCents(spark, dir, scaled), nprobe)
      .select(col("query_id"), col("cidx"))
      .join(qInt, Seq("query_id"))
      .join(broadcast(qCentroids(spark, dir, scaled)), Seq("cidx"))
      .select(col("query_id"), col("cidx"),
        zip_with(col("qvi"), col("qc"), (a, b) => a - b).as("qv"))
    qres
      .select(col("query_id"), col("cidx"), col("qv"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .crossJoin(broadcast(rpqCodebook(spark, dir, scaled)))
      .select(col("query_id"), col("cidx"), col("m"), col("cj"),
        pqSubDist(col("qv"), col("qc"), col("m")).as("d"))
      .groupBy(col("query_id"), col("cidx"))
      .agg(sort_array(collect_list(struct(
        (col("m") * PqK + col("cj")).as("key"), col("d")))).as("kd"))
      .select(col("query_id"), col("cidx"),
        transform(col("kd"), x => x.getField("d")).as("tds"))
  }

  /** The IVFADC candidate stage shared by [[annIvfPq]] (k = TopK, result
    * ranks ARE the ADC ranks) and [[annIvfPqRerank]] (k = RerankR,
    * candidates only) — and, via `scaled`, by their capacity-law twins:
    * per-(query, list) tables ⋈ (lists ⋈ residual codes) shuffle-hash on
    * cidx, ADC scoring, top-k per query. A candidate sits in exactly one
    * list and probe lists are distinct, so no (query, candidate) pair is
    * scored twice.
    *
    * The shuffle-hash BUILD side is the CODES index, not the ADC tables:
    * a codes row is ~40 B (PqM byte-scale codes + two ids) while an ADC
    * table row carries PqM·PqK longs (~33 KB at 16×256) — building the
    * hash relation over the table side measured a ~1.6 GB build at the
    * sf10 scale-up and died with "Can't acquire … bytes to build hash
    * relation"; the codes side is ~200× smaller there and stays the
    * smaller side at every scale (table rows ≈ 0.24·n·33 KB vs codes
    * n·40 B). The fat tds rows STREAM through the join and are consumed
    * by the adist projection in the same stage, so nothing wide is ever
    * buffered.
    */
  /** Round-18 measured dead end, kept on record (verdict item 1's "share
    * one exchange subtree" lever): [[annIvfPq]] (rank ≤ TopK) is exactly
    * the PREFIX of [[annIvfPqRerank]]'s rank ≤ RerankR candidate ranking
    * (row_number over (adist ASC, neighbor_id ASC) is a deterministic
    * total order), so both twins were rebuilt over ONE memoized
    * rank-≤-RerankR plan with ann_ivfpq adding `filter(rank <= TopK)` on
    * top — bit-identical results, and in the report (which runs both
    * twins in one action) the ADC chains should have canonicalized equal
    * and let AQE's stage cache execute the shuffle-hash join + adist
    * scoring + ranking exchange ONCE per quantizer. It does not work:
    * InsertWindowGroupLimit pushes each branch's rank bound below the
    * window as a PARTIAL WindowGroupLimit on the map side of the ranking
    * exchange (verified in the final adaptive plan: `row_number(), 10,
    * Partial` vs `…, 100, Partial` per quantizer), so the optimizer
    * re-splits the shared subtree and zero stages dedupe; the paired
    * subset bench measured it flat (report 2.098 → 2.103 s warm sf0.1)
    * with standalone ann_ivfpq paying rank-100 heap work for nothing.
    * Reverted. A real fix needs a rank mechanism with no window for the
    * optimizer to split — the [[TopKLongsAgg]] bounded heap — but the
    * packed-long trick cannot carry (adist, id): adist bounds at
    * ~2^48 (16 sub-blocks × 4 dims × (2·2^20)² residual diffs), leaving
    * under 15 bits for the id tiebreak. A two-long-buffer heap aggregate
    * would do it; weigh against the duplicated map stage actually
    * measured before building one.
    */
  private def ivfPqAdc(spark: SparkSession, dir: String, k: Int,
      nprobe: Int = Nprobe, scaled: Boolean = false): DataFrame =
    pqRank(rpqQueryTables(spark, dir, nprobe, scaled)
      .join(ivfPqResIndex(spark, dir, scaled).hint("shuffle_hash"), Seq("cidx"))
      .filter(col("query_id") =!= col("neighbor_id")), k)

  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    planMemo(spark, dir, "ann_ivfpq")(ivfPqAdc(spark, dir, TopK))

  // ------------------------------------------------------- ann_ivfpq_scaled
  /** `ann_ivfpq_scaled` — IVFADC whose coarse quantizer follows the
    * balanced capacity law: the scaled Lloyd codebook
    * ([[kmeansScaledCodebookOf]], C = ⌊√(Nprobe·n)⌋) prunes the candidate
    * set to Nprobe lists of mean size √(n/Nprobe) — per-query scan √n,
    * not n — while the residual PqM×PqK sub-codebooks and the ADC scoring
    * stay EXACTLY [[annIvfPq]]'s (shared `scaled`-parameterized chain;
    * PQ's compression budget is per-vector and does not scale with the
    * corpus). This was the last fixed-capacity member class: round 14
    * measured the fixed IVFADC pair quadratic across decades (34 s at
    * sf10) because Nprobe/C held the scanned fraction constant; here the
    * fraction falls 1/√n per decade like [[annIvfScaled]]'s, with the
    * SAME C derived from `count(*)` in the oracle so the composed law
    * (capacity → Lloyd training → residual encoding → ADC) is
    * hash-checked end to end.
    */
  def annIvfPqScaled(spark: SparkSession, dir: String): DataFrame =
    planMemo(spark, dir, "ann_ivfpq_scaled")(ivfPqAdc(spark, dir, TopK, scaled = true))

  /** The residual probe/assign/encode/ADC CTE chain shared by the IVFADC
    * oracle and its re-rank twin — and, via `centChain`, by their
    * capacity-law twins (only the coarse-codebook CTE chain differs):
    * everything up to `ad` (query_id, neighbor_id, adist). Mirrors the
    * Spark build step for step: quantized centroids, per-vector
    * residuals, residual sub-codebook training ([[pqSqlCtesOver]] on
    * `rq` — the SAME generated chain ann_pq uses on `eq`), residual
    * encoding, per-(query, probed list) tables.
    */
  private def ivfPqAdcSqlCtesOver(centChain: String): String = {
    val cent = s"cent$KmIters"
    val qcList =
      s"[CAST(floor(cv[i] * $QScale + 0.5) AS BIGINT) for i in generate_series(1, $KmDim)]"
    val resList = s"[eq.qv[i] - qc.qc[i] for i in generate_series(1, $KmDim)]"
    val sq =
      s"(t.qv[s.m*$PqSub+i] - c.qc[s.m*$PqSub+i]) * (t.qv[s.m*$PqSub+i] - c.qc[s.m*$PqSub+i])"
    s"""$centChain,
       |qcent AS (SELECT cidx, $qcList AS qc FROM $cent),
       |${kmAssignSqlCtes(cent)},
       |rq AS (SELECT eq.vec_id, a.cidx, $resList AS qv
       |       FROM eq JOIN assigned a ON a.vec_id = eq.vec_id
       |       JOIN qcent qc ON qc.cidx = a.cidx),
       |${pqSqlCtesOver("rq")},
       |probes AS (SELECT vec_id, cidx FROM tc
       |           WHERE vec_id % $QueryMod = 0 AND cr <= $Nprobe),
       |qres AS (SELECT p.vec_id, p.cidx, $resList AS qv
       |         FROM probes p JOIN eq ON eq.vec_id = p.vec_id
       |         JOIN qcent qc ON qc.cidx = p.cidx),
       |qd AS (SELECT t.vec_id, t.cidx, s.m, c.cj,
       |              list_sum([$sq for i in generate_series(1, $PqSub)]) AS d
       |       FROM qres t CROSS JOIN sub s CROSS JOIN cb c),
       |ad AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
       |              CAST(sum(q.d) AS BIGINT) AS adist
       |       FROM probes p JOIN assigned a ON a.cidx = p.cidx AND a.vec_id <> p.vec_id
       |       JOIN codes x ON x.vec_id = a.vec_id
       |       JOIN qd q ON q.vec_id = p.vec_id AND q.cidx = p.cidx
       |                AND q.m = x.m AND q.cj = x.cj
       |       GROUP BY 1, 2)""".stripMargin
  }

  private val ivfPqAdcSqlCtes: String = ivfPqAdcSqlCtesOver(kmCentSqlCtes)
  private val ivfPqAdcScaledSqlCtes: String =
    ivfPqAdcSqlCtesOver(kmScaledCentSqlCtes)

  val annIvfPqSql: String =
    s"""WITH $ivfPqAdcSqlCtes,
       |$pqSqlRank""".stripMargin

  val annIvfPqScaledSql: String =
    s"""WITH $ivfPqAdcScaledSqlCtes,
       |$pqSqlRank""".stripMargin

  // -------------------------------------------------------- ann_ivfpq_rerank
  /** `ann_ivfpq_rerank` — IVFADC with the standard exact re-rank stage
    * (Jégou et al. 2011 §IV-E): the ADC pass keeps the top-[[RerankR]]
    * compressed-domain candidates per query, then the EXACT cosine against
    * the raw vectors re-orders just those R and keeps the top-10. This
    * recovers the quantization distortion ADC ranks suffer (RECALL.md
    * sweep at Nprobe=24 with the residual PQ16×8 codes: recall@10 0.695
    * at R=25 → 0.725 at R=50 → 0.735 at R=100 — the FULL
    * candidate-generation ceiling of the probed lists; the round-12
    * raw-code PQ8×8 point needed R=100 to reach 0.725) for one bounded
    * join — nq·R rows probe the vector table by id
    * — while the corpus-sized scan stays in the compressed domain. At
    * 100 TB this is exactly the production layout: codes in memory, raw
    * vectors fetched by id for R candidates per query only.
    *
    * Output schema matches [[annTopk]] (query_id, neighbor_id, rank, sim):
    * after re-ranking, ADC distances are no longer meaningful.
    */
  val RerankR = 100

  def annIvfPqRerank(spark: SparkSession, dir: String): DataFrame =
    planMemo(spark, dir, "ann_ivfpq_rerank")(
      annIvfPqRerankProbe(spark, dir, Nprobe, RerankR))

  /** `ann_ivfpq_rerank_scaled` — the exact re-rank stage over the
    * capacity-law IVFADC ([[annIvfPqScaled]]): identical R/k contract,
    * only the coarse quantizer (and thus which ~Nprobe/√(Nprobe·n) of
    * the corpus gets ADC-scored) differs. Completes the scaled family:
    * every fixed-capacity search path now has a measured C ∝ √n twin.
    */
  def annIvfPqRerankScaled(spark: SparkSession, dir: String): DataFrame =
    planMemo(spark, dir, "ann_ivfpq_rerank_scaled")(
      annIvfPqRerankProbe(spark, dir, Nprobe, RerankR, scaled = true))

  /** Sweep hook: the re-ranked IVFADC at arbitrary (nprobe, R). */
  private[graft] def annIvfPqRerankProbe(spark: SparkSession, dir: String,
      nprobe: Int, r: Int, scaled: Boolean = false): DataFrame = {
    val cand = ivfPqAdc(spark, dir, r, nprobe, scaled)
      .select(col("query_id"), col("neighbor_id"))
    val e = emb(spark, dir)
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    ranked(spark, dir, cand.join(q, Seq("query_id")).join(c, Seq("neighbor_id")))
  }

  private def ivfPqRerankSqlOver(adcCtes: String): String =
    s"""WITH $adcCtes,
       |cand AS (SELECT query_id, neighbor_id FROM (
       |           SELECT query_id, neighbor_id,
       |                  row_number() OVER (PARTITION BY query_id
       |                    ORDER BY adist, neighbor_id) AS rn
       |           FROM ad) WHERE rn <= $RerankR),
       |rr AS (SELECT t.query_id, t.neighbor_id,
       |              round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 6) AS cos6,
       |              round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 4) AS sim
       |       FROM cand t
       |       JOIN e q ON q.vec_id = t.query_id
       |       JOIN e n ON n.vec_id = t.neighbor_id),
       |rrk AS (SELECT query_id, neighbor_id, sim,
       |               CAST(row_number() OVER (PARTITION BY query_id
       |                 ORDER BY cos6 DESC, neighbor_id) AS BIGINT) AS rank
       |        FROM rr)
       |SELECT query_id, neighbor_id, rank, sim FROM rrk WHERE rank <= $TopK""".stripMargin

  val annIvfPqRerankSql: String = ivfPqRerankSqlOver(ivfPqAdcSqlCtes)
  val annIvfPqRerankScaledSql: String = ivfPqRerankSqlOver(ivfPqAdcScaledSqlCtes)

  // ------------------------------------------------------------ hard_negatives
  /** `hard_negatives` — contrastive-training hard-negative mining: for
    * EVERY vector (not just the `ann_*` query sample) the top-[[HardNegK]]
    * most-similar vectors with a DIFFERENT label, found among the members
    * of its [[HardNegProbe]] nearest kmeans-IVF lists — the Lloyd index
    * ([[kmeansCodebook]] + [[kmIndexLists]], the engine's best-measured
    * candidate generator: recall@10 0.735 at 38% scan) reused as the
    * miner's candidate source, replacing the round-12 LSH radius-1 probes
    * (recall@1 0.150 at ~3.5% scan; the IVF lists at a comparable
    * fraction measure better — RECALL.md row). This is the miner behind
    * triplet/InfoNCE training sets: the negatives that matter are the
    * ones the current representation confuses across class boundaries,
    * and at corpus scale you harvest them from an ANN index you already
    * built, never from an all-pairs scan.
    *
    * Semantics are engine-exact: probe selection orders by
    * `(round(cos, 6) DESC, cidx)` like every IVF stage, ranking by
    * `(round(cos, 6) DESC, neg_id)` like every ANN query here, and
    * anchors whose probed lists hold no cross-label candidate simply emit
    * nothing (inner-join semantics, mirrored by the oracle). A recall
    * floor vs the exact cross-label argmax is pinned in
    * SimilarityPropertySpec — the miner is approximate BY DESIGN and its
    * quality is a tested contract, not an accident.
    *
    * Scale shape: the anchor side IS the corpus, so the per-anchor
    * top-[[HardNegProbe]] centroid selection must NOT be a window over
    * the n·C assignment rows (that shuffles C× the corpus); instead the
    * broadcast-codebook crossJoin collapses map-side into ONE hash
    * aggregate collecting the C packed (cos6, cidx) longs per anchor —
    * the exchange carries n rows — and the top-nprobe probes unpack from
    * the sorted array (cidx = IvfC − ord mod IvfStride, the same packing the
    * assignment argmax uses). The probe join is shuffle-hash on the cidx
    * equi-key (never broadcast); per-anchor fan-out is the probed lists'
    * ~HardNegProbe/IvfC of the corpus, and the top-k window partitions by
    * anchor. At 100 TB raise IvfC so list count tracks cluster
    * parallelism — identical knob and identical reasoning to [[annIvf]].
    */
  val HardNegK = 3

  /** Width of the candidate-id field in the packed (cos6, id) rank
    * long — shared by the miner ([[hardNegMine]]) and every [[ranked]]
    * search path: 42 bits is the widest the 21-bit shifted cos6 leaves
    * ((2·10⁶)·2⁴² + 2⁴²−1 < 2⁶³). Ids beyond it (hashed 64-bit schemes)
    * fail fast via the in-plan guards at both pack sites.
    */
  val HardNegIdBits = 42

  /** 2 of 64 lists ≈ 3.1% of a balanced corpus — the operating point
    * matching the round-12 LSH miner's ~3.5% scan for an
    * apples-to-apples recall comparison (RECALL.md).
    */
  val HardNegProbe = 2

  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegativesProbe(spark, dir, HardNegProbe)

  /** Sweep hook: the miner at arbitrary probe depth (over the committed
    * kmeans-IVF index).
    */
  private[graft] def hardNegativesProbe(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame =
    hardNegMine(spark, dir, nprobe, kmeansCodebook(spark, dir),
      kmIndexLists(spark, dir), IvfC)

  /** The mining stage over an arbitrary (codebook, inverted lists, list
    * count) index — shared by the committed kmeans-IVF miner and the
    * scaled-capacity one so the probe/rank semantics cannot drift.
    * `lists` must be the (cidx, neighbor_id, cv, cn) table built by
    * [[ivfAssigned]] over the SAME `cents`/`c`.
    */
  private def hardNegMine(spark: SparkSession, dir: String, nprobe: Int,
      cents: DataFrame, lists: DataFrame, c: Int): DataFrame = {
    val e = emb(spark, dir)
    val stride = strideOf(c)
    val cos6c = round(cosine(col("v"), col("cv2"), col("nrm"), col("cn2")), 6)
    val ord = round(cos6c * lit(1000000d)).cast("long") * lit(stride) +
      (lit(c.toLong) - col("cidx"))
    // top-nprobe lists per anchor WITHOUT a window over n·C rows: one
    // bounded top-k heap aggregate (partial collapses map-side after the
    // broadcast crossJoin; O(nprobe) state per anchor vs collect_list's
    // O(C) — the scaled codebook's C is data-derived and unbounded),
    // unpack cidx from the packed long (pmod handles negative cos6
    // cleanly). The packed ords are distinct per anchor (distinct cidx ⇒
    // distinct residue), so the aggregate's distinct semantics are a
    // no-op here.
    val probes = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), ord.as("ord"))
      .groupBy(col("vec_id"))
      .agg(TopKLongsAgg(col("ord"), nprobe).as("ords"))
      .select(col("vec_id"), explode(col("ords")).as("ord"))
      .select(col("vec_id"),
        (lit(c.toLong) - pmod(col("ord"), lit(stride))).as("cidx"))
      .join(e, Seq("vec_id"))
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("cidx"), col("v").as("av"), col("nrm").as("an"))
    val negs = lists
      .select(col("cidx"), col("neighbor_id").as("neg_id"), col("cv"), col("cn"))
      .join(e.select(col("vec_id").as("neg_id"), col("label").as("neg_label")),
        Seq("neg_id"))
    // a (anchor, neg) pair meets at most once: the negative sits in ONE
    // list and the anchor's probed lists are distinct; self-pairs die on
    // the label filter (anchor_label = its own label)
    val cos = cosine(col("av"), col("cv"), col("an"), col("cn"))
    // Top-k per anchor via pack → bounded heap aggregate, NOT a
    // row_number window over the candidate join output: each join row
    // necessarily carries BOTH raw vectors (the cosine is computed here),
    // so a window — which sorts the full candidate stream — ships ~1 KB
    // per row through its sort. Measured at the 100× scale-up (sf10,
    // 200 k vectors, C=64 fixed): ~1.25 G candidate rows ≈ 1.3 TB of
    // window-sort spill — it filled a 77 GB disk and killed the stage.
    // Here the rank key (round(cos,6) desc, neg_id asc) packs into ONE
    // long IN THE JOIN PROJECTION (same round(cos6·10⁶) integerization as
    // the probe-selection packing above — FP-exact for 6-decimal values),
    // the vectors never leave the map side, and the aggregation exchange
    // carries 8 bytes per candidate into per-anchor partial collects. The
    // k winners (k·n rows) re-join the vector table to recompute `sim` as
    // round(cos,4) EXACTLY — deriving it from the packed 6-decimal value
    // would double-round. neg_id must fit HardNegIdBits = 42 bits — the
    // widest field the 21-bit shifted cos6 leaves in a long
    // ((2·10⁶)·2⁴² + 2⁴²−1 < 2⁶³) — and the bound is ENFORCED in-plan:
    // an out-of-range id (e.g. a hashed 64-bit vec_id scheme) fails the
    // job with a clear error instead of silently corrupting the ranking.
    // One long comparison per candidate, negligible next to the cosine
    // computed in the same projection.
    val idCap = 1L << HardNegIdBits
    val guardedId = when(col("neg_id") < 0 || col("neg_id") >= lit(idCap),
      raise_error(concat(
        lit(s"hard_negatives packing: neg_id outside [0, 2^$HardNegIdBits): "),
        col("neg_id").cast("string")))).otherwise(col("neg_id"))
    val pk = (round(round(cos, 6) * lit(1000000d)).cast("long") + lit(1000000L)) *
      lit(idCap) + (lit(idCap - 1L) - guardedId)
    // build side = the LISTS (n rows): the probes side is n·nprobe rows of
    // the same ~512 B vector width — always nprobe× larger, and large
    // enough at the third decade (sf100: ~7 GB scaled) to fail the hash-
    // relation build that n-row lists survive
    val topPacked = probes.join(negs.hint("shuffle_hash"), Seq("cidx"))
      .filter(col("anchor_label") =!= col("neg_label"))
      .select(col("anchor_id"), col("anchor_label"), pk.as("pk"))
      .groupBy(col("anchor_id"), col("anchor_label"))
      // bounded heap, not collect_list: the per-anchor candidate count is
      // O(n·nprobe/C) — unbounded across decades for the fixed-C control
      // index — and collect_list holds ALL of it in the merge buffer;
      // the heap holds HardNegK longs. Pairs meet at most once (see
      // above), so distinct semantics are a no-op.
      .agg(TopKLongsAgg(col("pk"), HardNegK).as("pks"))
      .select(col("anchor_id"), col("anchor_label"),
        posexplode(col("pks")).as(Seq("pos", "pk")))
      .select(col("anchor_id"), col("anchor_label"),
        (col("pos") + 1).cast("long").as("rank"),
        (lit((1L << HardNegIdBits) - 1) - pmod(col("pk"), lit(1L << HardNegIdBits))).as("neg_id"))
    val sim = round(cosine(col("av2"), col("nv"), col("an2"), col("nn")), 4)
    topPacked
      .join(e.select(col("vec_id").as("neg_id"), col("label").as("neg_label"),
        col("v").as("nv"), col("nrm").as("nn")), Seq("neg_id"))
      .join(e.select(col("vec_id").as("anchor_id"), col("v").as("av2"),
        col("nrm").as("an2")), Seq("anchor_id"))
      .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
        col("neg_label"), col("rank"), sim.as("sim"))
  }

  /** The mining tail (probes → cross-label candidates → per-anchor
    * top-k) over the tc/assigned CTEs of [[kmAssignSqlCtes]] — shared by
    * both miner oracles so probe/rank semantics cannot drift.
    */
  private def hardNegSqlTail(nprobe: Int): String =
    s"""probes AS (SELECT vec_id, cidx FROM tc WHERE cr <= $nprobe),
       |r AS (SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
       |             n.vec_id AS neg_id, n.label AS neg_label,
       |             round(list_dot_product(a.v, n.v) / (a.nrm * n.nrm), 6) AS cos6,
       |             round(list_dot_product(a.v, n.v) / (a.nrm * n.nrm), 4) AS sim
       |      FROM probes p
       |      JOIN e a ON a.vec_id = p.vec_id
       |      JOIN assigned asg ON asg.cidx = p.cidx
       |      JOIN e n ON n.vec_id = asg.vec_id AND n.label <> a.label),
       |rk AS (SELECT anchor_id, anchor_label, neg_id, neg_label, sim,
       |              CAST(row_number() OVER (PARTITION BY anchor_id
       |                   ORDER BY cos6 DESC, neg_id) AS BIGINT) AS rank
       |       FROM r)
       |SELECT anchor_id, anchor_label, neg_id, neg_label, rank, sim
       |FROM rk WHERE rank <= $HardNegK""".stripMargin

  val hardNegativesSql: String = {
    val cent = s"cent$KmIters"
    s"""WITH $kmCentSqlCtes,
       |${kmAssignSqlCtes(cent)},
       |${hardNegSqlTail(HardNegProbe)}""".stripMargin
  }

  // ----------------------------------------------------- hard_negatives_scaled
  /** `hard_negatives_scaled` — the capacity law applied to the MINER: the
    * same per-anchor cross-label top-[[HardNegK]] mining as
    * [[hardNegatives]], but over the scaled-capacity index
    * (C = ⌊√(Nprobe·n)⌋ sampled lists, [[scaledCodebookOf]]) at
    * [[HardNegProbeScaled]] probe lists per anchor.
    *
    * Why it exists: the sf10 scale-up measured the fixed-capacity miner
    * at 157 s warm — with EVERY vector an anchor, per-anchor candidates
    * are nprobe·n/C, so fixed C makes total mining work n²·nprobe/C
    * (quadratic per decade). Under the capacity law the same total is
    * n^1.5·nprobe/√Nprobe — a decade costs ~31.6×, not 100× (measured
    * side by side in BASELINE.md). The probe depth 7 ≈ 0.03·C(2000)
    * matches the committed miner's ~3% scan budget at the sf0.1
    * reference scale, so recall@1 is comparable apples-to-apples there;
    * at fixed nprobe the scanned fraction then falls 1/√n per decade —
    * the same recall-for-cost trade [[annIvfScaled]] documents, measured
    * and floor-pinned in SimilarityPropertySpec.
    */
  val HardNegProbeScaled = 7

  def hardNegativesScaled(spark: SparkSession, dir: String): DataFrame =
    hardNegMine(spark, dir, HardNegProbeScaled, scaledCodebookOf(spark, dir),
      scaledIndexLists(spark, dir), scaledCOf(spark, dir))

  val hardNegativesScaledSql: String =
    s"""WITH $embCte,
       |$scaledCentSqlCtes,
       |${kmAssignSqlCtes("cent")},
       |${hardNegSqlTail(HardNegProbeScaled)}""".stripMargin

  // --------------------------------------------------------------- gram_matrix
  /** `gram_matrix` — the d×d second-moment (Gram) matrix `Xᵀ X` of the
    * embedding corpus, upper triangle as (i, j, sum, moment) scalar rows:
    * the one-pass linear-algebra primitive under PCA, whitening, and
    * covariance-based drift monitors. At 100 TB this is THE way to get a
    * covariance estimate: a single corpus scan whose only network traffic
    * is d(d+1)/2 partial sums per partition — no vector, let alone pair of
    * vectors, ever crosses the wire.
    *
    * Engine-exactness is the k-means codebook discipline: components are
    * [[QScale]]-quantized to integers once, every product `q_i·q_j` and
    * its corpus sum is BIGINT (associative, partial-order-free), and `m2`
    * is one IEEE division of exact integers. Overflow headroom: |q| ≲ 2²³
    * for |v| ≤ 8, so products are < 2⁴⁶ and a corpus of 2¹⁷ vectors stays
    * inside 2⁶³; beyond that, lower QScale (m2 keeps 2⁻⁴⁰ resolution it
    * doesn't need) or widen the partials to DECIMAL(38,0).
    *
    * Plan shape: the triangle expansion is a native nested higher-order
    * `transform` + `inline` (Catalyst expressions, no UDF) — a d(d+1)/2
    * CPU-side fan-out per row that collapses immediately in the partial
    * hash aggregate, so the exchange carries ≤ #partitions·d(d+1)/2 rows
    * regardless of corpus size.
    */
  def gramMatrix(spark: SparkSession, dir: String): DataFrame =
    quantized(emb(spark, dir))
      .select(inline(expr(
        s"""flatten(transform(sequence(1, $KmDim), i ->
           |  transform(sequence(i, $KmDim), j ->
           |    struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           |           element_at(qv, i) * element_at(qv, j) AS p))))""".stripMargin)))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("p")).as("s"))
      .withColumn("m2", col("s").cast("double") /
        (col("n_vectors") * lit(QScale * QScale)).cast("double"))

  val gramMatrixSql: String = {
    val qvList =
      s"[CAST(floor(v[i] * $QScale + 0.5) AS BIGINT) for i in generate_series(1, $KmDim)]"
    s"""WITH $embCte,
       |eq AS (SELECT $qvList AS qv FROM e),
       |x AS (SELECT CAST(d1.i AS BIGINT) AS i, CAST(d2.j AS BIGINT) AS j,
       |             qv[d1.i] * qv[d2.j] AS p
       |      FROM eq CROSS JOIN generate_series(1, $KmDim) AS d1(i)
       |                CROSS JOIN generate_series(1, $KmDim) AS d2(j)
       |      WHERE d2.j >= d1.i)
       |SELECT i, j, count(*) AS n_vectors, CAST(sum(p) AS BIGINT) AS s,
       |       CAST(CAST(sum(p) AS BIGINT) AS DOUBLE) /
       |         CAST(count(*) * ${QScale * QScale} AS DOUBLE) AS m2
       |FROM x GROUP BY i, j""".stripMargin
  }

  // -------------------------------------------------------------- pq_distortion
  /** `pq_distortion` — the PQ index AUDITING ITSELF (the ANN counterpart
    * of `dedup_recall_report`): per subspace m, the corpus's total and
    * mean squared quantization error against the assigned sub-centroid —
    * the number that tells an index operator whether PqK sub-centroids
    * still fit the data (distortion creeping up across refreshes = drift;
    * one subspace far above the others = a dimension group the codebook
    * split badly). Published next to the index exactly like the recall
    * report is published next to the dedup output.
    *
    * Engine-exact: sub-distances are the SAME BIGINT integer-domain
    * kernel the encoder uses ([[pqDistances]]); the per-(vector, m)
    * assigned distance comes from the packed `(d·2K + cj)` argmin (one
    * hash aggregation, the [[pqCodes]] trick) and unpacks by one integer
    * division; `mse` normalizes by `n·QScale²·PqSub` — QScale is a power
    * of two, so the denominator's odd part stays tiny and the ONE
    * IEEE division is identical on both engines.
    *
    * Scale shape: one pass over the memoized quantized embeddings ×
    * broadcast codebook (the encode stage the index build already runs),
    * collapsing partial-final to PqM·corpus → PqM rows. Nothing new
    * crosses the network but 8 partial sums per partition.
    */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame =
    pqDistances(quantized(emb(spark, dir)), pqCodebook(spark, dir))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("d") * lit(2L * PqK) + col("cj")).as("packed"))
      .select(col("m").cast("long").as("m"),
        expr(s"packed div ${2L * PqK}").as("d"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("d")).as("total_sqerr"))
      .withColumn("mse", col("total_sqerr").cast("double") /
        (col("n_vectors") * lit(QScale * QScale * PqSub.toLong)).cast("double"))

  val pqDistortionSql: String =
    s"""WITH $pqSqlCtes,
       |asg AS (SELECT e.vec_id, e.m, e.d
       |        FROM ed e JOIN codes c
       |          ON c.vec_id = e.vec_id AND c.m = e.m AND c.cj = e.cj)
       |SELECT CAST(m AS BIGINT) AS m, count(*) AS n_vectors,
       |       CAST(sum(d) AS BIGINT) AS total_sqerr,
       |       CAST(CAST(sum(d) AS BIGINT) AS DOUBLE) /
       |         CAST(count(*) * ${QScale * QScale * PqSub.toLong} AS DOUBLE) AS mse
       |FROM asg GROUP BY m""".stripMargin

  // ---------------------------------------------------------------- ivf_balance
  /** `ivf_balance` — the IVF index's LIST-BALANCE audit, side by side
    * for all three coarse quantizers: per inverted list, its size and
    * corpus share, for the hash-SAMPLED codebook (`ann_ivf`), the
    * Lloyd-REFINED one (`ann_ivf_kmeans`), and the capacity-law SCALED
    * one (`ann_ivf_scaled`, C = ⌊√(Nprobe·n)⌋ — mean list size
    * √(n/Nprobe), the balance the decade cost law assumes, so a skewed
    * scaled codebook would surface exactly here). List balance is what IVF's
    * whole cost model rests on — probe cost ∝ the probed lists' sizes, a
    * mega-list turns Nprobe into a corpus scan and an empty list is a
    * wasted centroid — and the sampled-vs-refined comparison in one
    * result is exactly the evidence that the Lloyd iterations earn their
    * build cost (the claim ann_ivf_kmeans' scaladoc makes, here measured
    * by the engine itself on the actual corpus). Completes the
    * index-self-audit family: `dedup_recall_report` (LSH recall),
    * `pq_distortion` (PQ quantization error), this (IVF list balance).
    *
    * Exact: sizes are counts over the memoized assignment tables (the
    * same deterministic argmax both search paths use); `share` is one
    * IEEE division of exact BIGINTs.
    *
    * Scale shape: all three assignment halves are the MEMOIZED
    * index-build artifacts (zero new corpus passes when the ANN family
    * has run); the report is three O(C)-row aggregations + a union.
    */
  def ivfBalance(spark: SparkSession, dir: String): DataFrame = {
    def sizes(tag: String, cents: DataFrame, memo: Memo.Table,
        diskLabel: String, c: Int = IvfC): DataFrame =
      ivfAssigned(spark, dir, cents, memo, diskLabel, c)
        .groupBy(col("cidx")).agg(count(lit(1)).as("n_vectors"))
        .select(lit(tag).as("codebook"), col("cidx").cast("long").as("cidx"),
          col("n_vectors"))
    val all = sizes("sampled", codebook(spark, dir), ivfListsMemo, "ivf_lists_sampled")
      .unionAll(sizes("lloyd", kmeansCodebook(spark, dir), kmListsMemo, "ivf_lists_kmeans"))
      .unionAll(sizes("scaled", scaledCodebookOf(spark, dir), scaledListsMemo,
        "ivf_lists_scaled", scaledCOf(spark, dir)))
      .unionAll(sizes("lloyd_scaled", kmeansScaledCodebookOf(spark, dir),
        kmScaledListsMemo, "ivf_lists_kmeans_scaled", scaledCOf(spark, dir)))
    val totals = Window.partitionBy(col("codebook"))
    all.withColumn("share",
      col("n_vectors").cast("double") /
        sum(col("n_vectors")).over(totals).cast("double"))
  }

  val ivfBalanceSql: String = {
    val ch = Oracle.hash60("CAST(vec_id AS VARCHAR)")
    def sizesSql(tag: String, cent: String) =
      s"""SELECT '$tag' AS codebook, CAST(c.cidx AS BIGINT) AS cidx,
         |       count(*) AS n_vectors
         |FROM (SELECT e.vec_id, c.cidx,
         |             row_number() OVER (PARTITION BY e.vec_id
         |               ORDER BY round(list_dot_product(e.v, c.cv) / (e.nrm * c.cn), 6) DESC,
         |                        c.cidx) AS cr
         |      FROM e CROSS JOIN $cent c) c
         |WHERE c.cr = 1 GROUP BY 1, 2""".stripMargin
    s"""WITH $kmCentSqlCtes,
       |cent AS (SELECT v AS cv, nrm AS cn,
       |                row_number() OVER (ORDER BY $ch, vec_id) AS cidx
       |         FROM e QUALIFY cidx <= $IvfC),
       |${scaledCentSqlCtesAs("scent")},
       |${kmCentSqlChain("k2", capped = true, emitEq = false)},
       |b AS (${sizesSql("sampled", "cent")}
       |      UNION ALL
       |      ${sizesSql("lloyd", s"cent$KmIters")}
       |      UNION ALL
       |      ${sizesSql("scaled", "scent")}
       |      UNION ALL
       |      ${sizesSql("lloyd_scaled", s"k2cent$KmIters")})
       |SELECT codebook, cidx, n_vectors,
       |       CAST(n_vectors AS DOUBLE) /
       |         CAST(sum(n_vectors) OVER (PARTITION BY codebook) AS DOUBLE) AS share
       |FROM b""".stripMargin
  }

  // -------------------------------------------------------- ann_recall_report
  /** `ann_recall_report` — the ANN indexes auditing their own retrieval
    * quality (the [[DedupQueries.dedupRecallReport]] pattern applied to
    * similarity search): one row per approximate index with its measured
    * recall@10 against the exact [[annTopk]] baseline, computed entirely
    * as a Spark plan (semi-join on (query_id, neighbor_id) → per-query
    * hit fraction → mean). This is the production observability loop: an
    * index whose recall craters after a corpus shift shows it HERE, in
    * the same engine run, without an offline evaluation harness — the
    * driver sees the number every round (rows-only check, like
    * `approx_*`: recall is a quality metric, not SQL-expressible
    * semantics; the hard floors live in SimilarityPropertySpec and the
    * recall-vs-cost curve in RECALL.md).
    *
    * Cost: probes every index once, but every index-BUILD artifact
    * (codebooks, lists, codes) is the same memoized table the declared
    * `ann_*` queries use, so in a shared session this adds probe cost
    * only. The exact baseline rides [[annTopkCached]] (disk-cached and
    * session-persisted): it feeds the truth table plus ONE tagged join
    * against the union of all ten index outputs (round-17 single-pass
    * form — see the pipeline comment in the body), and unpersisted the
    * O(corpus × queries) brute-force plan would re-execute inside the
    * report — the dominant cost of the whole audit; uncached on disk,
    * every cold JVM would pay the brute-force build once more. A query
    * with no candidates in some index counts as recall 0 for that index
    * (left join + coalesce), not a dropped row.
    */
  /** Besides recall, the report carries each index's SCANNED FRACTION —
    * exact-scored candidate pairs / (n_queries · (corpus − 1)) — so the
    * recall-per-scan trade the RECALL.md sweeps show offline is visible
    * in the same in-engine audit (an index is only "better" at equal
    * scan cost; recall alone rewards scanning more). Candidate counts
    * are exact but never re-execute a search: the LSH count aggregates
    * the deduped candidate-pair stage, and the IVF counts use the
    * identity |probes ⋈ lists| = Σ_(q, probed list) list_size − nq (each
    * query's rank-1 probe IS its own assigned list — identical ordering
    * — so self-pairs contribute exactly nq), i.e. one join of the probe
    * lists against the 64-row list-size table instead of re-running the
    * corpus-sized candidate join per index. The IVF probed lists are
    * ALSO what the IVFADC ADC pass scans (the composition prunes
    * identically, it only scores compressed; the re-rank adds R
    * raw-vector fetches per query on top, not a wider scan), and the PQ
    * linear scan is 1.0 by construction. The one-row count tables
    * combine on a constant key with broadcast hash joins — no BNLJ,
    * nothing corpus-sized crosses the driver.
    */
  def annRecallReport(spark: SparkSession, dir: String): DataFrame =
    planMemo(spark, dir, "ann_recall_report")(
      annRecallReportOf(spark, dir, RecallAuditSampleTarget))

  /** Control-audit query budget: once the query set exceeds 2× this, the
    * FIXED-CAPACITY and exact-linear controls (ann_lsh, ann_ivf,
    * ann_ivf_kmeans, ann_pq, ann_ivfpq, ann_ivfpq_rerank) are audited on
    * a deterministic hash-decimated query subset of ~this size instead of
    * every query. Rationale (round-15 verdict #2 of "what's wrong"): a
    * control's per-query cost is Θ(n) by design, so auditing all n/101
    * queries makes the AUDIT itself Θ(n²) — at sf10 the report was 99 s,
    * the most expensive query in the inventory, growing ×15–20/decade.
    * Recall is a mean over per-query recalls, so a uniform query sample
    * estimates it unbiasedly with se ≈ σ/√256 ≲ 0.02; the controls'
    * exact full-set numbers live in the dedicated BENCH_capacity
    * artifacts. The SCALE-PATH members (the four *_scaled) always audit
    * every query — they are the indexes a deployment actually ships, and
    * their cost is the capacity law's √n. At the oracle-checked test SFs
    * (nq ≤ 2·target) the report is bit-identical to the pre-sampling one.
    */
  val RecallAuditSampleTarget = 256

  private[graft] def annRecallReportOf(spark: SparkSession, dir: String,
      sampleTarget: Int): DataFrame = {
    val exactAll = annTopkCached(spark, dir).select(col("query_id"), col("neighbor_id"))
    val truthAll = exactAll.groupBy("query_id").agg(count(lit(1)).as("t"))
    // control-query decimation: keep queries with xxhash64(query_id) ≡ 0
    // (mod m) — deterministic, engine-independent, and PUSHED DOWN into
    // each control search's own query-side scan (every stage of the
    // searches is query_id-keyed, so Catalyst drives the predicate below
    // the top-k aggregate and the candidate joins: the control only
    // GENERATES candidates for sampled queries, it doesn't discard work)
    val nqEst = estimatedRows(spark, dir) / QueryMod + 1
    val m = math.max(1L, nqEst / sampleTarget)
    val sampled = m >= 2
    val samplePred = pmod(xxhash64(col("query_id")), lit(m)) === 0
    /** Audit regime: which queries a member is measured on. (The exact
      * pair set needs no per-regime filter: the audit joins the full
      * exact table against the regime-DECIMATED index outputs, so a
      * sampled-out query simply contributes no pairs.)
      */
    case class Regime(truth: DataFrame,
        dec: DataFrame => DataFrame, memoTag: String)
    val full = Regime(truthAll, identity, "")
    val ctl =
      if (!sampled) full
      else Regime(truthAll.filter(samplePred),
        df => df.filter(samplePred), s"#m=$m")
    // Scan counts and scan fractions are PLANNING METADATA (round-17,
    // extending the round-16 kmNcand pattern to every member): each is a
    // deterministic 1-row aggregate over memoized index artifacts, pulled
    // ONCE per (session, dir, regime) via Memo.memoizeValue and embedded
    // in the report as a literal. The round-16 form kept them as live
    // sub-plans — three probes×list-sizes joins, the LSH candidate count,
    // two query-count aggregates, a corpus count, and TEN broadcast
    // attach joins — all re-executed (and AQE-replanned) inside every
    // report run to reproduce constants that cannot change within a
    // session. Warm report runs now carry zero scan-frac stages.
    def ivfScanCount(r: Regime, cents: DataFrame, listsMemo: Memo.Table,
        diskLabel: String, c: Int = IvfC): Long = {
      val sizes = ivfAssigned(spark, dir, cents, listsMemo, diskLabel, c)
        .groupBy(col("cidx")).agg(count(lit(1)).as("sz"))
      val raw = r.dec(ivfProbes(spark, dir, cents)).select(col("cidx"))
        .join(broadcast(sizes), Seq("cidx"))
        .agg(sum(col("sz")).as("raw"))
        .select(col("raw")).head()
      // sum over an empty join is NULL (a decimated query set whose probes
      // match no list) — treat as 0 scanned rather than NPE (advice fix;
      // the round-16 in-plan form propagated the NULL into scan_frac)
      (if (raw.isNullAt(0)) 0L else raw.getLong(0)) - nQueriesVal(r)
    }
    def nQueriesVal(r: Regime): Long =
      Memo.memoizeValue(nQueriesMemo, spark, dir + r.memoTag)(
        r.truth.agg(count(lit(1)).as("nq")).head().getLong(0))
    // corpus size: the embeddings table's exact parquet-footer row count
    // (the same planning metadata the broadcast chunking uses)
    val nCorpusVal: Long = estimatedRows(spark, dir)
    // Spark round(x, 4) semantics exactly (HALF_UP over the shortest
    // decimal representation) so the literal is bit-identical to what
    // the round-16 in-plan expression produced
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def fracOf(r: Regime, ncand: Long): Double =
      round4(ncand.toDouble / (nQueriesVal(r) * (nCorpusVal - 1)).toDouble)
    // LSH scan count: in sampled mode build candidates for the DECIMATED
    // query set directly (the memoized full candidate table is exactly
    // the Θ(n²/101) mass sampling avoids — don't materialize it to count)
    val lshNcand: Long = Memo.memoizeValue(lshScanCountMemo, spark, dir + ctl.memoTag) {
      (if (sampled)
        lshCandidatesBuild(spark, dir, LshRadius, LshTables)
          .select(col("query_id"), col("neighbor_id")).filter(samplePred)
          .dropDuplicates("query_id", "neighbor_id")
      else lshCandidates(spark, dir, LshRadius, LshTables))
        .agg(count(lit(1)).as("ncand")).select(col("ncand")).head().getLong(0)
    }
    // Three indexes (ivf_kmeans, ivfpq, ivfpq_rerank) share the SAME
    // kmeans probe lists, so their scan count is one number; ditto the
    // scaled-Lloyd trio. The regime tag keys each memo so a sweep mixing
    // sample targets in one session never crosses values.
    val kmNcand: Long = Memo.memoizeValue(kmScanCountMemo, spark, dir + ctl.memoTag)(
      ivfScanCount(ctl, kmeansCodebook(spark, dir), kmListsMemo, "ivf_lists_kmeans"))
    val kmScaledNcand: Long = Memo.memoizeValue(kmScaledScanCountMemo, spark, dir)(
      ivfScanCount(full, kmeansScaledCodebookOf(spark, dir), kmScaledListsMemo,
        "ivf_lists_kmeans_scaled", scaledCOf(spark, dir)))
    val ivfNcand: Long = Memo.memoizeValue(ivfScanCountMemo, spark, dir + ctl.memoTag)(
      ivfScanCount(ctl, codebook(spark, dir), ivfListsMemo, "ivf_lists_sampled"))
    val ivfScaledNcand: Long = Memo.memoizeValue(ivfScaledScanCountMemo, spark, dir)(
      ivfScanCount(full, scaledCodebookOf(spark, dir), scaledListsMemo,
        "ivf_lists_scaled", scaledCOf(spark, dir)))
    val indexes: Seq[(String, DataFrame, Double, Regime)] = Seq(
      ("ann_lsh", annLsh(spark, dir), fracOf(ctl, lshNcand), ctl),
      ("ann_ivf", annIvf(spark, dir), fracOf(ctl, ivfNcand), ctl),
      ("ann_ivf_scaled", annIvfScaled(spark, dir), fracOf(full, ivfScaledNcand), full),
      ("ann_ivf_kmeans", annIvfKmeans(spark, dir), fracOf(ctl, kmNcand), ctl),
      ("ann_ivf_kmeans_scaled", annIvfKmeansScaled(spark, dir),
        fracOf(full, kmScaledNcand), full),
      ("ann_pq", annPq(spark, dir), 1.0, ctl), // linear compressed scan
      ("ann_ivfpq", annIvfPq(spark, dir), fracOf(ctl, kmNcand), ctl),
      ("ann_ivfpq_scaled", annIvfPqScaled(spark, dir),
        fracOf(full, kmScaledNcand), full),
      ("ann_ivfpq_rerank", annIvfPqRerank(spark, dir), fracOf(ctl, kmNcand), ctl),
      ("ann_ivfpq_rerank_scaled", annIvfPqRerankScaled(spark, dir),
        fracOf(full, kmScaledNcand), full))
    // ONE audit pipeline over a TAGGED UNION of the ten index outputs
    // (round-17 optimization, guide §2.4/§7.2): the round-16 form built
    // ten separate per-index audit branches — ten semi-joins, ten
    // per-query aggregations, ten truth left-joins, ten final aggregates,
    // ten broadcast attaches — ~50 scaffolding operators whose AQE stage
    // round-trips and per-branch generated classes dominated the report's
    // wall time (warm, single-query JVM, sf0.1: 238 janino compiles =
    // 4.5 s of a 4.7 s wall; executor CPU seconds). Each index's top-k
    // rows are (query_id, neighbor_id)-unique (the bounded-heap ranked()
    // output), so the per-index LEFT SEMI against the exact truth is
    // exactly an INNER join on the union: tag every index's (decimated)
    // output with its name, join the exact pairs ONCE, aggregate hits by
    // (index, query_id) ONCE, left-join the (index-tagged) truth ONCE.
    // Row values are unchanged (SimilarityPropertySpec pins them against
    // a driver-side recomputation at 5e-5); the scaffolding collapses
    // from ~50 operators to 4.
    //
    // Two earlier dead ends, measured in round 17 and kept on record:
    // splitting the ten audits into concurrent collect() actions lost 3×
    // (no ReusedExchange across actions — the shared searches recompute
    // per action: sf10 warm 99.8 s vs 31.4 s for the one-plan union);
    // disabling AQE for the report OOMed a 48 GB driver at sf10, because
    // AQE is also what right-sizes the scaled searches' runtime
    // broadcasts and coalesces their shuffles.
    val tagged = indexes.map { case (nm, df, _, r) =>
      r.dec(df).select(lit(nm).as("index"), col("query_id"), col("neighbor_id"))
    }.reduce(_.unionByName(_))
    val truthTagged = indexes.map { case (nm, _, _, r) =>
      r.truth.select(lit(nm).as("index"), col("query_id"), col("t"))
    }.reduce(_.unionByName(_))
    // scan_frac attaches as a literal CASE over the 10 result rows — the
    // values are the memoized planning constants above
    val fracCol = indexes.tail.foldLeft(
      when(col("index") === indexes.head._1, lit(indexes.head._3))) {
      case (acc, (nm, _, f, _)) => acc.when(col("index") === nm, lit(f))
    }
    val hits = exactAll
      .join(tagged, Seq("query_id", "neighbor_id"))
      .groupBy(col("index"), col("query_id")).agg(count(lit(1)).as("h"))
    truthTagged.join(hits, Seq("index", "query_id"), "left")
      .select(col("index"), col("t"),
        (coalesce(col("h"), lit(0L)).cast("double") / col("t")).as("r"))
      .groupBy(col("index"))
      .agg(count(lit(1)).as("n_queries"), round(avg(col("r")), 4).as("recall_at_10"))
      .select(col("index"), col("n_queries"), col("recall_at_10"),
        fracCol.as("scan_frac"))
  }

  val entries: Seq[(String, QueryDef)] = Seq(
    "similar_pairs" -> QueryDef(similarPairs, Some(similarPairsSql)),
    "dedup_embed" -> QueryDef(dedupEmbed, Some(dedupEmbedSql)),
    "dedup_embed_lsh" -> QueryDef(dedupEmbedLsh, Some(dedupEmbedLshSql)),
    "ann_topk" -> QueryDef((s, d) => annTopkCached(s, d), Some(annTopkSql)),
    "ann_lsh" -> QueryDef(annLsh, Some(annLshSql)),
    "ann_ivf" -> QueryDef(annIvf, Some(annIvfSql)),
    "ann_ivf_scaled" -> QueryDef(annIvfScaled, Some(annIvfScaledSql)),
    "ann_ivf_kmeans" -> QueryDef(annIvfKmeans, Some(annIvfKmeansSql)),
    "ann_ivf_kmeans_scaled" ->
      QueryDef(annIvfKmeansScaled, Some(annIvfKmeansScaledSql)),
    "ann_pq" -> QueryDef((s, d) => annPq(s, d), Some(annPqSql)),
    "ann_ivfpq" -> QueryDef(annIvfPq, Some(annIvfPqSql)),
    "ann_ivfpq_scaled" -> QueryDef(annIvfPqScaled, Some(annIvfPqScaledSql)),
    "ann_ivfpq_rerank" -> QueryDef(annIvfPqRerank, Some(annIvfPqRerankSql)),
    "ann_ivfpq_rerank_scaled" ->
      QueryDef(annIvfPqRerankScaled, Some(annIvfPqRerankScaledSql)),
    "dedup_cluster_embed" -> QueryDef(dedupClusterEmbed, Some(dedupClusterEmbedSql)),
    "label_centroids" -> QueryDef(labelCentroids, Some(labelCentroidsSql)),
    "hard_negatives" -> QueryDef(hardNegatives, Some(hardNegativesSql)),
    "hard_negatives_scaled" ->
      QueryDef(hardNegativesScaled, Some(hardNegativesScaledSql)),
    "gram_matrix" -> QueryDef(gramMatrix, Some(gramMatrixSql)),
    "pq_distortion" -> QueryDef(pqDistortion, Some(pqDistortionSql)),
    "ivf_balance" -> QueryDef(ivfBalance, Some(ivfBalanceSql)),
    "ann_recall_report" -> QueryDef(annRecallReport, None))
}
