package graft

import org.apache.spark.sql.SparkSession

/** Single source of truth for the session configuration the engine
  * REQUIRES to run correctly and to survive its measured scale-ups.
  *
  * Every graft entry point (Verify, the dev mains, the CLI, the test
  * base) builds its session through [[configure]];
  * an EMBEDDER with an existing session calls `GraftSession(spark)` once
  * before invoking anything in `SparkEntry.queries` — it applies the
  * runtime-settable subset and diagnoses any static (JVM-wide) conf that
  * was fixed to an incompatible value at first-session creation (warning
  * by default — the static conf is performance-only; `requireStatic =
  * true` opts into fail-fast).
  *
  * Why each conf (evidence in BASELINE.md / bench artifacts):
  *
  *  - `spark.sql.session.timeZone=UTC` — asof_join packs NTZ timestamps
  *    to epoch nanos; a non-UTC session shifts the packing and the join
  *    result silently changes (CORRECTNESS would catch it; an embedder
  *    has no oracle).
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — the driver-generated
  *    events files carry nanos-typed INT64 timestamps; without the flag
  *    the parquet reader rejects the physical type. `Tables` normalizes
  *    the resulting BIGINT column afterwards.
  *
  *  - `spark.sql.objectHashAggregate.sortBased.fallbackThreshold=2^22` —
  *    ObjectHashAggregate (the plan form of every TypedImperativeAggregate:
  *    the bounded top-k heaps, collect_list, sketches) abandons hash
  *    aggregation after this many distinct keys per task and SORTS THE
  *    AGGREGATE'S INPUT STREAM instead. The 128-key default is sized for
  *    unbounded buffers; for the engine's bounded O(k) heap aggregates it
  *    is catastrophic at scale — at the sf100 decade the hard-negative
  *    miner's per-anchor top-k (2 M groups over a 1.4e10-row candidate
  *    stream) spilled ~300 GB of sorter runs and died on disk
  *    (BENCH_capacity3_sf100_r15.json evidence). Hash mode is safe by
  *    construction for the engine's plans: ObjectHashAggregateAuditSpec
  *    asserts every ObjectHashAggregate in the 141-query inventory
  *    carries either a bounded-state buffer or an allowlisted,
  *    justified-bounded collect — so raising the valve session-wide does
  *    not expose an unbounded-buffer aggregation to OOM. A task's hash
  *    map stays bounded by its partition's distinct keys × buffer size
  *    (~12 MB/task measured at sf100 where the fallback was spilling
  *    10 GB/task).
  *
  *  - `spark.sql.codegen.cache.maxEntries=1000` (STATIC, JVM-wide) — the
  *    default 100-entry generated-class cache thrashes on the biggest
  *    plans: ann_recall_report alone compiles 364 classes in one cold
  *    execution (measured 12 s of its 18 s cold wall) and re-compiled 264
  *    per warm run before the raise; 1000 entries drops warm recompiles
  *    to the AQE-variant residual. Round 17 measured the OBVIOUS next
  *    step — raising to 4096 so one full pass of all 141 queries (2081
  *    distinct classes; 1870 recompile on the second pass at 1000
  *    entries) fits without eviction — and it made the suite SLOWER, not
  *    faster: two forced-retime sf0.1 benches at 4096 recorded 62.4 s
  *    and 61.9 s warm vs 47.1 s at 1000, with broad +0.2-0.3 s
  *    regressions across heavy queries (cube_agg 0.62→0.91,
  *    corpus_export 1.3→2.9) that outweighed the janino savings
  *    (cosine_rerank −0.74 was the one big winner). Thousands of live
  *    generated classes apparently cost more in JVM-wide overhead
  *    (metaspace/GC class scanning) than the ~19 ms/class recompile they
  *    avoid. Evidence: bench pair in OPTIMIZATION_r17.md. Do not
  *    re-raise without re-measuring the full suite.
  */
object GraftSession {

  /** ObjectHashAggregate stays in hash mode up to this many distinct keys
    * per task — see the class scaladoc for why 128 (the default) died at
    * sf100 and why 2^22 is safe for the engine's audited plans.
    */
  val HashAggFallbackThreshold: Int = 1 << 22

  /** Runtime-settable SQL confs — applied by [[apply]] to an existing
    * session, and by [[configure]] at build time.
    */
  val runtimeConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      HashAggFallbackThreshold.toString)

  /** Static SQL confs — readable but NOT settable after the first session
    * of the JVM exists. [[apply]] verifies them and diagnoses mismatch
    * (a silently-default codegen cache costs seconds per big plan, and an
    * embedder would never notice — the diagnostic names the conf and the
    * fix).
    */
  val staticConfs: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** Apply every engine-required conf to a session builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    (runtimeConfs ++ staticConfs).foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** Retrofit an EXISTING session (the embedder path): sets the runtime
    * confs, verifies the static ones. Returns the same session.
    *
    * The one static conf today (codegen cache size) affects SPEED only,
    * never results — so the default is to WARN on mismatch rather than
    * reject every embedder whose first session left it unset. Pass
    * `requireStatic = true` to fail fast instead (a perf-regression-
    * intolerant deployment that wants the misconfiguration surfaced as an
    * error at startup, not as seconds-per-plan later).
    *
    * @throws IllegalStateException if `requireStatic` and a static conf is
    *   incompatible — the embedder must set it on the FIRST SparkSession
    *   of the JVM (static confs cannot change later).
    */
  def apply(spark: SparkSession, requireStatic: Boolean = false): SparkSession = {
    runtimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    staticConfs.foreach { case (k, v) =>
      staticConfError(k, v, spark.conf.getOption(k)).foreach { msg =>
        if (requireStatic) throw new IllegalStateException(msg)
        else System.err.println(s"[graft] WARNING: $msg — continuing (performance-only)")
      }
    }
    spark
  }

  /** None if the JVM-wide static conf matches; Some(diagnostic) otherwise.
    * Pure so the failure path is unit-testable (a test cannot re-create
    * the JVM's first session to force a real mismatch).
    */
  def staticConfError(k: String, expected: String, actual: Option[String]): Option[String] =
    if (actual.contains(expected)) None
    else Some(
      s"graft requires static conf $k=$expected but the JVM's first session " +
        s"fixed it to ${actual.getOrElse("<default>")}; set it on the first " +
        "SparkSession.builder() of the process (static confs cannot change later)")

  /** Convenience local-mode builder used by the engine's own tools:
    * local[cpus], shuffle.partitions=cpus (not 200 — single-JVM), UI off,
    * plus every engine-required conf.
    */
  def localBuilder(appName: String, cpus: Int): SparkSession.Builder =
    configure(SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false"))

  /** `SPARK_GRAFT_CPUS` with a tool-appropriate default. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
