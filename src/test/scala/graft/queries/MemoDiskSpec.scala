package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Staleness semantics of the disk-backed artifact cache
  * (`Memo.memoizeDisk`) — correctness-critical infrastructure: a stale
  * hit would silently serve a wrong index (wrong pair graph, wrong
  * codebook) to every downstream query, so each component of the content
  * key is pinned here: a second process (simulated by a fresh session,
  * whose view of the in-memory store is empty) must HIT, and any
  * input-file or config change must MISS and rebuild.
  */
class MemoDiskSpec extends SparkTestBase {

  /** Unique per-test input dir with one small parquet file. */
  private def inputDir(tag: String): String = {
    val d = tempDir(s"graft-memodisk-$tag").toFile
    spark.range(10).select(col("id"), (col("id") * 3).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"${d.getAbsolutePath}/t")
    d.getAbsolutePath
  }

  /** One artifact build over `dir`, counting executions of the build
    * thunk. The label is unique per test run so entries never collide
    * with production artifacts sharing the cache root.
    */
  private final class Builder(label: String, dir: String) {
    var builds = 0
    def run(configKey: String = "k=1",
        session: SparkSession = spark.newSession()): DataFrame =
      Memo.memoizeDisk(session, dir, label, configKey) {
        builds += 1
        spark.read.parquet(s"$dir/t").groupBy((col("id") % 2).as("parity"))
          .agg(sum(col("v")).as("sv"))
      }
  }

  private def uniq(tag: String) = s"test_${tag}_${System.nanoTime()}"

  test("second process hits the disk cache instead of rebuilding; rows identical") {
    val dir = inputDir("hit")
    val b = new Builder(uniq("hit"), dir)
    val first = b.run().orderBy("parity").collect().map(_.toSeq)
    assert(b.builds === 1)
    // fresh session = a cold JVM's view: must come back from disk
    val second = b.run().orderBy("parity").collect().map(_.toSeq)
    assert(b.builds === 1, "cold-process read must not re-run the build")
    assert(second.toSeq === first.toSeq)
  }

  test("changing an input file invalidates the footprint key and rebuilds") {
    val dir = inputDir("stale")
    val b = new Builder(uniq("stale"), dir)
    b.run().count()
    assert(b.builds === 1)
    // regenerate the input (driver testdata refresh): same path, new bytes
    spark.range(10).select(col("id"), (col("id") * 5).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
    val after = b.run().agg(sum("sv")).collect()(0).getLong(0)
    assert(b.builds === 2, "a changed input footprint must force a rebuild")
    assert(after === (0L until 10L).map(_ * 5).sum)
  }

  test("changing a config constant invalidates only that key; old entry still hits") {
    val dir = inputDir("config")
    val b = new Builder(uniq("config"), dir)
    b.run(configKey = "k=1").count()
    b.run(configKey = "k=2").count()
    assert(b.builds === 2, "a retuned constant must build a new artifact")
    // the original operating point is still cached
    b.run(configKey = "k=1").count()
    assert(b.builds === 2)
  }

  test("one label under two config keys in one session holds two entries") {
    val dir = inputDir("twokeys")
    val label = uniq("twokeys")
    val session = spark.newSession()
    var builds = 0
    def run(m: Int): Long =
      Memo.memoizeDisk(session, dir, label, s"m=$m") {
        builds += 1
        spark.read.parquet(s"$dir/t").select((col("v") * m).as("v"))
      }.agg(sum("v")).collect()(0).getLong(0)
    val base = (0L until 10L).map(_ * 3).sum
    assert(run(1) === base)
    assert(run(2) === 2 * base, "a second config key must not read the first key's rows")
    assert(builds === 2)
    // both entries stay live in the session's store
    assert(run(1) === base)
    assert(run(2) === 2 * base)
    assert(builds === 2)
  }

  test("pruneStale: the first call walks the root; only lapsed, unheld entries go") {
    val root = tempDir("graft-prune").toFile
    val eightDaysAgo = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    def entry(name: String, mtime: Long): java.io.File = {
      val e = new java.io.File(root, name)
      e.mkdirs()
      val marker = new java.io.File(e, "_SUCCESS")
      marker.createNewFile()
      marker.setLastModified(mtime)
      e
    }
    val stale = entry("stale-0", eightDaysAgo)
    val fresh = entry("fresh-1", System.currentTimeMillis())
    val held = entry("held-2", eightDaysAgo)
    Memo.inUse.add(held.getPath)
    try {
      Memo.pruneStale(root) // a fresh root: the first call of this process
      assert(!stale.exists(), "a lapsed entry survived the first prune of the process")
      assert(fresh.exists())
      assert(held.exists(), "an entry a live plan holds must never be pruned")
    } finally Memo.inUse.remove(held.getPath)
  }

  test("README documents the invalidation contract an operator relies on") {
    // lint-style pointer: the staleness semantics this spec pins are only
    // usable if an operator can FIND them — the README paragraph must
    // exist and name the moving parts (env var, epoch, config key,
    // footprint), or a doc refactor silently orphans the contract
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    Seq("Disk-cache invalidation contract", "SPARK_GRAFT_INDEX_CACHE",
      "CacheEpoch", "configKey", "footprint").foreach { kw =>
      assert(readme.contains(kw),
        s"README.md lost the disk-cache contract keyword '$kw' — " +
          "keep the operator paragraph in sync with Memo.memoizeDisk")
    }
  }
}
