package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate reuses one JVM-wide
  * session; suites must not stop() it).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  // local[4,2]: 4 threads, maxFailures=2 so fault-injection tests can
  // exercise task retry (the reference crash-test capability, SURVEY §5.4)
  // engine-required confs (UTC, nanos compat, codegen cache, hash-agg
  // fallback threshold) from GraftSession — the tests must exercise the
  // same session shape every real entry point runs with
  lazy val spark: SparkSession = GraftSession.configure(SparkSession.builder()
    .master("local[4,2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    // managed tables (the bucketing capability probe) land outside the repo
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse"))
    .getOrCreate()

  def sf(name: String): String = s"/root/testdata/$name"

  private val tempDirs = mutable.ArrayBuffer.empty[Path]

  /** A new temp directory, deleted with everything in it after the suite. */
  def tempDir(prefix: String): Path = tempDirs.synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.synchronized {
      tempDirs.foreach { d =>
        val walk = Files.walk(d)
        try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p): Unit)
        finally walk.close()
      }
      tempDirs.clear()
    }
}
