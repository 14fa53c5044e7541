package graft.cli

import java.io.BufferedOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystems, Files, LinkOption, Path, Paths}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.nio.file.StandardOpenOption.CREATE_NEW
import java.util.Comparator

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

import graft.operators.{Apps, MapReduce, MRApp}

/** CLI runner — the engine's `mrsequential`/`mrworker` equivalent
  * (reference `src/main/mrsequential.go:6`: `mrsequential wc.so pg*.txt`;
  * `src/main/mrworker.go:32-49` loads arbitrary Map/Reduce plugins at
  * runtime).
  *
  * Usage: runMain graft.cli.Main <app> <outDir> <inputGlob> [--partitions=N]
  *   app ∈ wc | indexer | perfile | kvfold — or any fully-qualified
  *   class/object name implementing [[graft.operators.MRApp]], loaded
  *   reflectively: the runtime-plugin parity with the reference's `.so`
  *   loading (a library embedder just passes the instance; this flag is
  *   for the CLI path).
  *
  * Output: text files of `"<key> <value>"` lines (UTF-8, `\n` after each)
  * under outDir — the reference's mr-out format (src/mr/worker.go:150-155),
  * one file `part-NNNNN` per reduce bucket, EVERY bucket (empty ones
  * included, as zero-byte files), then an empty `_SUCCESS`: bucket
  * i holds the keys with the reference's own FNV-1a `ihash(key) % N`
  * (src/mr/worker.go:25-29), sorted by key (the per-reduce-task order the
  * reference workers produce). One RDD shuffle per job, no global sort,
  * no query plan. `wc` is an [[graft.operators.AlgebraicApp]], so its
  * counts are combined per input file before that shuffle; the other apps
  * shuffle every map record.
  *   - Default (no --partitions): N = 1, ONE key-sorted file — exactly the
  *     sequential oracle's layout (src/main/mrsequential.go:59). Like
  *     `mrsequential`, the whole reduce then runs in one task.
  *   - `--partitions N`: N buckets reduced in parallel — the layout that
  *     scales.
  *
  * Commit: the paper's rename (Dean & Ghemawat §3.3; reference
  * `src/mr/worker.go:180-219`, temp file + `os.Rename`). outDir is a local
  * path (a plain path or a `file:` URI; any other scheme is a usage
  * error), which every executor must share, as the reference's workers
  * share their directory. The run deletes outDir, then each reduce task
  * attempt writes its bucket to its own file
  * `outDir/_temporary/part-NNNNN.<attempt id>`. Spark keeps one
  * successful attempt per bucket; the driver renames each winner to
  * `part-NNNNN`, deletes `_temporary` with every losing attempt's file,
  * and writes `_SUCCESS` last. A failed job leaves no `part-*` and no
  * `_SUCCESS`. A run whose input glob can match a path under outDir is
  * refused before anything is deleted.
  */
object Main {

  val apps: Map[String, MRApp] = Map(
    "wc" -> Apps.WordCount,
    "indexer" -> Apps.Indexer,
    "perfile" -> Apps.PerFileCount,
    "kvfold" -> Apps.KvFold)

  /** Resolve a builtin app name, else reflectively load a user class:
    * first as a Scala `object <name> extends MRApp` (MODULE$ singleton),
    * else as a class with a no-arg constructor. Mirrors the reference's
    * runtime plugin contract (`mrworker.go:32-49`) without dynamic
    * linking: the classpath is the plugin surface on a JVM.
    */
  private[graft] def resolveApp(name: String): MRApp =
    apps.getOrElse(name, {
      def asObject = scala.util.Try {
        Class.forName(name + "$").getField("MODULE$").get(null)
      }
      def asClass = scala.util.Try {
        Class.forName(name).getDeclaredConstructor().newInstance()
      }
      asObject.orElse(asClass) match {
        case scala.util.Success(app: MRApp) => app
        case scala.util.Success(other) => throw new IllegalArgumentException(
          s"$name loaded but is not an MRApp (got ${other.getClass.getName})")
        case scala.util.Failure(e) => throw new IllegalArgumentException(
          s"unknown app '$name' — not a builtin (${apps.keys.mkString(", ")}) " +
            s"and not a loadable MRApp class: $e")
      }
    })

  /** Run `app` over `glob` into `outDir` as `nReduce` bucket files,
    * replacing whatever `outDir` held, and commit them as the object doc
    * describes.
    */
  private[graft] def run(spark: SparkSession, app: MRApp, outDir: String,
      glob: String, nReduce: Int): Unit = {
    val out = outputPath(outDir, glob)
    deleteTree(out)
    val staging = Files.createDirectories(out.resolve("_temporary"))
    val dir = staging.toString
    val moved = mutable.ArrayBuffer.empty[Path]
    var committed = false
    try {
      val staged = spark.sparkContext.runJob(
        MapReduce.toOutputLines(MapReduce.run(spark, glob, app, nReduce)),
        (tc: TaskContext, lines: Iterator[String]) => stage(dir, tc, lines))
      staged.zipWithIndex.foreach { case (f, i) =>
        moved += Files.move(Paths.get(f), out.resolve(partName(i)), ATOMIC_MOVE)
      }
      committed = true
    } finally {
      // a failed cleanup never decides the outcome: after the commit, a
      // file a straggling attempt left in _temporary is garbage; after a
      // failure, the job's own exception is the one to surface
      Try(deleteTree(staging))
      if (!committed) moved.foreach(p => Try(Files.deleteIfExists(p)))
    }
    Files.write(out.resolve("_SUCCESS"), Array.emptyByteArray)
  }

  private def partName(bucket: Int): String = f"part-$bucket%05d"

  /** The task side of the commit: write this attempt's bucket, one line
    * and a `\n` at a time, to its own file under `dir`; return its path.
    */
  private def stage(dir: String, tc: TaskContext, lines: Iterator[String]): String = {
    val f = Paths.get(dir, s"${partName(tc.partitionId())}.${tc.taskAttemptId()}")
    val w = new BufferedOutputStream(Files.newOutputStream(f, CREATE_NEW))
    try lines.foreach { l => w.write(l.getBytes(UTF_8)); w.write('\n') }
    finally w.close()
    f.toString
  }

  /** Delete `p` and everything under it, if it exists; no link is followed. */
  private def deleteTree(p: Path): Unit = if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
    val walk = Files.walk(p)
    try walk.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally walk.close()
  }

  private val UriScheme = "([a-zA-Z][a-zA-Z0-9+.-]*):(.*)".r

  /** A plain path or a `file:` URI (`file:/x`, `file:///x`) as an absolute
    * local path; None for an empty string or another scheme.
    */
  private[graft] def localPath(s: String): Option[Path] = (s match {
    case UriScheme(scheme, rest) if scheme.equalsIgnoreCase("file") =>
      if (rest.startsWith("//")) Some(rest.drop(2)).filter(_.startsWith("/")) else Some(rest)
    case UriScheme(_, _) => None
    case p => Some(p)
  }).filter(_.nonEmpty).map(Paths.get(_).toAbsolutePath.normalize)

  /** `outDir` as an absolute local path. Throws IllegalArgumentException
    * for a non-local `outDir`, and for one that `glob` reaches: `out`
    * itself or a path under it can match the glob, name by name (a name
    * that is no valid pattern counts as a match; Hadoop's `[^…]` is
    * java.nio's `[!…]`), so deleting `out` could delete input before it
    * is read.
    */
  private[graft] def outputPath(outDir: String, glob: String): Path = {
    val out = localPath(outDir).getOrElse(
      throw new IllegalArgumentException(s"outDir '$outDir' is not a local path"))
    def reaches(g: Path): Boolean = g.getNameCount >= out.getNameCount &&
      (0 until out.getNameCount).forall { i =>
        val name = g.getName(i).toString.replace("[^", "[!")
        Try(FileSystems.getDefault.getPathMatcher(s"glob:$name").matches(out.getName(i)))
          .getOrElse(true)
      }
    if (localPath(glob).exists(reaches)) throw new IllegalArgumentException(
      s"input '$glob' can match outDir '$outDir' or files under it, which the run deletes first")
    out
  }

  /** A parsed command line: app name, output dir, input glob, bucket count. */
  private[graft] case class Args(app: String, outDir: String, glob: String, nReduce: Int)

  /** Exactly three positional arguments, a local outDir, and at most one
    * `--partitions=N` with N a positive integer (default 1); None for
    * anything else. Pure, so a bad command line is rejected before any
    * session starts.
    */
  private[graft] def parseArgs(args: Seq[String]): Option[Args] = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    val nReduce = flags match {
      case Seq() => Some(1)
      case Seq(f) if f.startsWith("--partitions=") =>
        f.stripPrefix("--partitions=").toIntOption.filter(_ > 0)
      case _ => None
    }
    (pos, nReduce) match {
      case (Seq(app, outDir, glob), Some(n)) if localPath(outDir).isDefined =>
        Some(Args(app, outDir, glob, n))
      case _ => None
    }
  }

  def main(args: Array[String]): Unit = {
    val Args(appName, outDir, glob, nReduce) = parseArgs(args.toSeq).getOrElse {
      System.err.println(
        s"usage: graft.cli.Main <${apps.keys.mkString("|")}|fqcn-of-MRApp> " +
          "<local outDir> <inputGlob> [--partitions=N]")
      sys.exit(2)
    }
    val app = try { outputPath(outDir, glob); resolveApp(appName) } catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    // engine-required confs from the one shared source of truth
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(s"graft-$appName")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, app, outDir, glob, nReduce)
    finally spark.stop()
  }
}
