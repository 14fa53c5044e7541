package graft.cli

import org.apache.hadoop.fs.Path
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
  * Output: text files of `"<key> <value>"` lines under outDir — the
  * reference's mr-out format (src/mr/worker.go:150-155), one file
  * `part-i` per reduce bucket, EVERY bucket (empty ones included): bucket
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

  /** Run `app` over `glob` into `outDir` as `nReduce` bucket files (see
    * the object doc), replacing whatever `outDir` held. Reduce task i
    * writes `part-i`, a zero-byte file when its bucket is empty.
    */
  private[graft] def run(spark: SparkSession, app: MRApp, outDir: String,
      glob: String, nReduce: Int): Unit = {
    val out = new Path(outDir)
    out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
    MapReduce.toOutputLines(MapReduce.run(spark, glob, app, nReduce)).saveAsTextFile(outDir)
  }

  /** A parsed command line: app name, output dir, input glob, bucket count. */
  private[graft] case class Args(app: String, outDir: String, glob: String, nReduce: Int)

  /** Exactly three positional arguments and at most one
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
      case (Seq(app, outDir, glob), Some(n)) => Some(Args(app, outDir, glob, n))
      case _ => None
    }
  }

  def main(args: Array[String]): Unit = {
    val Args(appName, outDir, glob, nReduce) = parseArgs(args.toSeq).getOrElse {
      System.err.println(
        s"usage: graft.cli.Main <${apps.keys.mkString("|")}|fqcn-of-MRApp> " +
          "<outDir> <inputGlob> [--partitions=N]")
      sys.exit(2)
    }
    val app = try resolveApp(appName) catch {
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
