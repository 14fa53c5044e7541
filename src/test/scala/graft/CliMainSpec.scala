package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.metrics.source.CodegenMetrics

import graft.functions.Fnv1a32
import graft.operators.{Apps, KV, MapReduce, MRApp}

/** A user app that is NOT in cli.Main's builtin map — the reflective
  * plugin path's test subject (reference parity: `mrworker.go:32-49`
  * loads arbitrary Map/Reduce plugins at runtime).
  */
object TestReflectiveApp extends MRApp {
  def map(file: String, contents: String): IterableOnce[KV] =
    contents.split("\\s+").iterator.filter(_.nonEmpty)
      .map(w => KV(w.toUpperCase, "1"))
  def reduce(key: String, values: Seq[String]): String = values.size.toString
}

/** Counts the reduce attempts [[CliMainSpec]]'s fault injection failed
  * (tasks share the JVM in local mode).
  */
object CliMainSpec {
  val injected = new AtomicInteger(0)
}

/** CLI generality (round-15 "what's missing"): runtime app loading by
  * class name and a partitioned-output mode that never collapses to one
  * partition; and the CLI's commit: staged task files renamed into place
  * by the driver, `_SUCCESS` last, nothing visible from a failed job.
  */
class CliMainSpec extends SparkTestBase {
  import CliMainSpec.injected

  /** The names in `dir`, sorted; empty when `dir` does not exist. */
  private def listing(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
    }

  private def parts(n: Int): Seq[String] = (0 until n).map(i => f"part-$i%05d")

  /** 26 keys, so each of a few buckets gets some. */
  private lazy val alphabet: String = {
    val d = tempDir("cli-in-alphabet")
    Files.writeString(d.resolve("a.txt"), ('a' to 'z').map(c => s"$c$c").mkString(" "))
    Files.writeString(d.resolve("b.txt"), ('a' to 'm').map(c => s"$c$c").mkString(" "))
    s"$d/*.txt"
  }

  test("resolveApp loads an MRApp object by fully-qualified name (not in the builtin map)") {
    assert(!cli.Main.apps.contains("graft.TestReflectiveApp"))
    val app = cli.Main.resolveApp("graft.TestReflectiveApp")
    assert(app eq TestReflectiveApp)
    // and the loaded app actually runs end-to-end
    val dir = tempDir("cli-app")
    Files.writeString(dir.resolve("a.txt"), "red red blue")
    val out = MapReduce.run(spark, s"$dir/*.txt", app).collect()
      .map(kv => kv.key -> kv.value).toMap
    assert(out === Map("RED" -> "2", "BLUE" -> "1"))
  }

  test("resolveApp still returns builtins, and rejects a non-MRApp class with a clear error") {
    assert(cli.Main.resolveApp("wc") eq graft.operators.Apps.WordCount)
    val e = intercept[IllegalArgumentException] {
      cli.Main.resolveApp("java.lang.String")
    }
    assert(e.getMessage.contains("not an MRApp"))
    val e2 = intercept[IllegalArgumentException] {
      cli.Main.resolveApp("no.such.Klass")
    }
    assert(e2.getMessage.contains("unknown app"))
  }

  test("parseArgs accepts one positive --partitions=N and rejects every other flag before a session starts") {
    val pos = Seq("wc", "out", "in/*.txt")
    assert(cli.Main.parseArgs(pos) === Some(cli.Main.Args("wc", "out", "in/*.txt", 1)))
    assert(cli.Main.parseArgs(pos :+ "--partitions=8").map(_.nReduce) === Some(8))
    assert(cli.Main.parseArgs("--partitions=8" +: pos).map(_.nReduce) === Some(8))
    Seq("0", "-3", "abc", "", "99999999999").foreach { v =>
      assert(cli.Main.parseArgs(pos :+ s"--partitions=$v") === None, s"--partitions=$v")
    }
    assert(cli.Main.parseArgs(pos ++ Seq("--partitions=2", "--partitions=2")) === None)
    assert(cli.Main.parseArgs(pos :+ "--verbose") === None)
    assert(cli.Main.parseArgs(pos.take(2)) === None)
    assert(cli.Main.parseArgs(pos :+ "extra") === None)
  }

  test("partitioned output: FNV bucket per file, keys sorted within bucket, content equals the sequential layout") {
    import spark.implicits._
    val inDir = tempDir("cli-in")
    Files.writeString(inDir.resolve("a.txt"), "cat dog cat bird emu fox gnu hen")
    Files.writeString(inDir.resolve("b.txt"), "dog dog bird ant cat fox ant yak")
    val result = MapReduce.run(spark, s"$inDir/*.txt", graft.operators.Apps.WordCount)
    val outDir = tempDir("cli-out").toString + "/parts"
    val n = 4
    cli.Main.run(spark, Apps.WordCount, outDir, s"$inDir/*.txt", n)
    val files = new java.io.File(outDir).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    assert(files.length === n, s"expected one output file per reduce bucket")
    val perFile = files.map(f =>
      scala.io.Source.fromFile(f).getLines().toVector)
    // within-bucket key order (the reference worker's per-reduce-task sort)
    perFile.foreach { lines =>
      val keys = lines.map(_.split(" ")(0))
      assert(keys === keys.sorted, s"bucket not key-sorted: $lines")
    }
    // bucket assignment is the reference's own ihash(key) % n
    perFile.zipWithIndex.foreach { case (lines, i) =>
      lines.map(_.split(" ")(0)).foreach { k =>
        assert(Fnv1a32.hash(k.getBytes("UTF-8")) % n === i,
          s"key $k landed in bucket $i, not its FNV bucket")
      }
    }
    // union of buckets == the sequential (global) layout's content
    val expected = result.collect().map(kv => s"${kv.key} ${kv.value}").sorted
    assert(perFile.flatten.sorted.toSeq === expected.toSeq)
  }

  test("partitioned output: empty buckets still produce a (zero-byte) file, like the reference's mr-out-X") {
    val inDir = tempDir("cli-in-empty")
    Files.writeString(inDir.resolve("one.txt"), "solo solo solo")
    val outDir = tempDir("cli-out-empty").toString + "/parts"
    val n = 4 // one key -> exactly one non-empty bucket, three empty
    cli.Main.run(spark, Apps.WordCount, outDir, s"$inDir/*.txt", n)
    val files = new java.io.File(outDir).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    assert(files.length === n, s"expected $n files (empty buckets included), got ${files.map(_.getName).toSeq}")
    val soloBucket = Fnv1a32.hash("solo".getBytes("UTF-8")) % n
    files.zipWithIndex.foreach { case (f, i) =>
      val lines = scala.io.Source.fromFile(f).getLines().toVector
      if (i == soloBucket) assert(lines === Vector("solo 3"))
      else assert(lines.isEmpty, s"bucket $i should be empty, got $lines")
    }
  }

  test("run compiles no generated code: the CLI job adds 0 codegen compiles") {
    val session = spark
    val inDir = tempDir("cli-in-codegen")
    Files.writeString(inDir.resolve("a.txt"), "cat dog cat bird")
    val outDir = tempDir("cli-out-codegen").toString + "/parts"
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    cli.Main.run(session, Apps.WordCount, outDir, s"$inDir/*.txt", 2)
    cli.Main.run(session, Apps.Indexer, outDir, s"$inDir/*.txt", 2)
    assert(compiles.getCount === before)
  }

  test("default layout: one part file, key-sorted lines equal to the sequential fold") {
    val inDir = tempDir("cli-in-default")
    Files.writeString(inDir.resolve("a.txt"), "cat dog cat bird emu fox gnu hen")
    Files.writeString(inDir.resolve("b.txt"), "dog dog bird ant cat fox ant yak")
    val outDir = tempDir("cli-out-default").toString + "/one"
    cli.Main.run(spark, Apps.WordCount, outDir, s"$inDir/*.txt", 1)
    val files = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length === 1, files.map(_.getName).toSeq)
    val lines = scala.io.Source.fromFile(files.head).getLines().toVector
    val words = "cat dog cat bird emu fox gnu hen dog dog bird ant cat fox ant yak".split(" ")
    val sequential = words.groupBy(identity).toVector.sortBy(_._1)
      .map { case (w, ws) => s"$w ${ws.length}" }
    assert(lines === sequential)
  }

  test("commit: outDir lists exactly part-00000..part-(n-1) and an empty _SUCCESS, no checksum or staged file") {
    val out = tempDir("cli-out-commit").resolve("parts")
    cli.Main.run(spark, Apps.WordCount, out.toString, alphabet, 3)
    assert(listing(out) === "_SUCCESS" +: parts(3))
    assert(Files.size(out.resolve("_SUCCESS")) === 0L)
  }

  test("commit: a failed job leaves no part file, no _SUCCESS and no _temporary") {
    val failing = new MRApp {
      def map(file: String, contents: String): IterableOnce[KV] = Apps.Indexer.map(file, contents)
      def reduce(key: String, values: Seq[String]): String =
        if (key == "qq") throw new RuntimeException("injected reduce fault (every attempt)")
        else Apps.Indexer.reduce(key, values)
    }
    val out = tempDir("cli-out-fail").resolve("parts")
    intercept[SparkException](cli.Main.run(spark, failing, out.toString, alphabet, 3))
    assert(listing(out) === Seq.empty)
  }

  test("commit: reduce attempts that fail once leave the clean run's bytes and no losing attempt's file") {
    val n = 3
    val clean = tempDir("cli-out-clean").resolve("parts")
    cli.Main.run(spark, Apps.Indexer, clean.toString, alphabet, n)
    // every bucket holds keys, so every reduce task's first attempt fails
    parts(n).foreach(p => assert(Files.size(clean.resolve(p)) > 0, p))
    val flaky = new MRApp {
      def map(file: String, contents: String): IterableOnce[KV] = Apps.Indexer.map(file, contents)
      def reduce(key: String, values: Seq[String]): String = {
        if (TaskContext.get().attemptNumber() == 0) {
          injected.incrementAndGet()
          throw new RuntimeException("injected reduce fault (attempt 0)")
        }
        Apps.Indexer.reduce(key, values)
      }
    }
    injected.set(0)
    val out = tempDir("cli-out-retry").resolve("parts")
    cli.Main.run(spark, flaky, out.toString, alphabet, n)
    assert(injected.get() === n)
    assert(listing(out) === "_SUCCESS" +: parts(n))
    parts(n).foreach { p =>
      assert(Files.readAllBytes(out.resolve(p)).toSeq === Files.readAllBytes(clean.resolve(p)).toSeq, p)
    }
  }

  test("commit: a second run into the same outDir with fewer buckets leaves only its own files") {
    val out = tempDir("cli-out-rerun").resolve("parts")
    cli.Main.run(spark, Apps.WordCount, out.toString, alphabet, 4)
    assert(listing(out) === "_SUCCESS" +: parts(4))
    cli.Main.run(spark, Apps.WordCount, out.toString, alphabet, 2)
    assert(listing(out) === "_SUCCESS" +: parts(2))
  }

  test("outDir is a local path: parseArgs and run reject another scheme, file: URIs are accepted") {
    val glob = "in/*.txt"
    assert(cli.Main.parseArgs(Seq("wc", "hdfs://nn:8020/out", glob)) === None)
    assert(cli.Main.parseArgs(Seq("wc", "", glob)) === None)
    assert(cli.Main.parseArgs(Seq("wc", "file:///tmp/out", glob)).isDefined)
    assert(cli.Main.localPath("file:///tmp/out") === cli.Main.localPath("/tmp/out"))
    assert(cli.Main.localPath("file:/tmp/out") === cli.Main.localPath("/tmp/out"))
    intercept[IllegalArgumentException] {
      cli.Main.run(spark, Apps.WordCount, "hdfs://nn:8020/out", alphabet, 1)
    }
  }

  test("a run whose input glob reaches into outDir is refused before anything is deleted") {
    val dir = tempDir("cli-self")
    val in = Files.createDirectories(dir.resolve("in"))
    Files.writeString(in.resolve("a.txt"), "cat dog cat")
    intercept[IllegalArgumentException] {
      cli.Main.run(spark, Apps.WordCount, in.toString, s"$in/*.txt", 1)
    }
    assert(Files.readString(in.resolve("a.txt")) === "cat dog cat")
    // an ancestor of the input, an alternation and a negated class that
    // match outDir, and the `mrsequential` form (outDir `.` under a
    // relative glob) are refused
    Seq(dir.toString -> s"$in/*.txt", s"$dir/out" -> s"$dir/{in,out}/*.txt",
      s"$dir/out" -> s"$dir/[^i]*/*.txt", "." -> "*.txt")
      .foreach { case (out, glob) =>
        intercept[IllegalArgumentException](cli.Main.outputPath(out, glob))
      }
    // a sibling of the input and a directory the glob cannot match are not
    Seq(s"$dir/out" -> s"$in/*.txt", s"$in/sub" -> s"$in/*.txt").foreach { case (out, glob) =>
      assert(cli.Main.outputPath(out, glob) === dir.getFileSystem.getPath(out))
    }
  }
}
