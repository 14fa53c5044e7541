package graft

import java.nio.file.Files

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

/** CLI generality (round-15 "what's missing"): runtime app loading by
  * class name and a partitioned-output mode that never collapses to one
  * partition.
  */
class CliMainSpec extends SparkTestBase {

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
}
