package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GenScale, GraftSession, SparkEntry}

/** The benchmark's JVM side. `perfbench/run.py` launches it; it calls the
  * engine only through public entry points (`SparkEntry.queries`,
  * `GraftSession.localBuilder`, `graft.cli.Main`, and `GenScale.write` for
  * the inputs) and observes the layers from outside: a `SparkListener` for
  * jobs, stages and tasks, `QueryExecution` for planning, `CodegenMetrics`
  * for janino compiles, and the run's artifact-cache directory for the
  * memo layer.
  *
  * Modes (every argument is `key=value`):
  *   prepare data= div= dump= cpus= local= out= queries=
  *     generate the tables (once), run the listed queries, dump each result
  *     as parquet for the oracle compare and record its digest.
  *   run data= cpus= local= cache= orders= expected= seconds= trace= out= spans=
  *     one measured query run: a cold pass against the run's empty artifact
  *     cache, a probe pass in a fresh session over the artifacts the cold
  *     pass built, then warm passes until `seconds` have passed.
  *   cli one= corpus= outdir= orders= seconds= trace= partitions= out= spans=
  *     one measured `graft.cli.Main` run: the one-line job (start-up floor),
  *     then passes of wc / indexer / partitioned wc until `seconds` have
  *     passed.
  */
object Harness {

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(argv: Array[String]): Unit = {
    val mainNs = epochNs()
    val args = argv.tail.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    argv.head match {
      case "prepare" => prepare(args)
      case "run" => runQueries(args, mainNs)
      case "cli" => runCli(args, mainNs)
      case other => sys.error(s"unknown mode $other")
    }
  }

  def session(args: Map[String, String]): SparkSession = {
    val spark = GraftSession.localBuilder("perfbench", args("cpus").toInt)
      .config("spark.local.dir", args("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** JVM warm-up that touches no benchmark data: one aggregate through an
    * exchange. A long-lived Spark application pays this once.
    */
  def prewarm(spark: SparkSession): Unit = {
    spark.range(64).repartition(2)
      .groupBy((col("id") % 4).as("k")).agg(sum(col("id")).as("s"))
      .collect(): Unit
  }

  // ---------------------------------------------------------------- results

  /** Order-independent digest of a collected result: every value rendered
    * canonically (floating point by its exact bits), rows sorted, SHA-256.
    */
  def digest(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "~"
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case d: Double => "d" + java.lang.Double.doubleToLongBits(d).toHexString
      case f: Float => "f" + java.lang.Float.floatToIntBits(f).toHexString
      case b: Array[Byte] => b.map("%02x".format(_)).mkString("b", "", "")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case x => x.getClass.getSimpleName + ":" + x.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s => md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  // ------------------------------------------------------------------ json

  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jobj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")

  def jarr(vs: Iterable[Any]): String = vs.mkString("[", ",", "]")

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(UTF_8)): Unit

  def firstLine(e: Throwable): String = e.toString.linesIterator.nextOption().getOrElse("")

  // ------------------------------------------------------------- memo dir

  /** Artifact directories under the cache root: name -> (_SUCCESS mtime, bytes). */
  def artifacts(root: File): Map[String, (Long, Long)] =
    Option(root.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && !d.getName.startsWith(".") &&
        new File(d, "_SUCCESS").isFile)
      .map(d => d.getName -> (new File(d, "_SUCCESS").lastModified(), du(d)))
      .toMap

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length()

  // --------------------------------------------------------------- prepare

  def prepare(args: Map[String, String]): Unit = {
    val data = args("data")
    val spark = session(args)
    try {
      if (!new File(data, "_DONE").isFile) {
        GenScale.write(spark, data, 1L, args("div").toLong)
        new File(data, "_DONE").createNewFile(): Unit
      }
      val queries = SparkEntry.queries
      val results = args("queries").split(',').toSeq.map { name =>
        try {
          val df = queries(name)(spark, data)
          val rows = df.collect()
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"${args("dump")}/$name")
          name -> jobj(Seq("digest" -> js(digest(rows)),
            "oracle" -> SparkEntry.oracleSql.get(name).map(js).getOrElse("null")))
        } catch {
          case NonFatal(e) => name -> jobj(Seq("error" -> js(firstLine(e))))
        }
      }
      write(args("out"), jobj(results))
    } finally spark.stop()
  }

  // ----------------------------------------------------------------- trace

  case class StageRec(span: String, stageId: Int, attempt: Int, jobId: Int,
      tasks: Int, startMs: Long, endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long,
      inRows: Long, inBytes: Long, failed: Boolean) {
    def json: Seq[(String, Any)] = Seq(
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "shuffle_write_b" -> shWrite, "shuffle_read_b" -> shRead,
      "fetch_wait_ms" -> fetchWaitMs, "spill_b" -> spill,
      "input_rows" -> inRows, "input_b" -> inBytes, "failed" -> failed)
  }

  case class JobRec(span: String, jobId: Int, startMs: Long, endMs: Long)

  /** Thread-local property naming the span that submits a job. Spark copies
    * it to every job the thread submits, AQE stages and broadcasts included.
    */
  val SpanKey = "perfbench.span"

  /** Span of the CLI job running now: `graft.cli.Main` builds its own
    * context, so its jobs cannot carry the thread-local property.
    */
  @volatile var cliSpan: String = null

  /** Job and stage records, each tagged with the span that caused it. */
  class Tracer extends SparkListener {
    private val stageSpan = TrieMap.empty[Int, (String, Int)]
    private val jobStart = TrieMap.empty[Int, (String, Long)]
    private val open = new AtomicInteger(0)
    private val lastEvent = new AtomicLong(System.nanoTime())

    protected def spanOf(e: SparkListenerJobStart): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent.set(System.nanoTime())
      spanOf(e).foreach { sp =>
        open.incrementAndGet()
        jobStart.put(e.jobId, sp -> e.time)
        e.stageIds.foreach(s => stageSpan.put(s, sp -> e.jobId))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent.set(System.nanoTime())
      jobStart.remove(e.jobId).foreach { case (sp, t0) =>
        Tracer.jobs.add(JobRec(sp, e.jobId, t0, e.time))
        open.decrementAndGet()
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEvent.set(System.nanoTime())
      val si = e.stageInfo
      stageSpan.get(si.stageId).foreach { case (sp, job) =>
        val m = si.taskMetrics
        val t0 = si.submissionTime.getOrElse(0L)
        Tracer.stages.add(StageRec(sp, si.stageId, si.attemptNumber(), job, si.numTasks,
          t0, si.completionTime.getOrElse(t0),
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          si.failureReason.isDefined))
      }
    }

    /** The listener bus is asynchronous: wait until every tagged job has
      * ended and the bus has been quiet for a moment.
      */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while (System.nanoTime() < deadline &&
          (open.get() > 0 || System.nanoTime() - lastEvent.get() < 200000000L))
        Thread.sleep(20)
    }
  }

  object Tracer {
    val stages = new ConcurrentLinkedQueue[StageRec]()
    val jobs = new ConcurrentLinkedQueue[JobRec]()
  }

  /** Installed through `spark.extraListeners` in the CLI's own context. */
  class CliTracer extends Tracer {
    override protected def spanOf(e: SparkListenerJobStart): Option[String] = Option(cliSpan)
  }

  /** One timed execution: a query or a CLI job. */
  case class Exec(pass: Int, name: String, span: String, startNs: Long,
      buildNs: Long, planNs: Long, endNs: Long, cpuNs: Long, ok: Boolean, err: String,
      analysisNs: Long, compiles: Long) {
    def wall: Double = (endNs - startNs) / 1e9
  }

  val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  val compileHist = CodegenMetrics.METRIC_COMPILATION_TIME

  def readLines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty)

  /** Spans: query (or CLI job) -> build / plan / exec -> job -> stage; all
    * spans of one execution share its trace id.
    */
  def writeSpans(path: String, execs: Seq[Exec]): Unit = {
    val out = Seq.newBuilder[String]
    def span(trace: String, id: String, parent: String, name: String, s: Long, e: Long,
        attrs: Seq[(String, Any)] = Nil): Unit =
      out += jobj(Seq("trace" -> js(trace), "id" -> js(id), "parent" -> js(parent),
        "name" -> js(name), "start_ns" -> s, "end_ns" -> e) ++ attrs)
    val jobsBySpan = Tracer.jobs.asScala.toSeq.groupBy(_.span)
    val stagesBySpan = Tracer.stages.asScala.toSeq.groupBy(_.span)
    for (e <- execs if jobsBySpan.contains(e.span) || e.buildNs > 0) {
      val id = e.span
      span(id, id, "", "query", e.startNs, e.endNs, Seq(
        "query" -> js(e.name), "pass" -> e.pass, "ok" -> e.ok,
        "compiles" -> e.compiles, "analysis_ns" -> e.analysisNs, "cpu_ns" -> e.cpuNs))
      val execSpan = if (e.buildNs > 0) {
        span(id, id + "/build", id, "build", e.startNs, e.buildNs)
        span(id, id + "/plan", id, "plan", e.buildNs, e.planNs)
        span(id, id + "/exec", id, "exec", e.planNs, e.endNs)
        id + "/exec"
      } else id
      for (j <- jobsBySpan.getOrElse(id, Nil))
        span(id, s"$id/job${j.jobId}", execSpan, "job", j.startMs * 1000000L, j.endMs * 1000000L)
      for (s <- stagesBySpan.getOrElse(id, Nil))
        span(id, s"$id/stage${s.stageId}.${s.attempt}", s"$id/job${s.jobId}", "stage",
          s.startMs * 1000000L, s.endMs * 1000000L, s.json)
    }
    write(path, jarr(out.result()).replace("},{", "},\n{"))
  }

  def execJson(e: Exec): String = jobj(Seq("pass" -> e.pass, "name" -> js(e.name),
    "wall_s" -> e.wall, "cpu_s" -> e.cpuNs / 1e9, "ok" -> e.ok, "err" -> js(e.err),
    "compiles" -> e.compiles))

  /** The leading passes (`lead`, the cold pass first), then warm passes
    * until `seconds` have passed (at least `minwarm`). Traced runs trace
    * the leading passes and alternate untraced and traced warm passes, so
    * the tracing overhead is measured in the same minutes of the same host.
    */
  def passes(args: Map[String, String], orders: Seq[Seq[String]], lead: Seq[String])(
      onePass: (Int, String, Seq[String], Boolean) => String): Seq[String] = {
    val trace = args("trace") == "1"
    val seconds = args("seconds").toDouble
    val minWarm = args("minwarm").toInt
    val out = Seq.newBuilder[String]
    for ((kind, p) <- lead.zipWithIndex) out += onePass(p, kind, orders(p), trace)
    val w0 = System.nanoTime()
    var w = 0
    while (lead.size + w < orders.size && (w < minWarm || (System.nanoTime() - w0) / 1e9 < seconds)) {
      out += onePass(lead.size + w, "warm", orders(lead.size + w), trace && w % 2 == 1)
      w += 1
    }
    out.result()
  }

  // ------------------------------------------------------------------- run

  def runQueries(args: Map[String, String], mainNs: Long): Unit = {
    val data = args("data")
    val cache = new File(args("cache"))
    val orders = readLines(args("orders")).map(_.split(',').toSeq)
    val expected = readLines(args("expected")).map { l =>
      val Array(k, v) = l.split(' '); k -> v
    }.toMap

    val spark = session(args)
    val sessionNs = epochNs()
    prewarm(spark)
    val readyNs = epochNs()

    val tracer = new Tracer
    val execs = Seq.newBuilder[Exec]
    val queries = SparkEntry.queries

    var ss = spark
    def onePass(p: Int, kind: String, order: Seq[String], traced: Boolean): String = {
      if (kind == "probe") {
        // A fresh session over the artifacts the cold pass built, as a new
        // query job would see them: its memo is empty and the shared block
        // cache is cleared, so every artifact is probed on disk. The warm
        // passes that follow run in this session too.
        spark.catalog.clearCache()
        ss = spark.newSession()
        spark.conf.getAll.foreach { case (k, v) => if (ss.conf.isModifiable(k)) ss.conf.set(k, v) }
      }
      if (traced) spark.sparkContext.addSparkListener(tracer)
      val memo0 = artifacts(cache)
      val comp0 = compileHist.getCount
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val timed = order.zipWithIndex.map { case (name, i) =>
        val span = s"p$p.q$i.$name"
        val c0 = compileHist.getCount
        val u0 = os.getProcessCpuTime
        if (traced) spark.sparkContext.setLocalProperty(SpanKey, span)
        val s0 = epochNs()
        var b1, p1, analysis = 0L
        val res = try {
          val df = queries(name)(ss, data)
          b1 = epochNs()
          if (traced) {
            df.queryExecution.executedPlan
            analysis = df.queryExecution.tracker.phases.get("analysis")
              .map(_.durationMs * 1000000L).getOrElse(0L)
          }
          p1 = epochNs()
          Right(df.collect())
        } catch { case NonFatal(e) => Left(firstLine(e)) }
        val e1 = epochNs()
        val cpu = os.getProcessCpuTime - u0
        if (traced) spark.sparkContext.setLocalProperty(SpanKey, null)
        Exec(p, name, span, s0, if (traced) b1 else 0L, p1, e1, cpu, ok = false, err = "",
          analysis, compileHist.getCount - c0) -> res
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val compiles = compileHist.getCount - comp0
      // results are checked after the pass's clocks are read, so the check
      // stays out of the pass's wall and CPU time
      val passExecs = timed.map { case (e, res) =>
        val err = res match {
          case Right(rows) =>
            val d = digest(rows)
            val want = expected.getOrElse(e.name, "none")
            if (d == want) "" else s"digest $d != expected $want"
          case Left(msg) => msg
        }
        if (err.nonEmpty) System.err.println(s"[perfbench] ${e.name} FAILED: $err")
        e.copy(ok = err.isEmpty, err = err)
      }
      execs ++= passExecs
      val layer =
        if (!traced) Nil
        else {
          tracer.drain()
          spark.sparkContext.removeSparkListener(tracer)
          val memo1 = artifacts(cache)
          val built = memo1.keySet -- memo0.keySet
          val read = memo1.count { case (k, (mt, _)) => memo0.get(k).exists(_._1 != mt) }
          val cached = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          // the histogram keeps a sample of compile times; its mean times the
          // exact compile count estimates the pass's compile time
          val meanMs = compileHist.getSnapshot.getMean
          Seq("layer" -> jobj(Seq(
            "memo.artifacts_built" -> built.size,
            "memo.artifacts_read" -> read,
            "memo.artifact_write_mb" -> built.toSeq.map(memo1(_)._2).sum / 1e6,
            "memo.artifact_store_mb" -> memo1.values.map(_._2).sum / 1e6,
            "memo.cached_mb" -> cached / 1e6,
            "codegen.compile_s" -> compiles * meanMs / 1e3)))
        }
      jobj(Seq("pass" -> p, "kind" -> js(kind), "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> cpu, "compiles" -> compiles) ++ layer)
    }

    val passJson = passes(args, orders, Seq("cold", "probe"))(onePass)
    val endNs = epochNs()
    write(args("out"), jobj(Seq(
      "main_ns" -> mainNs, "session_ns" -> sessionNs, "ready_ns" -> readyNs, "end_ns" -> endNs,
      "passes" -> jarr(passJson), "execs" -> jarr(execs.result().map(execJson)))))
    if (args("trace") == "1") writeSpans(args("spans"), execs.result())
    Runtime.getRuntime.halt(0) // the run directory, Spark's local dirs included, is removed afterwards
  }

  // ------------------------------------------------------------------- cli

  def runCli(args: Map[String, String], mainNs: Long): Unit = {
    val jobs = Seq(
      "wc" -> Seq("wc"),
      "indexer" -> Seq("indexer"),
      "wc-partitioned" -> Seq("wc", s"--partitions=${args("partitions")}"))
    def call(app: Seq[String], out: String, glob: String): Unit =
      graft.cli.Main.main((Seq(app.head, out, glob) ++ app.tail).toArray)

    // the one-line job: JVM start, classes, first context, a trivial job
    call(Seq("wc"), s"${args("outdir")}/one", args("one"))
    val readyNs = epochNs()

    val orders = readLines(args("orders")).map(_.split(',').toSeq)
    val execs = Seq.newBuilder[Exec]
    def onePass(p: Int, kind: String, order: Seq[String], traced: Boolean): String = {
      if (traced) System.setProperty("spark.extraListeners", classOf[CliTracer].getName)
      else System.clearProperty("spark.extraListeners")
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val passExecs = order.map { name =>
        val span = s"p$p.$name"
        cliSpan = span
        val u0 = os.getProcessCpuTime
        val s0 = epochNs()
        val err = try { call(jobs.toMap.apply(name), s"${args("outdir")}/p$p-$name", args("corpus")); "" }
          catch { case NonFatal(e) => firstLine(e) }
        val e1 = epochNs()
        cliSpan = null
        Exec(p, name, span, s0, 0L, 0L, e1, os.getProcessCpuTime - u0, err.isEmpty, err, 0L, 0L)
      }
      execs ++= passExecs
      jobj(Seq("pass" -> p, "kind" -> js(kind), "traced" -> traced,
        "wall_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9))
    }
    val passJson = passes(args, orders, Seq("cold"))(onePass)
    write(args("out"), jobj(Seq(
      "main_ns" -> mainNs, "ready_ns" -> readyNs, "end_ns" -> epochNs(),
      "passes" -> jarr(passJson), "execs" -> jarr(execs.result().map(execJson)))))
    if (args("trace") == "1") writeSpans(args("spans"), execs.result())
  }
}
