package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._

import graft.operators.{Apps, MapReduce}

/** The reference's scheduler-probing apps (SURVEY §2.2 A3-A6 / §5.3) as
  * engine capability tests — the properties the Go harness asserts with
  * marker files and crash loops, asserted here against Spark's scheduler:
  *
  *  - jobcount  (test-mr.sh:197-220): without failures, map runs exactly
  *    once per input file — no duplicate scheduling.
  *  - mtiming (test-mr.sh:143-172): ≥2 map tasks execute concurrently.
  *  - rtiming (test-mr.sh:174-195): ≥2 REDUCE (post-shuffle) tasks execute
  *    concurrently.
  *  - early_exit (test-mr.sh:222-284): no output is visible before job
  *    completion; completion publishes atomically (_SUCCESS marker). The
  *    test below checks Spark's own committer on a DataFrame write; the
  *    CLI's staged-file commit has its own barrier test, CliMainSpec's
  *    "commit: a failed job leaves no part file, no _SUCCESS and no
  *    _temporary".
  *  - crash (test-mr.sh:286-334): output with injected task failures equals
  *    the failure-free output (task retry + exactly-once-visible results).
  *
  * The straggler-reassignment capability (coordinator.go:122-128 → Spark
  * speculative execution) cannot run in local[*] (Spark only starts the
  * speculation thread on a cluster scheduler); scripts/speculation-run.sh
  * exercises it on local-cluster[2,2,1024] via SpeculationProbe.
  */
object SchedulerCapabilitySpec {
  // static (JVM-local) probes — valid in local mode where tasks share the JVM
  val liveTasks = new AtomicInteger(0)
  val maxConcurrent = new AtomicInteger(0)
  val mapInvocations = new AtomicInteger(0)
}

class SchedulerCapabilitySpec extends SparkTestBase {
  import SchedulerCapabilitySpec._

  private lazy val corpus: String = {
    val d = tempDir("sched-corpus")
    (1 to 8).foreach { i =>
      java.nio.file.Files.writeString(d.resolve(s"f$i.txt"), s"alpha beta f$i gamma " * 50)
    }
    s"$d/*.txt"
  }

  test("jobcount: map executes exactly once per input file (no duplicate scheduling)") {
    mapInvocations.set(0)
    val counted = new graft.operators.MRApp {
      def map(file: String, contents: String): IterableOnce[graft.operators.KV] = {
        mapInvocations.incrementAndGet()
        Apps.WordCount.map(file, contents)
      }
      def reduce(key: String, values: Seq[String]): String =
        Apps.WordCount.reduce(key, values)
    }
    MapReduce.run(spark, corpus, counted).count()
    assert(mapInvocations.get() === 8) // one per file, reference contract
  }

  test("mtiming: >=2 tasks run concurrently") {
    liveTasks.set(0); maxConcurrent.set(0)
    import spark.implicits._
    spark.range(0, 8, 1, 8).as[Long].map { i =>
      val live = liveTasks.incrementAndGet()
      maxConcurrent.updateAndGet(m => math.max(m, live))
      Thread.sleep(300)
      liveTasks.decrementAndGet()
      i
    }.count()
    assert(maxConcurrent.get() >= 2, s"observed max concurrency ${maxConcurrent.get()}")
  }

  test("rtiming: >=2 REDUCE tasks run concurrently (post-shuffle stage)") {
    // reference src/mrapps/rtiming.go:17-84 / src/main/test-mr.sh:174-195:
    // the probe lives in reduce(), which MapReduce.run executes inside the
    // post-shuffle sorted-bucket stage — map-side concurrency (mtiming
    // above) says nothing about it. 26 keys over run's default 10 reduce
    // buckets (10 reduce tasks: no AQE plans an RDD shuffle) with a
    // 300 ms sleep per key force overlapping reduce tasks.
    liveTasks.set(0); maxConcurrent.set(0)
    val probing = new graft.operators.MRApp {
      def map(file: String, contents: String): IterableOnce[graft.operators.KV] =
        ('a' to 'z').map(k => graft.operators.KV(k.toString, "1"))
      def reduce(key: String, values: Seq[String]): String = {
        val live = liveTasks.incrementAndGet()
        maxConcurrent.updateAndGet(m => math.max(m, live))
        Thread.sleep(300)
        liveTasks.decrementAndGet()
        values.size.toString
      }
    }
    MapReduce.run(spark, corpus, probing).count()
    assert(maxConcurrent.get() >= 2,
      s"observed max reduce concurrency ${maxConcurrent.get()}")
  }

  test("early exit barrier: no partial output visible from a failed job; " +
      "completion publishes atomically with _SUCCESS") {
    // reference src/main/test-mr.sh:222-284: output files must not be
    // readable before the job completes. Spark delegates the barrier to
    // the output committer: task attempts write under _temporary and only
    // job commit moves them into place — so a job whose final task always
    // fails must leave ZERO visible part files.
    import spark.implicits._
    val out = tempDir("early-exit").resolve("out").toString
    intercept[Exception] {
      spark.range(0, 8, 1, 8).as[Long].map { i =>
        if (i == 7) throw new RuntimeException("injected failure before completion")
        i
      }.write.parquet(out)
    }
    def visible(dir: java.io.File): Seq[String] = {
      val fs = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      fs.filterNot(_.getName == "_temporary").flatMap { f =>
        if (f.isDirectory) visible(f) else Seq(f.getName)
      }
    }
    val afterFail = visible(new java.io.File(out))
    assert(afterFail.forall(!_.startsWith("part-")),
      s"failed job leaked partial output: $afterFail")

    spark.range(0, 8, 1, 8).write.mode("overwrite").parquet(out)
    val afterOk = visible(new java.io.File(out))
    assert(afterOk.exists(_.startsWith("part-")), s"no committed output: $afterOk")
    assert(afterOk.contains("_SUCCESS"),
      s"completion marker missing (reference 'done' protocol analog): $afterOk")
  }

  test("crash: output under injected task failures equals failure-free output") {
    val clean = MapReduce.run(spark, corpus, Apps.WordCount)
      .collect().map(kv => kv.key -> kv.value).toMap

    val faulty = new graft.operators.MRApp {
      def map(file: String, contents: String): IterableOnce[graft.operators.KV] = {
        // fail every task's first attempt in the map stage; retry succeeds
        val tc = TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 && tc.stageAttemptNumber() == 0)
          throw new RuntimeException("injected map fault (attempt 0)")
        Apps.WordCount.map(file, contents)
      }
      def reduce(key: String, values: Seq[String]): String =
        Apps.WordCount.reduce(key, values)
    }
    val got = MapReduce.run(spark, corpus, faulty)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(got === clean)
  }
}
