package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingOps

/** Dev measurement main (round-18, verdict item 7): per-twin THROUGHPUT
  * micro-bench of all 27 streaming twins over a closed sf input — the
  * streaming family's first recorded perf baseline (they are not in the
  * bench path; until now their only evidence was agreement tests).
  *
  * Method: each twin runs once, alone, over the full input directory as a
  * one-trigger AvailableNow file stream into a counting foreachBatch sink
  * (no rows buffered on the driver), with a fresh temp checkpoint that is
  * deleted after the twin stops (outside the timed span). Wall is
  * measured start → processAllAvailable; rows/s = source rows / wall.
  * This measures the closed-input batch-equivalent cost of each twin's
  * plan (state-store writes included), NOT steady-state latency — the
  * stateful twins' restart/eviction behavior is StreamSoak's job.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 [SPARK_GRAFT_CPUS=32]
  *          runMain graft.StreamMicroBench
  * Prints one JSON line per twin and a final `stream_micro` summary line.
  */
object StreamMicroBench {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.localBuilder("graft-stream-micro",
      GraftSession.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val nEvents = spark.read.parquet(s"$dir/events.parquet").count()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    val nEmb = spark.read.parquet(s"$dir/embeddings.parquet").count()

    def events = StreamingOps.eventStream(spark, dir)
    def docs = StreamingOps.docStream(spark, dir)
    def emb = StreamingOps.embStream(spark, dir)

    // (name, output mode, source row count, stream) — wiring and modes
    // mirror StreamingSpec's agreement tests exactly
    val twins: Seq[(String, String, Long, () => DataFrame)] = Seq(
      ("daily_counts", "complete", nEvents, () => StreamingOps.dailyCounts(events)),
      ("dedup_docs", "append", nDocs, () => StreamingOps.dedupDocs(docs)),
      ("dedup_near_docs", "append", nDocs, () => StreamingOps.dedupNearDocs(docs)),
      ("word_counts", "complete", nDocs, () => StreamingOps.wordCounts(docs)),
      ("window_word_counts_topk", "complete", nDocs,
        () => StreamingOps.windowWordCounts(docs)),
      ("rolling_counts", "complete", nEvents, () => StreamingOps.rollingCounts(events)),
      ("daily_active_users", "complete", nEvents,
        () => StreamingOps.dailyActiveUsers(events)),
      ("props_stats", "complete", nEvents, () => StreamingOps.propsStats(events)),
      ("ohlc", "complete", nEvents, () => StreamingOps.ohlcStream(events)),
      ("dq_monitor", "complete", nEvents, () => StreamingOps.dqMonitor(events)),
      ("decontaminate_docs", "complete", nDocs,
        () => StreamingOps.decontaminateDocs(spark, docs, dir)),
      ("follow_ups", "append", nEvents, () => StreamingOps.followUps(events)),
      ("no_follow_ups", "append", nEvents, () => StreamingOps.noFollowUps(events)),
      ("latest_by_key", "update", nEvents,
        () => StreamingOps.latestByKey(spark, events).toDF()),
      ("anomaly", "append", nEvents,
        () => StreamingOps.anomalyStream(spark, events, dir)),
      ("transitions", "update", nEvents,
        () => StreamingOps.transitions(spark, events).toDF()),
      ("skyline", "update", nEvents,
        () => StreamingOps.skylineStream(spark, events).toDF()),
      ("sessionize", "update", nEvents,
        () => StreamingOps.sessionize(spark, events).toDF()),
      ("trailing_features", "append", nEvents,
        () => StreamingOps.trailingFeaturesStream(spark, events).toDF()),
      ("conversion_lag", "update", nEvents,
        () => StreamingOps.conversionLagStream(spark, events).toDF()),
      ("gram", "complete", nEmb, () => StreamingOps.gramStream(emb)),
      ("ann_probe", "update", nEmb, () => StreamingOps.annProbeStream(spark, emb, dir)),
      ("ann_probe_scaled", "update", nEmb,
        () => StreamingOps.annProbeScaledStream(spark, emb, dir)),
      ("chunk", "append", nDocs, () => StreamingOps.chunkStream(docs)),
      ("quality", "append", nDocs, () => StreamingOps.qualityStream(docs)),
      ("pii_scrub", "append", nEvents, () => StreamingOps.piiScrubStream(events)),
      ("manifest", "complete", nDocs, () => StreamingOps.manifestStream(docs)))

    val results = twins.map { case (nm, mode, nIn, mk) =>
      val ckpt = Files.createTempDirectory(s"smb-$nm")
      val rowsOut = new AtomicLong
      spark.sparkContext.setJobDescription(s"stream-micro: $nm")
      val t0 = System.nanoTime()
      val sec = try {
        val q = mk().writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) => rowsOut.addAndGet(b.count()): Unit }
          .outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start()
        q.processAllAvailable(); q.stop()
        (System.nanoTime() - t0) / 1e9
      } finally FileUtils.deleteDirectory(ckpt.toFile)
      val rps = nIn / sec
      println(f"""{"twin": "$nm", "mode": "$mode", "rows_in": $nIn, """ +
        f""""rows_out": ${rowsOut.get}, "sec": $sec%.3f, "rows_per_sec": $rps%.0f}""")
      (nm, sec, rps)
    }
    val total = results.map(_._2).sum
    println(f"""{"metric": "stream_micro", "sf": "$dir", "twins": ${results.size}, """ +
      f""""total_sec": $total%.1f, "min_rows_per_sec": ${results.map(_._3).min}%.0f}""")
    spark.stop()
  }
}
