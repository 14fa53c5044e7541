package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingOps

/** Capability probe: CHECKPOINTED INCREMENTAL PROCESSING — the property
  * that makes a streaming pipeline restartable and exactly-once at the
  * sink. A file-source stream with a durable checkpoint is run to
  * completion, stopped, handed MORE input, and restarted on the same
  * checkpoint: the restarted query must process only the new files (no
  * re-emission of already-committed batches) and the sink must end up
  * exactly equal to a batch run over the union of all input — no
  * duplicates, no loss. This is the operational contract a 100 TB
  * ingest job runs under: each (say, hourly) restart picks up where the
  * offset log ends, and the parquet sink's transaction log makes
  * replayed writes idempotent.
  */
class StreamingRecoverySpec extends SparkTestBase {

  test("restart on the same checkpoint processes only new input; sink exactly-once") {
    val in = tempDir("graft-stream-in")
    val ckpt = tempDir("graft-stream-ckpt")
    val sink = tempDir("graft-stream-sink")

    // first input file: the sf0.001 documents parquet
    val src = Paths.get(sf("sf0.001"), "documents.parquet")
    Files.copy(src, in.resolve("batch0.parquet"), StandardCopyOption.REPLACE_EXISTING)

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(StreamingOps.docSchema)
        .parquet(in.toString)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val q = stream.writeStream
        .format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    runOnce()
    val afterFirst = spark.read.parquet(sink.toString).count()
    val batchCount = spark.read.parquet(in.resolve("batch0.parquet").toString).count()
    assert(afterFirst === batchCount)

    // second epoch: a NEW file with shifted ids (distinguishable rows).
    // Written to a scratch dir first — the file source lists plain files,
    // so the part file is copied in as a single flat parquet file.
    val scratch = tempDir("graft-stream-scratch")
    spark.read.parquet(in.resolve("batch0.parquet").toString)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .coalesce(1)
      .write.mode("overwrite").parquet(scratch.resolve("b1").toString)
    val part = Files.list(scratch.resolve("b1")).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet")).head
    Files.copy(Paths.get(part), in.resolve("batch1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    runOnce()
    val out = spark.read.parquet(sink.toString)
    // exactly-once: old rows appear ONCE (not re-emitted on restart), new
    // rows appear once — the union equals a batch read of the input dir
    assert(out.count() === 2 * batchCount)
    assert(out.filter(col("doc_id") < 1000000L).count() === batchCount)
    assert(out.filter(col("doc_id") >= 1000000L).count() === batchCount)
    assert(out.select("doc_id").distinct().count() === 2 * batchCount)
  }

  test("STATEFUL restart: trailingFeatures 7-day buffer survives the checkpoint") {
    trailingFeaturesRestart(rocksdb = false)
  }

  test("STATEFUL restart under RocksDB: the provider a production deployment " +
    "runs round-trips the same state") {
    // Same scenario, state store swapped to the bundled RocksDB provider
    // (spark.sql.streaming.stateStore.providerClass) — the off-heap,
    // disk-spilling store a 100 TB streaming deployment actually runs
    // (HDFSBackedStateStore keeps every key in executor heap; RocksDB
    // state is bounded by local disk). The batch-agreement and
    // cross-boundary assertions are identical, so this pins that the
    // checkpointed state SEMANTICS are provider-independent, and the
    // layout check pins that RocksDB actually served the run.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try trailingFeaturesRestart(rocksdb = true)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def trailingFeaturesRestart(rocksdb: Boolean): Unit = {
    // The flatMapGroupsWithState buffer must persist across a restart:
    // epoch-2 events' features look back INTO epoch 1, so any state loss
    // (or replay) diverges from the batch backfill over the union. The
    // input splits BY TIME, satisfying the twin's documented contract
    // (per-user event-time order across triggers).
    val in = tempDir("graft-tf-in")
    val ckpt = tempDir("graft-tf-ckpt")
    val sink = tempDir("graft-tf-sink")
    val all = graft.Tables(spark, sf("sf0.001"), "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val Array(lo, hi) = all.agg(min(col("ts")), max(col("ts")))
      .collect().map(r => Array(r.getLong(0), r.getLong(1))).head
    val cut = lo + (hi - lo) / 2

    def writeEpoch(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tempDir("graft-tf-scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.resolve("e").toString)
      val part = Files.list(scratch.resolve("e")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), in.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }

    def runOnce(): Unit = {
      val raw = spark.readStream.schema(StreamingOps.eventSchema).parquet(in.toString)
      val stream = StreamingOps.trailingFeaturesStream(
        spark, graft.Tables.normalizeEventTs(spark, raw))
      val q = stream.toDF().writeStream
        .format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    writeEpoch(all.filter(col("ts") <= cut), "batch0.parquet")
    runOnce()
    val firstCount = spark.read.parquet(sink.toString).count()
    writeEpoch(all.filter(col("ts") > cut), "batch1.parquet")
    runOnce()

    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4))
    val got = spark.read.parquet(sink.toString)
      .select("event_id", "user_id", "n_7d", "cents_7d", "gap_ns")
      .collect().map(key).toMap
    val allDir = tempDir("graft-tf-all")
    all.write.mode("overwrite").parquet(allDir.resolve("events.parquet").toString)
    val expected = graft.queries.RelationalQueries
      .trailingFeatures(spark, allDir.toString).collect().map(key).toMap
    assert(got.size === expected.size, "exactly one feature row per event (no replay)")
    assert(got === expected)
    // the restart actually served features ACROSS the boundary: some
    // epoch-2 event must look back at epoch-1 state
    assert(firstCount > 0 && firstCount < expected.size)
    val epoch1Max = all.filter(col("ts") <= cut)
      .agg(max(col("ts"))).collect().head.getLong(0)
    val crossBoundary = spark.read.parquet(sink.toString)
      .join(graft.Tables(spark, allDir.toString, "events")
        .select(col("event_id"), col("ts")), "event_id")
      .filter(col("ts") > cut && col("gap_ns").isNotNull &&
        col("ts") - col("gap_ns") <= epoch1Max)
    assert(crossBoundary.count() > 0,
      "vacuous: no epoch-2 feature referenced epoch-1 state")

    // Provider-layout pin: HDFSBackedStateStore checkpoints <v>.delta
    // files; RocksDB checkpoints <v>.zip snapshots (+ optional
    // changelogs). Asserting on the files proves the intended provider
    // actually held the state, not a silently-defaulted fallback.
    val stateFiles = Files.walk(ckpt.resolve("state")).toArray.map(_.toString)
    val deltas = stateFiles.count(_.endsWith(".delta"))
    val zips = stateFiles.count(_.endsWith(".zip"))
    if (rocksdb) assert(zips > 0 && deltas == 0,
      s"RocksDB run should checkpoint .zip snapshots, saw $deltas deltas / $zips zips")
    else assert(deltas > 0 && zips == 0,
      s"HDFS-backed run should checkpoint .delta files, saw $deltas deltas / $zips zips")
  }

  test("STATEFUL restart with EVICTION: skyline frontier survives the checkpoint " +
      "and epoch-2 arrivals evict epoch-1 frontier points") {
    // Second stateful-recovery pin, on the flatMapGroupsWithState twin
    // whose state EVICTS (trailingFeatures only appends+trims): a restart
    // must restore the frontier exactly, and a dominated epoch-1 frontier
    // point must disappear when an epoch-2 arrival dominates it — state
    // loss would resurrect it (frontier too big), replay would not (the
    // fold is idempotent), so the final snapshot equals batch pareto_front
    // over the union ONLY if the checkpoint round-trips the eviction set.
    val in = tempDir("graft-sky-in")
    val ckpt = tempDir("graft-sky-ckpt")
    val sink = tempDir("graft-sky-sink")
    val all = graft.Tables(spark, sf("sf0.001"), "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val Array(lo, hi) = all.agg(min(col("ts")), max(col("ts")))
      .collect().map(r => Array(r.getLong(0), r.getLong(1))).head
    val cut = lo + (hi - lo) / 2

    def writeEpoch(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = tempDir("graft-sky-scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.resolve("e").toString)
      val part = Files.list(scratch.resolve("e")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), in.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }

    def runOnce(): Unit = {
      val raw = spark.readStream.schema(StreamingOps.eventSchema).parquet(in.toString)
      val stream = StreamingOps.skylineStream(
        spark, graft.Tables.normalizeEventTs(spark, raw))
      // Update-mode stateful output can't go to an append-only file sink;
      // foreachBatch + checkpoint gives the same exactly-once batch ledger
      val q = stream.toDF().writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(sink.toString)
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // snapshot sink → current frontier: per type, the max-seq emission
    def currentFrontier(): Set[(String, Long, Long, Long)] = {
      val snap = spark.read.parquet(sink.toString)
      val latest = snap.groupBy(col("event_type"))
        .agg(max(col("seq")).as("seq"))
      snap.join(latest, Seq("event_type", "seq"))
        .select("event_type", "event_id", "value_cents", "ts")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    }

    writeEpoch(all.filter(col("ts") <= cut), "batch0.parquet")
    runOnce()
    val epoch1Frontier = currentFrontier()
    assert(epoch1Frontier.nonEmpty)
    writeEpoch(all.filter(col("ts") > cut), "batch1.parquet")
    runOnce()
    val finalFrontier = currentFrontier()

    val allDir = tempDir("graft-sky-all")
    all.write.mode("overwrite").parquet(allDir.resolve("events.parquet").toString)
    val expected = graft.queries.RelationalQueries
      .paretoFront(spark, allDir.toString).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(finalFrontier === expected,
      "restarted skyline must equal batch pareto_front over the union")
    // the restart actually EVICTED: some epoch-1 frontier point must be
    // dominated by an epoch-2 arrival (epoch 2 is strictly later, so any
    // >=-valued late point dominates) and gone from the final frontier
    assert((epoch1Frontier -- finalFrontier).nonEmpty,
      "vacuous: no epoch-1 frontier point was evicted across the restart")
  }

  test("conversionLag holds pre-signup purchases across triggers (ties, " +
      "out-of-order signups, non-earliest qualifier)") {
    // Crafted multi-trigger pin for the three splits a purchase-dropping
    // fold censors (each user's final row must match the batch rule:
    // min signup; min purchase AT OR AFTER it):
    //  u1 tie split        — purchase ts=1000 in trigger 1, signup ts=1000
    //                        in trigger 2 → converted, lag 0
    //  u2 out-of-order     — signup 100k + purchase 50k in trigger 1,
    //    earlier signup      EARLIER signup 10k in trigger 2 → the held
    //                        purchase retro-qualifies, lag 40k
    //  u3 in-order split   — purchase 7k in trigger 1; signup 10k +
    //                        purchase 12k in trigger 2 → qualifier is the
    //                        NON-earliest purchase, lag 2k
    //  u4 censored         — signup only in trigger 1 → lag NULL
    val in = tempDir("graft-cl-in")
    val ckpt = tempDir("graft-cl-ckpt")
    val sink = tempDir("graft-cl-sink")
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType)))

    def writeEpoch(rows: Seq[(Long, Long, String)], name: String): Unit = {
      val scratch = tempDir("graft-cl-scratch")
      rows.toDF("user_id", "ts", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(scratch.resolve("e").toString)
      val part = Files.list(scratch.resolve("e")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), in.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }

    def runOnce(): Unit = {
      val raw = spark.readStream.schema(schema).parquet(in.toString)
      val q = StreamingOps.conversionLagStream(spark, raw).toDF().writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(sink.toString)
        }
        .option("checkpointLocation", ckpt.toString)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    writeEpoch(Seq(
      (1L, 1000L, "purchase"),
      (2L, 100000L, "signup"), (2L, 50000L, "purchase"),
      (3L, 7000L, "purchase"),
      (4L, 500L, "signup"),
      //  u5 TRUE lossy     — purchase 50k trigger 1, displaced by 30k in
      //                      trigger 2 (50k discarded from O(1) state),
      //                      signup 40k in trigger 3: batch converts at
      //                      50k, the stream cannot — but must SAY so
      //                      (lossy_risk = true), not censor silently
      //  u6 displacement   — same 50k/30k displacement, but signup 40k
      //    WITH signup       arrives in the SAME trigger as the 30k: the
      //                      held 50k is still at hand → exact, unflagged
      (5L, 50000L, "purchase"),
      (6L, 50000L, "purchase")), "batch0.parquet")
    runOnce()
    writeEpoch(Seq(
      (1L, 1000L, "signup"),
      (2L, 10000L, "signup"),
      (3L, 10000L, "signup"), (3L, 12000L, "purchase"),
      (5L, 30000L, "purchase"),
      (6L, 30000L, "purchase"), (6L, 40000L, "signup")), "batch1.parquet")
    runOnce()
    writeEpoch(Seq(
      (5L, 40000L, "signup")), "batch2.parquet")
    runOnce()

    // final row per user = the last (max signup... ) — update mode re-emits
    // on change; take each user's LAST emission = the row from the latest
    // batch that touched them. Emissions only ever move toward the batch
    // answer, so the latest is the converged one.
    val rows = spark.read.parquet(sink.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3), r.getBoolean(4)))
    // group by user; pick the emission with the smallest signup then the
    // defined purchase (the fold is monotone: signup only decreases,
    // conversion only appears)
    val finalByUser = rows.groupBy(_._1).view.mapValues { es =>
      es.minBy(e => (e._2, e._3 == null))
    }.toMap
    assert(finalByUser(1L) === ((1L, 1000L, 1000L, 0L, true)),
      "tie split across triggers must convert with lag 0")
    assert(finalByUser(2L) === ((2L, 10000L, 50000L, 40000L, true)),
      "an earlier out-of-order signup must retro-qualify the held purchase")
    assert(finalByUser(3L) === ((3L, 10000L, 12000L, 2000L, true)),
      "the qualifier may be a NON-earliest purchase arriving after signup")
    assert(finalByUser(4L) === ((4L, 500L, null, null, false)),
      "signup-only user stays censored")
    assert(finalByUser(6L) === ((6L, 40000L, 50000L, 10000L, true)),
      "a displaced earliest-ever purchase still at hand must qualify exactly")

    // lossy-case detectability: u5's answer is unrecoverable from O(1)
    // state (the qualifying 50k was discarded a trigger before its
    // signup) — the row must carry lossy_risk = true; every exact row
    // must NOT be flagged
    val risks = spark.read.parquet(sink.toString).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).groupBy(_._1)
      .view.mapValues(_.exists(_._2)).toMap
    assert(risks(5L), "the unrecoverable censored row must be flagged lossy_risk")
    Seq(1L, 2L, 3L, 4L, 6L).foreach { u =>
      assert(!risks(u), s"exact row for user $u must not be flagged lossy_risk")
    }
  }

  test("STATEFUL restart: noFollowUps outer-join state survives — late follow-ups suppress, expiry emits") {
    // The outer interval join's buffered-anchor state is the recovery-
    // critical piece: an epoch-1 anchor must survive the restart so that
    // (a) an epoch-2 follow-up INSIDE its window suppresses the stalled
    // alert (the anchor must never emit), and (b) a genuinely stalled
    // epoch-1 anchor emits exactly once when epoch 2's watermark advance
    // expires its window. Both happen across the checkpoint boundary.
    val in = tempDir("graft-nfu-in")
    val ckpt = tempDir("graft-nfu-ckpt")
    val sink = tempDir("graft-nfu-sink")
    val scratch = tempDir("graft-nfu-scratch")
    val t0 = 1700000000000000000L // ns, well past epoch
    def ns(min: Long): Long = t0 + min * 60L * 1000000000L

    def writeEpoch(name: String, rows: Seq[(Long, Long, Long)]): Unit = {
      import spark.implicits._
      rows.toDF("event_id", "ts", "user_id").coalesce(1)
        .write.mode("overwrite").parquet(scratch.resolve(name).toString)
      val part = Files.list(scratch.resolve(name)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), in.resolve(s"$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def runOnce(): Unit = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType)))
      val q = StreamingOps.noFollowUps(
          spark.readStream.schema(schema).parquet(in.toString))
        .writeStream.format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // epoch 1: u1 anchor (follow-up arrives only in epoch 2), u4 anchor
    // (stalled forever), u2 anchor + its 10-min follower. Max event time
    // ns(10) keeps the watermark below every window end: nothing emits.
    writeEpoch("e1", Seq((10L, ns(0), 1L), (40L, ns(0), 4L),
      (20L, ns(0), 2L), (21L, ns(10), 2L)))
    runOnce()
    assert(spark.read.parquet(sink.toString).count() === 0L,
      "no window can have expired in epoch 1")

    // epoch 2: the LATE follower for u1 (25 min — inside the 30-min
    // window of the buffered epoch-1 anchor) plus a clock event pushing
    // the watermark to ns(120), past every epoch-1 window end.
    writeEpoch("e2", Seq((11L, ns(25), 1L), (99L, ns(180), 9L)))
    runOnce()
    val got = spark.read.parquet(sink.toString).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === got.distinct.length, "an anchor emitted twice across the restart")
    val ids = got.map(_._1).toSet
    // stalled and expired: u4's anchor, u2's follower, u1's late follower
    assert(ids === Set(40L, 21L, 11L),
      s"expected exactly the stalled+expired anchors, got $ids — " +
        "id 10 present means the recovered state LOST the late match; " +
        "id 40/21 missing means buffered anchors didn't expire after restart")
  }
}
