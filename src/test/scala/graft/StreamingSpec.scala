package graft

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingOps

/** Batch/stream agreement: on a closed input, the streaming windowed
  * aggregation and the stateful sessionizer must produce exactly the batch
  * queries' results (histogram / sessionize in RelationalQueries).
  */
class StreamingSpec extends SparkTestBase {

  private val dir = sf("sf0.001")

  test("streaming dailyCounts equals batch histogram counts") {
    val stream = StreamingOps.dailyCounts(StreamingOps.eventStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("daily_counts")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("daily_counts")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = graft.queries.RelationalQueries.histogram(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("streaming dedupDocs keeps exactly one doc per distinct text, matching batch dedup_exact") {
    val stream = StreamingOps.dedupDocs(StreamingOps.docStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("dedup_docs")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("dedup_docs").select("text_hash")
      .collect().map(_.getString(0))
    assert(got.length === got.distinct.length) // one survivor per hash
    val batch = graft.queries.DedupQueries.dedupExact(spark, dir)
      .select("text_hash").collect().map(_.getString(0))
    assert(got.toSet === batch.toSet) // same distinct-text set as batch
  }

  test("streaming dedupNearDocs keeps one doc per simhash fingerprint, matching batch dedup_simhash") {
    val stream = StreamingOps.dedupNearDocs(StreamingOps.docStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("dedup_near_docs")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("dedup_near_docs").select("simhash")
      .collect().map(_.getLong(0))
    assert(got.length === got.distinct.length) // one survivor per fingerprint
    // same fingerprint set as the batch query (the surviving doc_id may
    // differ: batch keeps min doc_id, the stream keeps first-arriving)
    val batch = graft.queries.DedupQueries.dedupSimhash(spark, dir)
      .select("simhash").collect().map(_.getLong(0))
    assert(got.toSet === batch.toSet)
  }

  test("streaming anomalyStream: flags equal batch anomaly_mad (stream-static model join)") {
    val stream = StreamingOps.anomalyStream(
      spark, StreamingOps.eventStream(spark, dir), dir)
    val q = stream.writeStream
      .format("memory").queryName("stream_anomalies")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("stream_anomalies")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val batch = graft.queries.RelationalQueries.anomalyMad(spark, dir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === batch)
    assert(got.nonEmpty, "no anomaly on the closed input: broken model join")
  }

  test("streaming transitions: GROUP BY of the edge stream equals batch transition_matrix") {
    val stream = StreamingOps.transitions(spark, StreamingOps.eventStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("stream_transitions")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("stream_transitions")
      .groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = graft.queries.RelationalQueries.transitionMatrix(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("streaming sessionize equals batch sessionize") {
    val stream = StreamingOps.sessionize(spark, StreamingOps.eventStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("stream_sessions")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    // last update per user wins (single closed input -> one trigger)
    val got = spark.table("stream_sessions")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expected = graft.queries.RelationalQueries.sessionize(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected)
  }

  test("streaming rollingCounts equals batch rolling_counts on a closed input") {
    val stream = StreamingOps.rollingCounts(StreamingOps.eventStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("rolling_counts_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("rolling_counts_stream")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = graft.queries.RelationalQueries.rollingCounts(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.nonEmpty)
    // rows for days that HAVE events must agree exactly with the batch
    // RANGE-frame result (same day grid, same n, same n7)
    assert(got.filter(_._3 > 0).toSet === expected)
    // the stream's extra rows are exactly the empty days kept alive by a
    // non-empty trailing window — days the batch day grid doesn't contain
    got.filter(_._3 == 0).foreach { r =>
      assert(!expected.exists(e => e._1 == r._1 && e._2 == r._2),
        s"stream emitted n=0 for a day the batch counted: $r")
      assert(r._4 > 0, s"empty window emitted: $r")
    }
  }

  test("streaming dailyActiveUsers equals batch active_users DAU on a closed input") {
    val stream = StreamingOps.dailyActiveUsers(StreamingOps.eventStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("daily_active")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("daily_active")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.queries.RelationalQueries.activeUsers(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))) // (day_idx, dau)
    // the stream emits only days with activity; the batch spine's
    // zero-filled gap days are the one shape difference
    assert(got === batch.filter(_._2 > 0).toMap)
    batch.filter(_._2 == 0).foreach { case (day, _) =>
      assert(!got.contains(day), s"stream emitted a row for gap day $day")
    }
  }

  test("streaming decontaminateDocs equals the batch contaminated set (stream-static join)") {
    val stream = StreamingOps.decontaminateDocs(
      spark, StreamingOps.docStream(spark, dir), dir)
    val q = stream.writeStream
      .format("memory").queryName("decontam_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("decontam_stream")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the stream emits only contaminated docs (inner join); the batch
    // query's zero rows are the clean remainder
    val batch = graft.queries.DedupQueries.decontaminate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val expected = batch.filter(_._3).map(r => r._1 -> r._2).toMap
    assert(expected.nonEmpty, "corpus produced no contaminated docs — test is vacuous")
    assert(got === expected)
    assert(batch.filterNot(_._3).forall(r => !got.contains(r._1)))
  }

  test("streaming topWords: per-window top-20 equals batch top_k on a closed input") {
    val counts = StreamingOps.windowWordCounts(StreamingOps.docStream(spark, dir))
    @volatile var last = Array.empty[(java.sql.Timestamp, String, Long, Long)]
    val q = counts.writeStream
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the (b) half of the streaming top-k: rank the CURRENT counts
        last = StreamingOps.topWords(20)(b).collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      }
      .start()
    q.processAllAvailable(); q.stop()

    assert(last.map(_._1).distinct.length === 1, "closed input must land in one window")
    val got = last.sortBy(_._4).map(r => (r._2, r._3)).toSeq
    val expected = graft.queries.TextQueries.topK(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expected)
  }

  test("streaming followUps equals batch funnel_pairs (stream-stream interval join)") {
    val stream = StreamingOps.followUps(StreamingOps.eventStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("follow_ups")
      .outputMode("append") // stream-stream joins emit matches as they form
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("follow_ups")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expected = graft.queries.RelationalQueries.funnelPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.nonEmpty, "corpus produced no follow-up pairs — test is vacuous")
    assert(got === expected)
  }

  test("streaming noFollowUps: stalled anchors equal the batch anti-join on the watermark-expired prefix") {
    val q = StreamingOps.noFollowUps(StreamingOps.eventStream(spark, dir))
      .writeStream.format("memory").queryName("no_follow_ups")
      .outputMode("append") // outer-null rows emit on watermark expiry
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    val gotRows = spark.table("no_follow_ups").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gotRows.distinct.length === gotRows.length,
      "a stalled anchor was emitted more than once")
    val got = gotRows.toSet

    // batch truth: anchors with NO same-user event in (ta, ta + gap], µs axis
    import org.apache.spark.sql.functions.{col, expr}
    val ev = graft.Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gapUs = graft.queries.RelationalQueries.FunnelGapUs
    val byUser = ev.groupBy(_._2)
    val stalled = ev.filter { case (_, u, us) =>
      !byUser(u).exists { case (_, _, us2) => us2 > us && us2 <= us + gapUs }
    }.toSet
    // correctness: nothing emitted that actually has a follow-up
    assert(got.subsetOf(stalled),
      s"emitted anchors that HAVE a follow-up: ${(got -- stalled).take(3)}")
    // completeness on the watermark-expired prefix: the final watermark is
    // max event time − 1 h (the declared delay); an anchor is guaranteed
    // emitted once its window end is strictly past it (1 s slack keeps the
    // assertion off Spark's internal boundary predicate). Anchors younger
    // than that are ALLOWED to stay buffered — the documented outer-join
    // semantics on a closed input.
    val wmUs = ev.map(_._3).max - 3600L * 1000000L
    val mustEmit = stalled.filter { case (_, _, us) => us + gapUs + 1000000L < wmUs }
    assert(mustEmit.nonEmpty,
      "no anchor old enough to be watermark-expired — test is vacuous")
    assert(mustEmit.subsetOf(got),
      s"watermark-expired stalled anchors not emitted: ${(mustEmit -- got).take(3)}")
  }

  test("streaming propsStats equals batch props_stats on a closed input") {
    val stream = StreamingOps.propsStats(StreamingOps.eventStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("props_stats_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("props_stats_stream")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val expected = graft.queries.RelationalQueries.propsStats(spark, dir)
      .select("event_type", "n", "sum_k", "min_k", "max_k")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === expected)
  }

  test("streaming ohlcStream: final candles equal batch ohlc_daily on a closed input") {
    val q = StreamingOps.ohlcStream(StreamingOps.eventStream(spark, dir))
      .writeStream.format("memory").queryName("ohlc_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ohlc_stream").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    val expected = graft.queries.RelationalQueries.ohlcDaily(spark, dir)
      .collect().map { r =>
        val day = java.time.LocalDate.ofEpochDay(r.getLong(1)).toString
        (day, r.getString(0)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getLong(6))
      }.toMap
    assert(got === expected)
  }

  test("streaming dqMonitor: silent on the clean corpus; counts every injected violation") {
    // clean corpus: no violation rows at all
    val qc = StreamingOps.dqMonitor(StreamingOps.eventStream(spark, dir))
      .writeStream.format("memory").queryName("dq_clean")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    qc.processAllAvailable(); qc.stop()
    assert(spark.table("dq_clean").count() === 0L)

    // crafted violations: each check counts exactly its injected rows
    import spark.implicits._
    val tmp = tempDir("graft-dq").toString
    Seq(
      (1L, Some(1000000000L), Option(7L), "view", 1.0, "{}"),
      (2L, Some(1000000000L), None, "view", 1.0, "{}"),          // null_user
      (3L, None, Option(7L), "click", 1.0, "{}"),                // null_ts
      (4L, Some(1000000000L), Option(7L), "bogus", 1.0, "{}"),   // unknown_type
      (5L, Some(1000000000L), Option(7L), "view", -2.0, "{}"),   // negative_value
      (6L, Some(1000000000L), Option(7L), "view", -0.5, "{}"))   // negative_value
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stage")
    // the stream's pathGlobFilter matches LEAF file names — materialize a
    // single file literally named events.parquet, like the driver corpus
    val part = new java.io.File(s"$tmp/stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(tmp, "events.parquet"))
    val qv = StreamingOps.dqMonitor(StreamingOps.eventStream(spark, tmp))
      .writeStream.format("memory").queryName("dq_violations")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    qv.processAllAvailable(); qv.stop()
    val got = spark.table("dq_violations").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("null_user" -> 1L, "null_ts" -> 1L,
      "unknown_type" -> 1L, "negative_value" -> 2L))
  }

  test("streaming wordCounts equals batch wordcount on a closed input") {
    val stream = StreamingOps.wordCounts(StreamingOps.docStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("word_counts")
      .outputMode("complete") // append would wait for watermark-finalized windows

      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    // summed across ingest windows (a closed single-trigger input lands in
    // one or two windows at a minute boundary)
    val got = spark.table("word_counts")
      .groupBy("word").sum("cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = graft.queries.TextQueries.wordcount(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("streaming latestByKey equals batch latest_by_key (upsert view)") {
    val stream = StreamingOps.latestByKey(spark, StreamingOps.eventStream(spark, dir))
    val q = stream.toDF().writeStream
      .format("memory").queryName("latest_by_key_stream")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getDouble(4))
    // update mode re-emits a key only when its latest changes; on a closed
    // input the final emission per key is the materialized upsert row
    val got = spark.table("latest_by_key_stream").collect().map(key).toMap
    val expected = graft.queries.RelationalQueries.latestByKey(spark, dir)
      .collect().map(key).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("streaming skyline's final snapshot equals batch pareto_front") {
    val stream = StreamingOps.skylineStream(spark, StreamingOps.eventStream(spark, dir))
    val q = stream.toDF().writeStream
      .format("memory").queryName("skyline_stream")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    // each trigger re-emits a key's full frontier stamped with seq; the
    // current view is the rows at each key's max seq
    val rows = spark.table("skyline_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val lastSeq = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val got = rows.filter(r => r._2 == lastSeq(r._1))
      .map(r => (r._1, r._3, r._4, r._5)).toSet
    val expected = graft.queries.RelationalQueries.paretoFront(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("streaming trailingFeatures equals batch trailing_features per event") {
    val stream = StreamingOps.trailingFeaturesStream(
      spark, StreamingOps.eventStream(spark, dir))
    val q = stream.toDF().writeStream
      .format("memory").queryName("trailing_features_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4))
    val got = spark.table("trailing_features_stream")
      .select("event_id", "user_id", "n_7d", "cents_7d", "gap_ns")
      .collect().map(key).toMap
    val expected = graft.queries.RelationalQueries.trailingFeatures(spark, dir)
      .collect().map(key).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("streaming gram matrix equals batch gram_matrix bit-for-bit") {
    val stream = StreamingOps.gramStream(StreamingOps.embStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("gram_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4))
    val got = spark.table("gram_stream").collect().map(key).toMap
    val expected = graft.queries.SimilarityQueries.gramMatrix(spark, dir)
      .collect().map(key).toMap
    assert(got === expected)
    assert(got.size === 64 * 65 / 2)
  }

  test("streaming annProbeStream equals batch ann_ivf_kmeans on the closed query set") {
    // The probe job consumes the SAME k-means IVF index artifacts the
    // batch query builds (or reads back from the disk cache): on a closed
    // input the streamed per-query top-k must equal the batch rows
    // exactly — neighbor ids, ranks AND rounded scores.
    import org.apache.spark.sql.functions.col
    val queries = StreamingOps.embStream(spark, dir)
      .filter(col("vec_id") % graft.queries.SimilarityQueries.QueryMod === 0)
    val stream = StreamingOps.annProbeStream(spark, queries, dir)
    val q = stream.writeStream
      .format("memory").queryName("ann_probe_stream")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    // last update per (query, rank) wins (single closed input -> one trigger)
    val got = spark.table("ann_probe_stream")
      .select("query_id", "rank", "neighbor_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val expected = graft.queries.SimilarityQueries.annIvfKmeans(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got === expected)
    assert(got.nonEmpty, "no probe results on the closed input: broken index join")
  }

  test("streaming annProbeStream ranks a query that arrives twice once") {
    // the same query vectors delivered twice (two copies of the stream):
    // every candidate pair arrives twice, and the per-query top-k must
    // still hold each neighbour once, at the batch rank
    import org.apache.spark.sql.functions.col
    val queries = StreamingOps.embStream(spark, dir)
      .filter(col("vec_id") % graft.queries.SimilarityQueries.QueryMod === 0)
    val stream = StreamingOps.annProbeStream(spark, queries.union(queries), dir)
    val q = stream.writeStream
      .format("memory").queryName("ann_probe_stream_doubled")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    // every emitted row, not a map: a duplicated neighbour must show
    val got = spark.table("ann_probe_stream_doubled")
      .select("query_id", "rank", "neighbor_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    val expected = graft.queries.SimilarityQueries.annIvfKmeans(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getDouble(3)))
      .toSeq.sorted
    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("streaming annProbeScaledStream equals batch ann_ivf_scaled on the closed query set") {
    // Same contract as the fixed-capacity probe twin above, over the
    // capacity-law index: the stream consumes the SAME scaled codebook
    // and inverted-list artifacts batch ann_ivf_scaled builds (C derived
    // from the corpus row count), so on a closed input the streamed
    // per-query top-k must equal the batch rows exactly.
    import org.apache.spark.sql.functions.col
    val queries = StreamingOps.embStream(spark, dir)
      .filter(col("vec_id") % graft.queries.SimilarityQueries.QueryMod === 0)
    val stream = StreamingOps.annProbeScaledStream(spark, queries, dir)
    val q = stream.writeStream
      .format("memory").queryName("ann_probe_scaled_stream")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("ann_probe_scaled_stream")
      .select("query_id", "rank", "neighbor_id", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val expected = graft.queries.SimilarityQueries.annIvfScaled(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got === expected)
    assert(got.nonEmpty, "no probe results on the closed input: broken index join")
  }

  test("streaming manifest equals batch shard_manifest bit-for-bit") {
    val stream = StreamingOps.manifestStream(StreamingOps.docStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("manifest_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))
    val got = spark.table("manifest_stream").collect().map(key).toMap
    val expected = graft.queries.PipelineQueries.shardManifest(spark, dir)
      .collect().map(key).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("streaming conversionLag equals batch conversion_lag per user") {
    val stream = StreamingOps.conversionLagStream(
      spark, StreamingOps.eventStream(spark, dir))
    val q = stream.toDF().writeStream
      .format("memory").queryName("conversion_lag_stream")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        r.getBoolean(4)))
    // update mode re-emits on change; closed input in one trigger emits
    // each funnel user's final row exactly once
    val got = spark.table("conversion_lag_stream").collect().map(key).toMap
    val expected = graft.queries.RelationalQueries.conversionLag(spark, dir)
      .collect().map(key).toMap
    assert(got === expected)
    assert(got.nonEmpty)
    // every sf0.001 signup user happens to convert; the censored branch
    // is pinned by EventEdgeSpec's crafted batch test, and agreement
    // above covers whatever mix the corpus has
    assert(got.values.exists(_._4), "vacuous: no converted users")
  }

  test("streaming quality gate equals batch quality_score (stateless ingest transform)") {
    val stream = StreamingOps.qualityStream(StreamingOps.docStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("quality_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    val got = spark.table("quality_stream").collect().map(key).toMap
    val expected = graft.queries.TextQueries.qualityScore(spark, dir)
      .collect().map(key).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("streaming PII scrub equals batch pii_scrub (stateless ingest transform)") {
    val stream = StreamingOps.piiScrubStream(StreamingOps.eventStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("pii_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    val got = spark.table("pii_stream").collect().map(key).toMap
    val expected = graft.queries.RelationalQueries.piiScrub(spark, dir)
      .collect().map(key).toMap
    assert(got === expected)
    assert(got.nonEmpty)
    // vacuity guard: the digit-run stage must actually fire on this corpus
    assert(got.values.exists(_._4 > 0L), "vacuous: no <NUM> scrubs happened")
  }

  test("streaming chunker equals batch chunk_docs (stateless ingest transform)") {
    val stream = StreamingOps.chunkStream(StreamingOps.docStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("chunk_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))
    val got = spark.table("chunk_stream").collect().map(key).toMap
    val expected = graft.queries.TextQueries.chunkDocs(spark, dir)
      .collect().map(key).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }
}
