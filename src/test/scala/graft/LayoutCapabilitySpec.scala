package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Capability probes for the STORAGE-LAYOUT half of the 100 TB design:
  * the three levers that make petabyte joins and scans cheap are decided
  * at WRITE time, so each is pinned here as a mechanism test against
  * this engine's session configuration.
  *
  *  1. BUCKETED tables — pre-partitioning both fact tables on the join
  *     key turns order_revenue's two shuffle exchanges into zero: the
  *     recurring-join answer when the same key joins daily (an exchange
  *     over 100 TB per run vs none).
  *  2. PARTITIONED writes + partition PRUNING — a predicate on the
  *     partition column must prune directories at planning time
  *     (`PartitionFilters`), not filter rows after a full scan.
  *  3. Range-partitioned SORTED export — the zone-map/data-skipping
  *     layout: `repartitionByRange + sortWithinPartitions` yields
  *     globally ordered files without a single-partition global sort.
  */
class LayoutCapabilitySpec extends SparkTestBase {

  private def freshDir(tag: String): String = tempDir(s"graft-$tag").toString

  test("bucketed fact tables join with ZERO exchanges (the recurring-join layout)") {
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      val n = 10000
      val a = spark.range(0, n).toDF("k")
        .select(col("k"), (col("k") * 3).as("va"))
      val b = spark.range(0, n).toDF("k")
        .select(col("k"), (col("k") % 7).as("vb"))
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
      // same bucket count + key both sides; sortBy makes the SMJ sort a
      // no-op read order too
      a.write.bucketBy(4, "k").sortBy("k").saveAsTable("graft_bkt_a")
      b.write.bucketBy(4, "k").sortBy("k").saveAsTable("graft_bkt_b")

      val joined = spark.table("graft_bkt_a")
        .join(spark.table("graft_bkt_b"), "k")
        .select(col("k"), col("va"), col("vb"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed-bucketed equi-join must plan WITHOUT any shuffle:\n$plan")

      val rows = joined.collect()
      assert(rows.length === n)
      rows.foreach(r => assert(r.getLong(1) === r.getLong(0) * 3 &&
        r.getLong(2) === r.getLong(0) % 7))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
      saved match {
        case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None    => conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("partitionBy write + predicate prunes directories at planning time") {
    val out = freshDir("part")
    Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .write.mode("overwrite").partitionBy("source").parquet(out)

    val sources = Tables(spark, sf("sf0.001"), "documents")
      .select("source").distinct().collect().map(_.getString(0))
    assert(sources.length > 1, "need >1 partition for pruning to be observable")
    val one = sources.min

    val pruned = spark.read.parquet(out).filter(col("source") === one)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters"), s"expected PartitionFilters in:\n$planStr")
    // planning-time proof: the scan SELECTS only the matching directory
    // (DataFrame.inputFiles reports the unfiltered relation, so inspect
    // the scan node's selected partitions instead)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val selected = scan.selectedPartitions
    assert(selected.partitionCount === 1,
      s"expected 1 selected partition dir, got ${selected.partitionCount}")

    // and the pruned read returns exactly that partition's rows
    val want = Tables(spark, sf("sf0.001"), "documents")
      .filter(col("source") === one).count()
    assert(pruned.count() === want)
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at RUNTIME") {
    // the 100 TB star-join mechanism static pruning can't give you: the
    // kept partition set is only known after FILTERING THE DIM (here a
    // non-partition attribute), so the optimizer must inject a runtime
    // dynamicpruning subquery into the fact scan's partition filters
    import spark.implicits._
    val out = freshDir("dpp")
    val dayNs = 86400000000000L
    Tables(spark, sf("sf0.001"), "events")
      .select(col("event_id"), col("user_id"),
        expr(s"ts div $dayNs").as("day"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val fact = spark.read.parquet(out)
    // partition-dir values are type-inferred on read (int here) — normalize
    val days = fact.select(col("day").cast("long")).distinct().collect()
      .map(_.getLong(0)).sorted
    assert(days.length > 1, "need >1 day partition for DPP to be observable")
    // dim: the kept day is encoded in a NON-partition attribute, so
    // planning-time pruning cannot resolve it
    // dim's day matches the fact's inferred partition type exactly (a cast
    // on the fact's join key would block the pruning-filter insertion) and
    // the dim is PARQUET-BACKED: over a LocalRelation the tag filter
    // constant-folds away and no selective predicate remains for the
    // pruning rule to latch onto
    val dayType = fact.schema("day").dataType
    val dimDir = freshDir("dpp-dim")
    days.zipWithIndex
      .map { case (d, i) => (d, if (i == 0) "keep" else "drop") }
      .toSeq.toDF("day", "tag")
      .withColumn("day", col("day").cast(dayType))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val q = fact.join(dim.filter(col("tag") === "keep"), "day")
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in the fact scan:\n$planStr")
    // and the result is exactly the kept day's rows
    val want = fact.filter(col("day") === days.head).count()
    assert(q.count() === want && want > 0)
  }

  test("CSV ingest: explicit schema round-trips types; no inference scan") {
    val out = freshDir("csv")
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    docs.write.mode("overwrite").option("header", "true").csv(out)

    // explicit schema: no inferSchema (which would cost a FULL extra pass
    // over 100 TB before the real scan), exact types preserved
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType)))
    val back = spark.read.schema(schema).option("header", "true").csv(out)
    assert(back.schema === schema)
    val a = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val b = back.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(a === b)
  }

  test("JSONL ingest: schema round-trip; malformed rows quarantine, not crash") {
    val out = freshDir("jsonl")
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    docs.write.mode("overwrite").json(out)

    // drop a malformed file into the ingest dir the way a real crawl
    // delivery arrives: one truncated JSON line (a fresh file, not an
    // edit of Spark's own part file — those carry .crc sidecars)
    Files.write(Paths.get(out, "part-truncated.json"),
      java.util.Arrays.asList("{\"doc_id\": 999999, \"source\": \"src0\", \"n_ch"))

    val schema = docs.schema
      .add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val back = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(out).cache()
    try {
      // every good row survives with exact types...
      val good = back.filter(col("_corrupt_record").isNull)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = docs.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(good === want)
      // ...and the malformed line lands in the quarantine column (a
      // 100 TB ingest must never abort on one truncated record)
      val bad = back.filter(col("_corrupt_record").isNotNull).collect()
      assert(bad.length === 1)
      assert(bad(0).getAs[String]("_corrupt_record").contains("n_ch"))
    } finally back.unpersist()
  }

  test("repartitionByRange + sortWithinPartitions exports globally ordered files") {
    val out = freshDir("sorted")
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .select(col("doc_id"), col("n_chars"))
    docs.repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(out)

    // within every output file rows are sorted, and the files' id RANGES
    // are disjoint — together: a global order with no single-task sort
    val parts = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet"))
    assert(parts.length > 1, s"range partitioner produced ${parts.length} file(s)")
    val ranges = parts.map { p =>
      val ids = spark.read.parquet(p).select("doc_id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted), s"file $p not internally sorted")
      (ids.min, ids.max)
    }
    val byMin = ranges.sortBy(_._1)
    byMin.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file ranges overlap: max $hi >= next min $lo2")
      case _ =>
    }
    // nothing lost in the reshape
    assert(spark.read.parquet(out).count() === docs.count())
  }

  test("Avro ingest: explicit reader schema round-trips, projects, and evolves") {
    // The last mainstream warehouse format without a pin (CSV/JSONL/
    // parquet/ORC covered). The spark-avro connector module is not on
    // this classpath, so ingest goes through graft.sources.AvroSource —
    // a splittable AvroKeyInputFormat scan decoding against an explicit
    // reader schema. The probe mirrors the CSV/JSONL ones: exact-type
    // round-trip, decode-level projection, and additive schema evolution
    // (a reader field missing from the writer arrives as NULL, the
    // contract that lets a 100 TB backfill read old and new deliveries
    // with ONE schema).
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val out = freshDir("avro")
    val writerSchema = new Schema.Parser().parse(
      """{"type":"record","name":"doc","fields":[
        |  {"name":"doc_id","type":"long"},
        |  {"name":"lang","type":["null","string"],"default":null},
        |  {"name":"n_chars","type":"long"}]}""".stripMargin)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](writerSchema))
    w.create(writerSchema, new java.io.File(s"$out/part-0.avro"))
    val data = Seq((1L, "en", 120L), (2L, "de", 77L), (3L, null, 900L))
    data.foreach { case (id, lang, n) =>
      val r = new GenericData.Record(writerSchema)
      r.put("doc_id", id); r.put("lang", lang); r.put("n_chars", n)
      w.append(r)
    }
    w.close()

    import org.apache.spark.sql.types._
    // 1) full round-trip with exact types (nullable string survives)
    val full = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("n_chars", LongType)))
    val back = graft.sources.AvroSource.read(spark, out, full)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      full.map(f => (f.name, f.dataType)))
    assert(back.collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSet
      === data.toSet)

    // 2) projection: a 2-of-3-field reader schema decodes (the resolving
    // decoder SKIPS the dropped field at the byte level — the row-format
    // analogue of parquet column pruning)
    val proj = StructType(Seq(StructField("doc_id", LongType),
      StructField("n_chars", LongType)))
    val projected = graft.sources.AvroSource.read(spark, out, proj)
    assert(projected.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === data.map(d => (d._1, d._3)).toSet)

    // 3) additive evolution: a reader field the writer never had arrives
    // as NULL for every record, not as a crash
    val evolved = StructType(Seq(StructField("doc_id", LongType),
      StructField("quality", DoubleType)))
    val ev = graft.sources.AvroSource.read(spark, out, evolved)
    val got = ev.collect()
    assert(got.map(_.getLong(0)).toSet === data.map(_._1).toSet)
    assert(got.forall(_.isNullAt(1)), "missing writer field must read as NULL")

    // ...and the DataFrame composes with the engine like any other source
    assert(back.filter(col("n_chars") > 100L).count() === 2)
  }

  test("Avro export: engine-written container files re-ingest, evolve, and split per partition") {
    // The write half of the Avro surface (ORC's round-trip probe, for the
    // row format): a delivery this engine EXPORTS must come back through
    // its own reader, resolve under additive evolution, and be readable
    // by a plain Avro consumer — the handoff contract to a non-Spark
    // warehouse. Written distributed: one container file per partition
    // (no driver funnel), each splittable on re-ingest.
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val out = s"${freshDir("avro-export")}/docs"
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("payload", BinaryType),
      StructField("score", DoubleType)))
    val data = Seq(
      Row(1L, "en", Array[Byte](1, 2, 3), 0.5),
      Row(2L, null, Array[Byte](), 1.25),
      Row(3L, "de", null, -2.0),
      Row(4L, "fr", Array[Byte](-1, 0, 127), 0.0))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), schema)
    graft.sources.AvroSource.write(df, out)

    // one container file per partition, written in parallel
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(parts.length === 2, "expected one Avro container file per partition")

    // 1) round trip through the engine's own reader: exact values incl.
    // NULLs and binary payloads
    val back = graft.sources.AvroSource.read(spark, out, schema).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).orNull,
        Option(r.getAs[Array[Byte]](2)).map(_.toSeq).orNull, r.getDouble(3))).toSet
    assert(back === data.map(r => (r.getLong(0), r.getString(1),
      Option(r.getAs[Array[Byte]](2)).map(_.toSeq).orNull, r.getDouble(3))).toSet)

    // 2) additive evolution over engine-written files: a reader field the
    // export never had arrives as NULL
    val evolved = StructType(Seq(StructField("doc_id", LongType),
      StructField("quality", DoubleType)))
    val ev = graft.sources.AvroSource.read(spark, out, evolved).collect()
    assert(ev.map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
    assert(ev.forall(_.isNullAt(1)))

    // 3) a PLAIN Avro consumer (no Spark) reads the files — the written
    // schema is self-describing standard Avro, not an engine dialect
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val plain = parts.flatMap { f =>
      val rd = DataFileReader.openReader(f,
        new GenericDatumReader[GenericRecord]())
      try {
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        while (rd.hasNext) {
          val rec = rd.next()
          buf += ((rec.get("doc_id").asInstanceOf[Long],
            Option(rec.get("lang")).map(_.toString).orNull))
        }
        buf
      } finally rd.close()
    }.toSet
    assert(plain === Set((1L, "en"), (2L, null), (3L, "de"), (4L, "fr")))

    // 4) the flat-schema boundary fails FAST at plan time with the
    // pointed error, not per-task at write time
    val nested = spark.range(1).selectExpr("array(id) AS ids")
    val err = intercept[IllegalArgumentException] {
      graft.sources.AvroSource.write(nested, s"$out-nested")
    }
    assert(err.getMessage.contains("unsupported field type"))
  }

  test("ORC round-trip: types survive; predicates push down to the ORC scan") {
    // Parquet is the house format, but a lakehouse ingests what it is
    // handed — ORC is the other columnar wire format (Hive-lineage
    // deliveries). Pin that the second format is a first-class SOURCE:
    // exact type round-trip, and filter pushdown reaching the ORC scan
    // (an ORC reader without pushed predicates re-reads every stripe of
    // a 100 TB delivery).
    val out = freshDir("orc")
    val ev = Tables(spark, sf("sf0.001"), "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
    ev.write.mode("overwrite").orc(out)

    val back = spark.read.orc(out)
    assert(back.schema === ev.schema, "ORC must round-trip the exact schema")
    val a = ev.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = back.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)

    val filtered = back.filter(col("user_id") === 7L).select("event_id", "value")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("EqualTo(user_id,7)"),
      s"user_id predicate must reach the ORC scan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("ts:"),
      "column pruning must drop unreferenced ts from the ORC ReadSchema")
    assert(filtered.count() === ev.filter(col("user_id") === 7L).count())
  }

  test("gzip text ingest: correct but NON-SPLITTABLE — one task per file, " +
      "however small maxPartitionBytes is") {
    // The 100 TB ingestion rule this pins: a .gz crawl dump reads
    // CORRECTLY but each file is a single un-splittable task — a 10 GB
    // .gz member caps that file's parallelism at 1 regardless of
    // cluster size. Prefer splittable codecs (bzip2) or many small
    // members at write time; Spark decompresses transparently either
    // way, so the failure mode is silent slowness, never wrong rows.
    val out = Paths.get(freshDir("gz"))
    val lines = (0 until 5000).map(i => s"line-$i payload ${"x" * 40}")
    val parts = lines.grouped(2500).zipWithIndex.toSeq
    parts.foreach { case (chunk, i) =>
      val gz = new java.util.zip.GZIPOutputStream(
        Files.newOutputStream(out.resolve(s"part-$i.txt.gz")))
      try gz.write(chunk.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally gz.close()
    }
    val saved = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    try {
      // tiny split target: a SPLITTABLE source would fan out to many
      // tasks; gzip must still plan exactly one partition per file
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      val gzDf = spark.read.text(out.toString)
      assert(gzDf.rdd.getNumPartitions === parts.size,
        "gzip files must plan exactly one partition per file (non-splittable)")
      assert(gzDf.collect().map(_.getString(0)).sorted.toSeq === lines.sorted,
        "transparent decompression must round-trip every line")
      // contrast: the same lines uncompressed DO split under the same cap
      val plainDir = freshDir("gz-plain")
      parts.foreach { case (chunk, i) =>
        Files.write(Paths.get(plainDir, s"part-$i.txt"),
          chunk.mkString("", "\n", "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      val plainDf = spark.read.text(plainDir)
      assert(plainDf.rdd.getNumPartitions > parts.size,
        "uncompressed text must split beyond one task per file under the cap")
      assert(plainDf.count() === lines.size.toLong)
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }
}
