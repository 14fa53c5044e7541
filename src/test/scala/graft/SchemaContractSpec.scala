package graft

import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types._

/** Drift-proof assertions of each table's LOGICAL contract — what queries
  * may assume after `Tables.apply` — checked directly against the live
  * `/root/testdata`, so a driver-side regeneration in a new PHYSICAL type
  * fails HERE with a pointed message instead of as 14 scattered
  * `DATATYPE_MISMATCH`es deep inside query plans (the round-7 failure mode:
  * events.ts flipped parquet TIMESTAMP(NANOS) → TIMESTAMP(MICROS) and every
  * time-axis query broke at analysis).
  *
  * The contract is on the LOADER OUTPUT, not the file: `Tables` owns the
  * physical→logical normalization (`Tables.normalizeEventTs`), and this
  * suite is red if the loader stops delivering it — whatever the files say.
  */
class SchemaContractSpec extends SparkTestBase {

  private val dir = sf("sf0.001")

  private def assertField(df: org.apache.spark.sql.DataFrame, table: String)(
      name: String, expected: DataType): Unit = {
    val actual = df.schema.find(_.name == name).getOrElse(
      fail(s"CONTRACT: $table.$name missing — testdata regenerated with a " +
        s"new column set? (have: ${df.schema.fieldNames.mkString(", ")})")
    ).dataType
    assert(actual == expected,
      s"CONTRACT: $table.$name must load as $expected, got $actual — if the " +
        "driver regenerated testdata in a new physical type, teach " +
        "Tables.apply to normalize it (see Tables.normalizeEventTs)")
  }

  test("events: ts loads as BIGINT epoch-NANOS whatever the file's physical type") {
    val e = Tables(spark, dir, "events")
    val check = assertField(e, "events") _
    check("ts", LongType)
    check("event_id", LongType)
    check("user_id", LongType)
    check("event_type", StringType)
    check("value", DoubleType)
    check("props", StringType)

    // Unit check, not just type check: a micros value mis-labeled as nanos
    // is ~1000x too small and lands centuries before any plausible event.
    // Bounds: 2000-01-01 and 2100-01-01 as epoch nanos.
    val Row = e.agg(min(col("ts")), max(col("ts"))).head()
    val (lo, hi) = (Row.getLong(0), Row.getLong(1))
    val y2000 = 946684800L * 1000000000L
    val y2100 = 4102444800L * 1000000000L
    assert(lo >= y2000 && hi < y2100,
      s"CONTRACT: events.ts range [$lo, $hi] is outside [2000, 2100) as " +
        "epoch-nanos — the loader is mis-scaling the timestamp unit " +
        "(micros/millis read as nanos, or vice versa)")
  }

  test("documents: text corpus contract") {
    val d = Tables(spark, dir, "documents")
    val check = assertField(d, "documents") _
    check("doc_id", LongType)
    check("text", StringType)
    check("lang", StringType)
    check("source", StringType)
    check("n_chars", LongType)
  }

  test("embeddings: vector contract") {
    val v = Tables(spark, dir, "embeddings")
    val check = assertField(v, "embeddings") _
    check("vec_id", LongType)
    check("embedding", ArrayType(FloatType))
    check("label", IntegerType)
  }

  test("orders/lineitem: time axes load as exactly TIMESTAMP_NTZ, money as DOUBLE") {
    // Tables.normalizeNaiveTs/normalizeMoney now own the physical→logical
    // mapping for these tables the way normalizeEventTs owns events.ts, so
    // the loader output is pinned to ONE flavor — not a set of acceptable
    // ones. A driver refresh to TIMESTAMP/DATE/DECIMAL lands losslessly on
    // the same contract; anything else fails inside Tables with a pointed
    // message instead of 14 scattered plan errors (the round-7 class).
    assertField(Tables(spark, dir, "orders"), "orders")("o_orderdate", TimestampNTZType)
    assertField(Tables(spark, dir, "lineitem"), "lineitem")("l_shipdate", TimestampNTZType)
    assertField(Tables(spark, dir, "orders"), "orders")("o_totalprice", DoubleType)
    assertField(Tables(spark, dir, "lineitem"), "lineitem")("l_extendedprice", DoubleType)
    assertField(Tables(spark, dir, "lineitem"), "lineitem")("l_quantity", DoubleType)
    assertField(Tables(spark, dir, "lineitem"), "lineitem")("l_discount", DoubleType)
    assertField(Tables(spark, dir, "lineitem"), "lineitem")("l_tax", DoubleType)
  }

  test("simulated testdata drift: TIMESTAMP/DATE/DECIMAL arrivals normalize losslessly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, lit}
    // TIMESTAMP (adjusted-to-UTC) arrival → NTZ, identity on the micros under UTC
    val asTs = Seq("1997-03-15 12:34:56.789012").toDF("s")
      .select(expr("cast(s as timestamp)").as("o_orderdate"))
    val ntz = Tables.normalizeNaiveTs(spark, asTs, "o_orderdate")
    assert(ntz.schema("o_orderdate").dataType == TimestampNTZType)
    assert(ntz.select(expr("cast(o_orderdate as string)")).head().getString(0)
      == "1997-03-15 12:34:56.789012")
    // DATE arrival → midnight NTZ (the same promotion DuckDB applies)
    val asDate = Seq("1997-03-15").toDF("s")
      .select(expr("cast(s as date)").as("l_shipdate"))
    val fromDate = Tables.normalizeNaiveTs(spark, asDate, "l_shipdate")
    assert(fromDate.schema("l_shipdate").dataType == TimestampNTZType)
    assert(fromDate.select(expr("cast(l_shipdate as string)")).head().getString(0)
      == "1997-03-15 00:00:00")
    // DECIMAL(12,2) arrival → DOUBLE, exact at 2-dec magnitudes
    val asDec = Seq(1L).toDF("k")
      .select(expr("cast(12345.67 as decimal(12,2))").as("o_totalprice"))
    val dbl = Tables.normalizeMoney(asDec, "orders", Seq("o_totalprice"))
    assert(dbl.schema("o_totalprice").dataType == DoubleType)
    assert(dbl.head().getDouble(0) == 12345.67)
    // an unteachable flavor is rejected loudly, not absorbed silently
    val asStr = Seq("1997-03-15").toDF("o_orderdate")
    val e = intercept[IllegalArgumentException] {
      Tables.normalizeNaiveTs(spark, asStr, "o_orderdate")
    }
    assert(e.getMessage.contains("normalizeNaiveTs"))
    val badMoney = Seq("x").toDF("o_totalprice")
    val e2 = intercept[IllegalArgumentException] {
      Tables.normalizeMoney(badMoney, "orders", Seq("o_totalprice"))
    }
    assert(e2.getMessage.contains("normalizeMoney"))
  }

  test("dimension tables: every join key and queried column keeps its type") {
    // the columns the inventory actually joins/filters/aggregates on —
    // a silent INT32/INT64 flip on a join key would break every query
    // downstream of it with far murkier symptoms than this message
    // nation/region keys ship as INT32 (and their foreign refs with them);
    // the corpus-sized keys are INT64 — joins coerce, but a flip WIDENING
    // would silently change join/agg hash behavior, so both are pinned
    val contracts: Seq[(String, String, DataType)] = Seq(
      ("region", "r_regionkey", IntegerType), ("region", "r_name", StringType),
      ("nation", "n_nationkey", IntegerType), ("nation", "n_regionkey", IntegerType),
      ("nation", "n_name", StringType),
      ("customer", "c_custkey", LongType), ("customer", "c_nationkey", IntegerType),
      ("customer", "c_name", StringType), ("customer", "c_mktsegment", StringType),
      ("supplier", "s_suppkey", LongType), ("supplier", "s_nationkey", IntegerType),
      ("part", "p_partkey", LongType),
      ("orders", "o_orderkey", LongType), ("orders", "o_custkey", LongType),
      ("orders", "o_orderpriority", StringType),
      ("lineitem", "l_orderkey", LongType), ("lineitem", "l_partkey", LongType),
      ("lineitem", "l_suppkey", LongType),
      ("lineitem", "l_returnflag", StringType), ("lineitem", "l_linestatus", StringType),
      ("lineitem", "l_discount", DoubleType), ("lineitem", "l_tax", DoubleType))
    contracts.groupBy(_._1).foreach { case (table, cols) =>
      val df = Tables(spark, dir, table)
      cols.foreach { case (_, name, t) => assertField(df, table)(name, t) }
    }
  }

  test("events: exact column set (a driver-side add/drop surfaces here first)") {
    val have = Tables(spark, dir, "events").schema.fieldNames.toSet
    val want = Set("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(have == want,
      s"CONTRACT: events columns changed — extra: ${have -- want}, " +
        s"missing: ${want -- have}; audit every events query before trusting green")
  }

  test("declared outputs: every SparkEntry query emits only driver-sortable scalar columns") {
    // The driver's correctness comparator order-normalizes each result with
    // a pandas sort before hashing; a nested cell (numpy.ndarray, dict,
    // Row) is unhashable there and the query is red REGARDLESS of engine
    // correctness (round-8 incident: user_journey's ARRAY column). Rule:
    // the DECLARED surface encodes sequences as delimited scalars
    // (user_journey's concat_ws(">")) and binary as hex (the multimodal
    // queries) — nested/binary-valued forms live as non-declared APIs.
    // Schema derivation is analysis-only, so this lints all entries cheaply.
    def banned(t: DataType): Boolean = t match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => true
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, dir).schema.fields.collect {
          case f if banned(f.dataType) =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      "CONTRACT: declared query outputs must be driver-sortable scalars " +
        "(no ARRAY/MAP/STRUCT/BINARY — encode sequences with concat_ws, " +
        s"binary as hex). Offenders: ${offenders.mkString("; ")}")
  }

  test("streaming eventStream delivers the same BIGINT-nanos contract as batch") {
    import graft.streaming.StreamingOps
    val s = StreamingOps.eventStream(spark, dir)
    assert(s.isStreaming, "eventStream must be a streaming DataFrame")
    assert(s.schema("ts").dataType == LongType,
      s"CONTRACT: streaming events.ts must normalize to BIGINT nanos, got " +
        s"${s.schema("ts").dataType} — StreamingOps.eventStream must sniff " +
        "the on-disk type and apply Tables.normalizeEventTs")
  }

  test("eventStream on a not-yet-produced directory still normalizes (sniff fallback)") {
    // a stream started ahead of its producer has no footer to sniff: the
    // fallback schema must assume the current generator's micros flavor
    // and the normalized contract must hold unchanged
    import graft.streaming.StreamingOps
    val empty = tempDir("graft-empty-stream")
    val s = StreamingOps.eventStream(spark, empty.toString)
    assert(s.isStreaming)
    assert(s.schema("ts").dataType == LongType,
      "CONTRACT: the empty-dir fallback schema must still normalize ts to " +
        "BIGINT nanos")
  }
}
