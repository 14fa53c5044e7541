package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, FloatType,
  LongType, TimestampNTZType, TimestampType}

import graft.queries.Memo

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries read via this single entry so that source options (and, at
  * cluster scale, bucketing/partition layout hints) are applied uniformly.
  * Parquet scans get predicate pushdown + column pruning from Catalyst for
  * free; every query below selects only the columns it needs so the
  * `ReadSchema` stays minimal at 100 TB.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Loader memo, round-17 optimization (guide §6 "file listing"): every
    * `spark.read.parquet` call pays a driver-side file listing + footer
    * schema read + InMemoryFileIndex build — measured 0.1-0.45 s of pure
    * DataFrame-CONSTRUCTION time per query at sf0.1 (PhaseProfile), since
    * most queries load 1-6 tables and some (dq_audit) load six. The
    * LOGICAL PLAN of a base table is identical across every query in a
    * session, so build it once per (session, dir, table) and let each
    * query graft its own transforms on top. This caches *metadata only*
    * (the relation + its file index — the same thing
    * `spark.sql.hive.filesourcePartitionFileCacheSize` caches for catalog
    * tables); no row data is persisted, every query still scans parquet.
    * At 100 TB the listing is minutes of driver time per query without
    * this. Entries evict when the owning SparkContext ends
    * ([[graft.queries.Memo.memoizeValue]]). Staleness: a caller that
    * rewrites a table in-place mid-session would read the old file list —
    * the engine's corpora are immutable per directory (generators write
    * fresh dirs), same contract as the queries' disk-cached artifacts.
    */
  private val tableMemo = Memo.table()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    Memo.memoizeValue(tableMemo, spark, s"$dir/$name") {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      name match {
        case "events" => normalizeEventTs(spark, df)
        case "orders" =>
          normalizeMoney(normalizeNaiveTs(spark, df, "o_orderdate"),
            "orders", Seq("o_totalprice"))
        case "lineitem" =>
          normalizeMoney(normalizeNaiveTs(spark, df, "l_shipdate"),
            "lineitem", Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        case _ => df
      }
    }

  /** Normalize `events.ts` to the engine-wide logical contract: **BIGINT
    * nanoseconds since the epoch**, whatever physical type the parquet file
    * carries. Every downstream time-axis query does exact integer bucket
    * arithmetic (`ts div 86400000000000` etc.) against this contract, so the
    * conversion must be lossless — and it is for every arrival type:
    *
    *  - `LongType`: the file is parquet TIMESTAMP(NANOS) read under
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (pinned at session build
    *    by every entry point) — already nanos, pass through.
    *  - `TimestampType` (TIMESTAMP(MICROS) adjusted-to-UTC): `unix_micros`
    *    returns the stored 64-bit micros exactly; `* 1000L` to nanos is an
    *    exact integer multiply (micros ⊂ nanos).
    *  - `TimestampNTZType` (TIMESTAMP(MICROS) isAdjustedToUTC=false — what
    *    pandas/pyarrow write and Spark 4 infers as NTZ): the NTZ→TIMESTAMP
    *    cast reinterprets the wall-clock in the session zone, which is the
    *    identity on the stored micros only under UTC — required here, and
    *    pinned at session build by every entry point (the asof_join UTC
    *    standard, RelationalQueries.asofJoin).
    *
    * The normalization is a projection on the scan output: column pruning
    * and pushdown of predicates on OTHER columns are unaffected, and a
    * time-range predicate on the derived `ts` is a monotone function of the
    * physical column, which Catalyst constant-folds back through the
    * multiply for literal comparisons.
    */
  private[graft] def normalizeEventTs(spark: SparkSession, df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) via nanosAsLong: already the contract
      case TimestampType =>
        df.withColumn("ts", microsToNanos(unix_micros(col("ts"))))
      case TimestampNTZType =>
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts arrived as TIMESTAMP_NTZ; the lossless reinterpretation " +
            "to epoch nanos requires spark.sql.session.timeZone=UTC — set it " +
            "at SparkSession build (every graft entry point does)")
        df.withColumn("ts", microsToNanos(unix_micros(col("ts").cast(TimestampType))))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported physical type $other; expected BIGINT " +
            "nanos, TIMESTAMP, or TIMESTAMP_NTZ")
    }

  private def microsToNanos(micros: Column): Column = micros * lit(1000L)

  /** Normalize a naive-wall-clock time axis (`o_orderdate`, `l_shipdate`)
    * to the engine-wide logical contract **TIMESTAMP_NTZ**, whatever
    * physical flavor a driver-side testdata refresh writes. Round 7 lost
    * 14 queries when ONE table's timestamp physical type silently changed;
    * `normalizeEventTs` hardened events only — this closes the same class
    * for the other two time axes. Lossless for every arrival type:
    *
    *  - `TimestampNTZType` (parquet TIMESTAMP(MICROS) isAdjustedToUTC=false,
    *    what pandas/pyarrow write and Spark 4 infers as NTZ): the contract,
    *    pass through.
    *  - `TimestampType` (isAdjustedToUTC=true): the TIMESTAMP→NTZ cast
    *    renders the instant as a wall-clock in the session zone — the
    *    identity on the stored micros only under UTC, which every graft
    *    entry point pins (same rule as [[normalizeEventTs]]).
    *  - `DateType`: widen to midnight NTZ — exact, and the same promotion
    *    DuckDB applies when a DATE meets a timestamp comparison, so the
    *    oracle SQL needs no change.
    *
    * A projection on the scan output: pruning/pushdown on other columns is
    * unaffected; literal range predicates on the normalized column fold
    * back through the cast.
    */
  private[graft] def normalizeNaiveTs(spark: SparkSession, df: DataFrame,
      c: String): DataFrame =
    df.schema(c).dataType match {
      case TimestampNTZType => df
      case TimestampType =>
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          s"$c arrived as TIMESTAMP (adjusted-to-UTC); the lossless " +
            "reinterpretation to TIMESTAMP_NTZ requires " +
            "spark.sql.session.timeZone=UTC — set it at SparkSession build " +
            "(every graft entry point does)")
        df.withColumn(c, col(c).cast(TimestampNTZType))
      case DateType => df.withColumn(c, col(c).cast(TimestampNTZType))
      case other =>
        throw new IllegalArgumentException(
          s"$c: unsupported physical type $other; expected TIMESTAMP_NTZ, " +
            "TIMESTAMP, or DATE — teach Tables.normalizeNaiveTs the new " +
            "flavor before trusting any downstream query")
    }

  /** Normalize decimal-intent numeric columns to the engine-wide logical
    * contract **DOUBLE**. The money/quantity arithmetic everywhere
    * (RelationalQueries.intSum) assumes 2-dec doubles; a driver refresh to
    * parquet DECIMAL(p,2) or FLOAT must not surface as scattered
    * DATATYPE_MISMATCHes. DECIMAL(p,≤15)→double and float→double casts are
    * value-exact for the generator's 2-dec magnitudes; anything else is
    * rejected loudly.
    */
  private[graft] def normalizeMoney(df: DataFrame, table: String,
      cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case DoubleType => d
        case _: DecimalType | FloatType => d.withColumn(c, col(c).cast(DoubleType))
        case other =>
          throw new IllegalArgumentException(
            s"$table.$c: unsupported physical type $other; expected DOUBLE " +
              "(or DECIMAL/FLOAT, which normalize losslessly) — teach " +
              "Tables.normalizeMoney the new flavor first")
      }
    }

  /** Spread `df` across the session's parallelism ONLY when the scan
    * itself cannot (fewer split partitions than cores). The test corpus
    * ships as one tiny single-row-group parquet file, which the scan cannot
    * split — without the repartition every per-document CPU-heavy stage
    * (tokenize, shingle, hash) runs on one thread. At real scale the scan
    * splits into >= cores partitions naturally, the condition is false, and
    * NO shuffle is prepended — an unconditional `repartition` would re-move
    * every byte of a 100 TB corpus before every text query.
    *
    * When it does fire, the partition count is pinned to
    * `defaultParallelism` (total cores): a bare `repartition(col)` lets AQE
    * size the exchange by shuffle *bytes*, and a few MB of raw text
    * coalesces to ONE partition — which serializes every downstream
    * per-document kernel (observed: a 32-core bench pinned at one core for
    * minutes). CPU-heavy, small-byte stages must pin their width
    * explicitly; AQE only sees bytes.
    *
    * `df.rdd.getNumPartitions` is planning-only (file listing + split
    * arithmetic — no Spark job), so the check itself is cheap.
    */
  private def spread(spark: SparkSession, df: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cores = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores, col(key)) else df
  }

  /** `documents`, conditionally spread (see [[spread]]). Memoized like
    * [[apply]]: the spread decision's `rdd.getNumPartitions` planning walk
    * is also once per (session, dir).
    */
  def docs(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeValue(tableMemo, spark, s"$dir#docs-spread")(
      spread(spark, apply(spark, dir, "documents"), "doc_id"))

  /** `embeddings`, conditionally spread like [[docs]]. */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    Memo.memoizeValue(tableMemo, spark, s"$dir#emb-spread")(
      spread(spark, apply(spark, dir, "embeddings"), "vec_id"))
}
