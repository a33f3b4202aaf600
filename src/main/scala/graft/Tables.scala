package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated parquet tables (TESTDATA.md) plus
  * shared column helpers used across query definitions.
  *
  * Scale notes: every reader is a plain parquet scan so Catalyst can push
  * filters/column pruning straight into the scan. Dimension tables
  * (`region`, `nation`, `supplier`) stay small at any SF and are always
  * joined with an explicit `broadcast(...)` hint by callers.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Eager, CLOSED directory listing. `Files.list` returns a stream
    * holding an open directory handle; draining it via `.iterator`
    * without closing leaks the handle (one per staged slice across the
    * harness stagings). All call sites list small scratch/metadata
    * dirs, so materializing is free. */
  private[graft] def listDir(
      dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.toVector
    } finally st.close()
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Raw `events` scan exactly as encoded on disk. The testdata
    * generator has shipped `ts` as BOTH parquet TIMESTAMP(NANOS) (rounds
    * ≤10) and plain TIMESTAMP µs (round 11+), so nothing may assume one
    * encoding (the round-11 regeneration silently broke every consumer
    * that did). A NANOS file reads back as a raw long (the session's
    * `nanosAsLong`, set in [[GraftSession.local]]); a µs file arrives
    * as TIMESTAMP_NTZ. Consumers must stay encoding-agnostic via
    * [[normalizeTs]] / [[tsMicros]] / [[tsRawValue]] — never hand-roll
    * `ts div 1000`.
    */
  def eventsRaw(s: SparkSession, d: String): DataFrame = table(s, d, "events")

  /** Normalize a raw events frame (batch OR streaming — only the schema
    * is consulted) so `ts` is a µs-precision TimestampType:
    *  - nanos-as-long → `timestamp_micros(ts div 1000)`. Integer `div`,
    *    NOT `/`: epoch nanos (~1.7e18) exceed double's 2^53 integer
    *    precision, so float division rounds the microsecond off by one;
    *    `div` truncates exactly like DuckDB's nanos→micros read.
    *  - TIMESTAMP_NTZ / TIMESTAMP (µs) → cast to TimestampType. Session
    *    TZ is UTC in every entry point (Verify/Bench/SparkSpecBase), so
    *    the cast is value-identity and matches DuckDB bit-for-bit.
    */
  def normalizeTs(ev: DataFrame): DataFrame = ev.schema("ts").dataType match {
    case LongType =>
      ev.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType | TimestampType =>
      ev.withColumn("ts", col("ts").cast(TimestampType))
    case other => throw new IllegalArgumentException(
      s"events.ts: unsupported parquet encoding $other — extend Tables.normalizeTs")
  }

  /** `ts` of a RAW events frame as an epoch-micros long Column — the
    * encoding-agnostic twin of [[normalizeTs]] for consumers that work
    * in µs integers (sessionization state, interval binning). */
  def tsMicros(ev: DataFrame): Column = ev.schema("ts").dataType match {
    case LongType => expr("ts div 1000")
    case TimestampNTZType | TimestampType =>
      unix_micros(col("ts").cast(TimestampType))
    case other => throw new IllegalArgumentException(
      s"events.ts: unsupported parquet encoding $other — extend Tables.tsMicros")
  }

  /** The value a hand-built `Row` destined for a raw-events-schema frame
    * must carry in its `ts` slot to represent the given epoch-micros
    * instant (sentinel injection in the streaming outer joins). */
  def tsRawValue(rawSchema: StructType, micros: Long): Any =
    rawSchema("ts").dataType match {
      case LongType => micros * 1000L // epoch nanos
      case TimestampNTZType => java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
      case _ => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))
    }

  /** `events` with `ts` normalized to TimestampType — the reader every
    * batch query goes through. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(eventsRaw(s, d))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `documents` spread across all cores for per-row compute-heavy
    * stages (tokenize/hash/HOF). The test parquet arrives as ONE split
    * (single row group), so without this the whole map side runs in one
    * task; on a real multi-split table the shuffle is proportionally
    * negligible. Keyed by doc_id so the layout is deterministic.
    */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** Exact cross-engine-reproducible sum of a double column.
    *
    * A plain `sum(double)` depends on reduction order, which differs
    * between Spark partial/final aggregation and the DuckDB oracle. Casting
    * each value to decimal first makes the sum exact (decimal adds are
    * associative), and the final cast back to double is deterministic.
    *
    * Scale 6 matters: the raw monetary/rate columns carry 2 decimals, so
    * products of up to three of them are true 6-decimal values. Rounding
    * the double representation at scale 6 is therefore unambiguous (the
    * double sits ~1e-10 from a 6dp value, far from any half-way boundary),
    * whereas scale 4 would put ~1% of products on a .00005 boundary where
    * Spark (HALF_UP on the shortest decimal string) and DuckDB (scaled
    * nearbyint) round differently.
    *
    * DOUBLE inputs only. A FLOAT column must NOT go through this (or any
    * DECIMAL cast): Spark rounds the widened binary value while DuckDB
    * rounds the float's shortest decimal string, and they disagree for
    * floats printing as 7 decimals ending in 5 — use [[uq6]] /
    * [[uq6Mean]] instead (the s18 lesson, see `Uq6Spec`).
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Cross-engine-reproducible average: exact decimal sum over exact count. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Cross-engine-identical 6-decimal rounding: `floor(x*1e6 + 0.5)/1e6`
    * is pure double arithmetic, so two engines that computed the same
    * double produce the same rounded value — unlike `round(x, 6)`, whose
    * tie-breaking differs (Java BigDecimal-of-double HALF_UP vs scaled
    * nearbyint) exactly when `x*1e6` lands on a representable .5.
    * Half-up toward +infinity for all signs, by construction.
    */
  def r6(c: Column): Column = floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  /** DuckDB rendering of [[r6]] — identical arithmetic. */
  def r6Sql(x: String): String = s"floor(($x) * 1000000.0 + 0.5) / 1000000.0"

  /** Micro-unit quantization of a FLOAT element: `floor(x·10⁶ + 0.5)`
    * on the WIDENED double, as BIGINT — pure double arithmetic, so both
    * engines compute it bit-identically. This is the only safe way to
    * take a float to 6 decimals cross-engine: `CAST(float AS
    * DECIMAL(18,6))` rounds the widened binary value in Spark but the
    * float's shortest decimal string in DuckDB, and the two disagree
    * for floats that print as 7 decimals ending in 5 (e.g. -0.1975755,
    * whose double expansion -0.19757549464… sits just below the half —
    * found the hard way as a one-digit s18 hash flip at sf0.001).
    * Exact means over float elements must go `sum(uq6)` → double →
    * ÷10⁶ ([[uq6MeanSql]]), never through DECIMAL.
    */
  def uq6(c: Column): Column =
    floor(c.cast("double") * lit(1000000.0) + lit(0.5)).cast("long")

  /** DuckDB rendering of [[uq6]] — identical arithmetic. */
  def uq6Sql(x: String): String =
    s"CAST(floor(($x)::DOUBLE * 1000000.0 + 0.5) AS BIGINT)"

  /** Cross-engine-exact mean of micro-unit sums: exact BIGINT sum,
    * one double division by the count, one by 10⁶ — mirror with
    * [[uq6MeanSql]] exactly (same association, same literal). */
  def uq6Mean(sumU: Column, n: Column): Column =
    sumU.cast("double") / n / lit(1000000.0)

  def uq6MeanSql(sumU: String, n: String): String =
    s"CAST($sumU AS DOUBLE) / $n / 1000000.0"

  /** Spark-SQL rendering of sliding word n-grams over an array column
    * `w`: one joined string per window, EMPTY array when the input is
    * shorter than n (total — without the guard, `sequence(0, size-n)`
    * would count DOWNWARD for short inputs and emit garbage partial
    * grams while [[ngramsSql]]'s `range` correctly returns empty).
    * Single source of truth for the shingle/2-gram idiom shared by dedup
    * and text analysis — keep in lockstep with [[ngramsSql]].
    */
  def ngramsExpr(w: String, n: Int): String = {
    val parts = (0 until n).map(j => s"$w[i+$j]").mkString(", ")
    s"CASE WHEN size($w) >= $n THEN " +
      s"transform(sequence(0, size($w)-$n), i -> concat_ws(' ', $parts)) " +
      "ELSE array() END"
  }

  /** DuckDB rendering of the SAME n-gram window (1-based list indexing:
    * starts i = 1 .. len-n+1, i.e. exclusive upper bound len-(n-2)).
    */
  def ngramsSql(w: String, n: Int): String = {
    val parts = (0 until n)
      .map(j => if (j == 0) s"$w[i]" else s"$w[i+$j]")
      .mkString(" || ' ' || ")
    s"list_transform(range(1, len($w) - ${n - 2}), i -> $parts)"
  }

  /** DuckDB single-quoted string literal with doubled-quote escaping —
    * use for EVERY fixture/dimension value interpolated into oracle SQL,
    * so a legitimate apostrophe-bearing value (a name like D'Angelo, an
    * alias) can never produce unparsable SQL.
    */
  def sqlLitDuck(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Spark-SQL single-quoted string literal (backslash escaping).
    * Backslashes are escaped FIRST — in the other order a value
    * containing a backslash would double-escape the quote escape and
    * produce a wrong or unparsable literal.
    */
  def sqlLitSpark(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Portable 32-bit positive hash: first 8 hex chars of md5, as a long.
    * Same value is computable in DuckDB as ('0x'||substr(md5(x),1,8))::BIGINT,
    * which is what the oracle SQL uses. Used by minhash/simhash/LSH so the
    * oracle can replay the exact signatures.
    */
  def md5Hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")
}
