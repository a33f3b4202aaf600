package graft.clean

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Row/value cleaning stage (SURVEY.md §2.2 P6-P11, §2.3 F1-F4).
  * Every function is a pure `DataFrame => DataFrame` or `Column => Column`
  * so stages compose with `df.transform(...)` and stay inside whole-stage
  * codegen.
  */
object Clean {

  /** Drop repeated mid-table header rows (`Player == "Player"`,
    * `Rk == "Rk"`): SURVEY P6, `unified_nba_scraper.py:179-183`.
    * Only applies to columns that exist, so one cleaner serves every
    * table family.
    */
  def dropRepeatedHeaderRows(df: DataFrame, keyCols: Seq[String] = Seq("Player", "Rk")): DataFrame =
    keyCols.filter(df.columns.contains).foldLeft(df) { (d, c) =>
      d.filter(col(c).isNull || col(c) =!= lit(c))
    }

  /** Per-column coercion statistics for the guarded numeric cast. */
  final case class CoercionStat(column: String, nonNull: Long, castable: Long) {
    /** pandas semantics: keep the cast if the column had no non-null
      * values at all, OR coerced non-nulls are at least half of the
      * original non-nulls (float division,
      * `unified_nba_scraper.py:199-204`:
      * `if orig_non_null == 0 or coerced_non_null >= orig_non_null / 2`).
      * The all-null branch matters: an empty/all-null column becomes
      * numeric in the reference, not string. */
    def coerce: Boolean = nonNull == 0L || castable.toDouble >= nonNull.toDouble / 2.0
  }

  /** The guard's counters over `cols`: per column its non-null count
    * (`__orig`) and its castable count (`__cast`). Both functions below
    * aggregate exactly this list, so their decisions cannot drift. */
  private def coercionCounters(cols: Seq[String]): Seq[Column] =
    cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__orig"),
        count(try_cast_double(col(c))).as(s"${c}__cast"))
    }

  private def statsOf(cols: Seq[String], counter: String => Long): Seq[CoercionStat] =
    cols.map(c => CoercionStat(c, counter(s"${c}__orig"), counter(s"${c}__cast")))

  /** Coercion stats for `cols` as data: ONE aggregate over `df`
    * (2×|cols| counters, map-side combined — a single scan at any scale,
    * not per-column scans). No columns, no job. SURVEY F1.
    */
  def coercionStats(df: DataFrame, cols: Seq[String]): Seq[CoercionStat] =
    if (cols.isEmpty) Seq.empty
    else {
      val aggs = coercionCounters(cols)
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      statsOf(cols, n => row.getAs[Long](n))
    }

  /** Null-on-failure double cast (pandas `to_numeric(errors='coerce')`). */
  def try_cast_double(c: Column): Column = c.try_cast("double")

  /** Guarded numeric coercion: decide per column from global statistics,
    * then cast only the columns that pass the ≥½ guard. A Catalyst rule
    * cannot see data (SURVEY §4.2 #1), so the decision is driver logic,
    * but it costs no second pass over `df`: the counters ride an
    * [[org.apache.spark.sql.Observation]] on the one job that
    * checkpoints `df`, and the casts project over that checkpoint (an
    * aggregate over the checkpoint would be one more query per call).
    * So the returned frame holds all of `df` as checkpoint blocks
    * (memory, spilling to disk) until it is collected as garbage. The
    * decision is global (one aggregate), never per-partition, so the
    * output schema is deterministic across any cluster layout. No
    * columns, no job: `df` comes back as it is.
    */
  def guardedNumericCoercion(df: DataFrame, candidateCols: Seq[String]): DataFrame =
    if (candidateCols.isEmpty) df
    else {
      val (held, stats) = checkpointWithStats(df, candidateCols)
      stats.filter(_.coerce).foldLeft(held) { (d, s) =>
        d.withColumn(s.column, try_cast_double(col(s.column)))
      }
    }

  /** `df` eagerly checkpointed, with [[coercionStats]]' counters
    * observed on that one job. `cols` must not be empty. */
  private[clean] def checkpointWithStats(df: DataFrame,
      cols: Seq[String]): (DataFrame, Seq[CoercionStat]) = {
    val obs = Observation()
    val aggs = coercionCounters(cols)
    val held = df.observe(obs, aggs.head, aggs.tail: _*)
      .localCheckpoint() // eager: this action also completes `obs`
    val counters = obs.get
    (held, statsOf(cols, n => counters(n).asInstanceOf[Long]))
  }

  /** Date parse + US re-format, null on garbage: SURVEY F2,
    * `unified_nba_scraper.py:186-188`. */
  def reformatDateUs(c: Column): Column =
    date_format(c.try_cast("date"), "MM/dd/yyyy") // try_cast: null on garbage under ANSI

  /** String repair for the Roster "Birth" column ('us US'/'US US' → 'US'):
    * SURVEY F3, `unified_nba_scraper.py:189-192`. */
  def repairCountry(c: Column): Column =
    trim(regexp_replace(c, "(?i)\\bus\\s+US\\b", "US"))

  /** Whitespace normalize: SURVEY F4, `DEFENSEVSPOSTION.PY:155-156`. */
  def normWs(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** Keyword+length predicate: SURVEY P8, `run_scraper.py:97-101`. */
  def keywordLengthFilter(df: DataFrame, textCol: String, minLen: Int,
      maxLen: Int, keywordPattern: String): DataFrame =
    df.filter(length(col(textCol)) > minLen &&
      length(col(textCol)) < maxLen &&
      col(textCol).rlike(keywordPattern))

  /** Pattern-exclusion filter (live-game drop): SURVEY P7,
    * `nba_props_scraper.py:266-270`. */
  def excludePattern(df: DataFrame, textCol: String, pattern: String): DataFrame =
    df.filter(!col(textCol).rlike(pattern))
}
