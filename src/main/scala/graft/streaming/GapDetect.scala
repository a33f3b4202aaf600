package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables._

/** ST19 — streaming silence/gap detection: per user, surface every
  * quiet interval longer than [[GapDetect.gapUs]] between consecutive
  * events. The mechanism the streaming family lacked until now is the
  * TIMER-DRIVEN emission: a CLOSED gap is known the moment the next
  * event arrives (data-driven, exactly once), but an ONGOING silence
  * has no next event to announce it — only an event-time TIMEOUT can
  * raise it, firing when the watermark passes `last_seen + gap`. That
  * is the production alerting shape (a feed going quiet is precisely
  * the case where no record will ever tell you), and it is the inverse
  * of st7's sessionization: st7's state seals on silence, st19's state
  * REPORTS the silence itself.
  *
  * The registered query certifies the data-driven half under the
  * oracle (closed gaps ≡ the batch lag-window formulation — the
  * single staged file makes one micro-batch, so no timer fires and the
  * output is deterministic); the timer half needs a mid-stream
  * watermark advance, which `GapAlertSpec` drives with two
  * mtime-ordered files (the st17 staging discipline) and pins: silent
  * users raise exactly one open-gap alert, active users raise none.
  *
  * Scale shape: state is ONE long per user (last seen µs) — the
  * smallest possible keyed state — with eviction on timeout, so the
  * store is bounded by users active within the gap horizon; per batch
  * the work is one sorted pass over each user's new events.
  */
object GapDetect {

  /** 12 h in µs — wide enough that the sf corpus (~130 events/user over
    * 30 days, mean spacing ~5.5 h) yields a meaningful but sparse gap
    * set. */
  val gapUs: Long = 12L * 3600L * 1000000L

  final case class GapState(lastTs: Long)
  final case class GapOut(user_id: Long, gap_start_us: Long,
      gap_end_us: Long, open: Boolean)

  /** The stateful core: closed gaps on data, open-gap alerts on
    * event-time timeout (gap_end_us = −1 marks an alert — the silence
    * has no end yet). Input must carry a watermark on `ts` upstream. */
  def gapStream(evs: Dataset[Sessionize.EvT]): Dataset[GapOut] = {
    val spark = evs.sparkSession
    import spark.implicits._
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, GapOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case (user: Long, it: Iterator[Sessionize.EvT],
            state: GroupState[GapState]) =>
          if (state.hasTimedOut) {
            val alert = state.getOption.map(st =>
              GapOut(user, st.lastTs, -1L, open = true))
            state.remove()
            alert.iterator
          } else {
            val ts = it.map(e =>
              e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L)
              .toSeq
            // Sort AFTER merging with the stored lastTs: the watermark
            // (global-max − delay) bounds lateness globally, but lastTs
            // is per-user, so a new event inside the slack can still be
            // older than this user's last seen event. Unsorted, sliding
            // pairs mismatch (wrong gap boundaries) and `all.last`
            // would regress lastTs, re-arming the timeout too early —
            // a false open-gap alert. Sorted, `all.last` is the max.
            val all = (state.getOption.map(_.lastTs).toSeq ++ ts).sorted
            val gaps = all.sliding(2).collect {
              case Seq(a, b) if b - a > gapUs =>
                GapOut(user, a, b, open = false)
            }.toList
            state.update(GapState(all.last))
            state.setTimeoutTimestamp(all.last / 1000L + gapUs / 1000L)
            gaps.iterator
          }
      }
  }

  /** The registered st19 query: events staged and re-read as a real
    * stream (AvailableNow), closed gaps hash-compared against the
    * batch lag formulation. */
  def st19GapDetect(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st19") { run =>
      val s = run.session
      import s.implicits._
      val rawSchema = eventsRaw(s, d).schema
      run.stageEvents(d)
      val raw = s.readStream.schema(rawSchema).parquet(run.dir.toString)
      val evs = normalizeTs(raw)
        .withWatermark("ts", "10 minutes")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .as[Sessionize.EvT]
      run.snapshot(run.memory(gapStream(evs).toDF(), "update"), _
          .filter(!col("open"))
          .select(col("user_id"), col("gap_start_us"), col("gap_end_us"),
            (col("gap_end_us") - col("gap_start_us")).as("gap_us")))
        .orderBy("user_id", "gap_start_us")
    }

  val st19Sql: String =
    s"""WITH t AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
      |lagged AS (
      |  SELECT user_id, tsu,
      |    lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu) AS prev
      |  FROM t)
      |SELECT user_id, prev AS gap_start_us, tsu AS gap_end_us,
      |  tsu - prev AS gap_us
      |FROM lagged
      |WHERE prev IS NOT NULL AND tsu - prev > $gapUs
      |ORDER BY user_id, gap_start_us""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st19_gap_detect" -> st19GapDetect,
  )

  val oracle: Map[String, String] = Map(
    "st19_gap_detect" -> st19Sql,
  )
}
