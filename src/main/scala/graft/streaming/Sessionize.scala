package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables._

/** Gap-based sessionization over `events` — the custom-state streaming
  * surface (`flatMapGroupsWithState`) with a batch window-function twin
  * that the DuckDB oracle can verify.
  *
  * A session is a maximal run of a user's events with consecutive gaps
  * ≤ 10 minutes. Batch: `lag` + running sum of session-break flags (two
  * windows over the same (user × time) sort — one shuffle). Streaming:
  * per-user open-session state carried across micro-batches; closed
  * sessions are emitted as they seal, the open session is re-emitted each
  * update (Update output mode, latest-wins per key).
  *
  * Scale: state per user is ONE open session (constant size), not the
  * event history; with event-time timeout the state store stays bounded
  * by active users in the gap horizon.
  */
object Sessionize {

  val gapMinutes = 10L

  /** ST3 — batch sessionization (oracle-comparable). */
  def st3Sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val runSum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNotNull &&
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) <= gapMinutes * 60000000L,
          lit(0)).otherwise(lit(1)))
      .withColumn("session_seq", sum(col("new_sess")).over(runSum))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        dsum(col("value")).as("total_value"))
      .orderBy("user_id", "session_seq")
  }

  val st3Sql: String =
    """SELECT user_id, session_seq, count(*) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM (
      |  SELECT user_id, ts, value,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM (
      |    SELECT user_id, event_id, ts, value,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                IS NOT NULL
      |            AND epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
      |                ORDER BY ts, event_id)) <= 600000000
      |        THEN 0 ELSE 1 END AS new_sess
      |    FROM events))
      |GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin

  // ---- streaming path -----------------------------------------------

  final case class Ev(event_id: Long, user_id: Long, tsMicros: Long, value: Double)
  final case class OpenSession(start: Long, end: Long, n: Long, total: Double)
  final case class SessionOut(user_id: Long, session_start: Long,
      session_end: Long, n_events: Long, total_value: Double, open: Boolean)

  /** Merge a batch of events (any order) into the open-session state,
    * returning (closed sessions, new open session). Pure — unit-testable
    * without a stream.
    *
    * Out-of-order handling across batches: an event inside the open
    * session's gap envelope `[start - gap, end + gap]` extends it (start
    * min-updated, not only end); an event OLDER than `start - gap` is a
    * straggler from a session the state can no longer reconstruct — it is
    * sealed immediately as its own singleton session (documented
    * approximation; with a watermark ≤ gap such stragglers are dropped
    * upstream before reaching here).
    */
  def advance(open: Option[OpenSession], batch: Seq[Ev]): (Seq[OpenSession], Option[OpenSession]) = {
    val gapMicros = gapMinutes * 60L * 1000000L
    val sorted = batch.sortBy(e => (e.tsMicros, e.event_id))
    // stragglers older than the open session's envelope form their own
    // session chain (merged among themselves, all sealed); the rest
    // extend the open session
    val (early, rest) = sorted.partition(e =>
      open.exists(s => e.tsMicros < s.start - gapMicros))

    def chain(init: Option[OpenSession], events: Seq[Ev]): (Vector[OpenSession], Option[OpenSession]) = {
      var closed = Vector.empty[OpenSession]
      var cur = init
      events.foreach { e =>
        cur match {
          case Some(s) if e.tsMicros >= s.start - gapMicros &&
              e.tsMicros - s.end <= gapMicros =>
            cur = Some(OpenSession(math.min(s.start, e.tsMicros),
              math.max(s.end, e.tsMicros), s.n + 1, s.total + e.value))
          case Some(s) =>
            closed :+= s
            cur = Some(OpenSession(e.tsMicros, e.tsMicros, 1L, e.value))
          case None =>
            cur = Some(OpenSession(e.tsMicros, e.tsMicros, 1L, e.value))
        }
      }
      (closed, cur)
    }

    val (closedEarly, lastEarly) = chain(None, early)
    val (closedRest, openNow) = chain(open, rest)
    // every early-chain session ends before open.start - gap: sealed
    (closedEarly ++ lastEarly.toSeq ++ closedRest, openNow)
  }

  /** Stateful streaming sessionization: one OpenSession per user carried
    * across micro-batches; closed sessions emitted once, the open session
    * re-emitted (open=true) every update.
    *
    * `idleTimeout` (default: one gap) seals idle users' open sessions via
    * a processing-time timeout and removes their state, keeping the state
    * store bounded by users active within the gap horizon instead of all
    * users ever seen. Pass `None` for finite catch-up runs
    * (`Trigger.AvailableNow`): pending timeouts would otherwise keep the
    * query alive for the full idle duration after the data is exhausted.
    */
  def sessionizeStream(evs: Dataset[Ev],
      idleTimeout: Option[String] = Some(s"$gapMinutes minutes")): Dataset[SessionOut] = {
    val spark = evs.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Update(), timeoutConf) {
        case (user: Long, it: Iterator[Ev], state: GroupState[OpenSession]) =>
          if (idleTimeout.isDefined && state.hasTimedOut) {
            // idle past the gap: seal the open session, free the state
            val sealedOut = state.getOption.map(s =>
              SessionOut(user, s.start, s.end, s.n, s.total, open = false))
            state.remove()
            sealedOut.iterator
          } else {
            val (closed, openNow) = advance(state.getOption, it.toSeq)
            openNow match {
              case Some(s) =>
                state.update(s)
                idleTimeout.foreach(state.setTimeoutDuration)
              case None => state.remove()
            }
            (closed.map(s =>
              SessionOut(user, s.start, s.end, s.n, s.total, open = false)) ++
              openNow.map(s =>
                SessionOut(user, s.start, s.end, s.n, s.total, open = true))).iterator
          }
      }
  }

  /** Timestamped event for the event-time sessionize variant. */
  final case class EvT(event_id: Long, user_id: Long,
      ts: java.sql.Timestamp, value: Double)

  /** Event-time sessionization: like [[sessionizeStream]] but sessions
    * seal deterministically when the WATERMARK passes `end + gap` —
    * independent of processing speed, the production-correct variant.
    * Input must carry `withWatermark("ts", ...)` upstream; closed
    * sessions are emitted exactly once (on data or on event-time
    * timeout), the open session is re-emitted per update.
    */
  def sessionizeStreamEventTime(evs: Dataset[EvT]): Dataset[SessionOut] = {
    val spark = evs.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case (user: Long, it: Iterator[EvT], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val sealedOut = state.getOption.map(s =>
              SessionOut(user, s.start, s.end, s.n, s.total, open = false))
            state.remove()
            sealedOut.iterator
          } else {
            // getTime is ms-truncated; re-add the sub-ms micros from
            // getNanos so event time stays µs-exact like the batch twin
            val batch = it.map(e =>
              Ev(e.event_id, e.user_id,
                e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L,
                e.value)).toSeq
            val (closed, openNow) = advance(state.getOption, batch)
            openNow match {
              case Some(s) =>
                state.update(s)
                // seal when the watermark passes session end + gap
                state.setTimeoutTimestamp(s.end / 1000L + gapMs)
              case None => state.remove()
            }
            (closed.map(s =>
              SessionOut(user, s.start, s.end, s.n, s.total, open = false)) ++
              openNow.map(s =>
                SessionOut(user, s.start, s.end, s.n, s.total, open = true))).iterator
          }
      }
  }

  /** ST3's streaming form as a REAL execution under the oracle (the
    * st5/st6 pattern): the events table staged into a watched directory,
    * run through the SAME [[sessionizeStream]] `flatMapGroupsWithState`
    * operator with `Trigger.AvailableNow`, terminal session set
    * hash-compared against DuckDB replaying the batch gap-window
    * formulation. This is the strongest streaming row in the surface:
    * custom keyed state, not a built-in aggregation, certified
    * equivalent to its batch twin by the oracle rather than only by the
    * parity spec.
    *
    * `total_value` is deliberately NOT in the projection: the streaming
    * fold sums doubles in arrival order while the oracle sums decimals —
    * numerically equal, not bit-pinned (same exclusion the parity spec
    * makes). Update-mode re-emissions are collapsed by latest-wins
    * (max-struct per (user, start)); with the single staged file there
    * is exactly one micro-batch, so the collapse is 1:1 and the output
    * deterministic.
    */
  def st7StreamSessionize(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st7") { run =>
      val s = run.session
      import s.implicits._
      val rawSchema = eventsRaw(s, d).schema
      run.stageEvents(d)
      val rawStream = s.readStream
        .schema(rawSchema)
        .parquet(run.dir.toString)
      val streamEvs = rawStream
        .select(col("event_id"), col("user_id"),
          tsMicros(rawStream).as("tsMicros"), col("value"))
        .as[Ev]
      val q = run.memory(sessionizeStream(streamEvs, idleTimeout = None).toDF(),
        "update")
      run.snapshot(q, _
          .groupBy(col("user_id"), col("session_start"))
          .agg(max(struct(col("session_end"), col("n_events"))).as("s"))
          .select(col("user_id"),
            col("session_start").as("session_start_us"),
            col("s.session_end").as("session_end_us"),
            col("s.n_events").as("n_events")))
        .orderBy("user_id", "session_start_us")
    }

  val st7Sql: String =
    """SELECT user_id, epoch_us(min(ts)) AS session_start_us,
      |  epoch_us(max(ts)) AS session_end_us, count(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM (
      |    SELECT user_id, event_id, ts,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                IS NOT NULL
      |            AND epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
      |                ORDER BY ts, event_id)) <= 600000000
      |        THEN 0 ELSE 1 END AS new_sess
      |    FROM events))
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_start_us""".stripMargin

  /** ST15 — the DECLARATIVE sessionization path: Spark's built-in
    * `session_window` grouping (gap-based merging windows) instead of
    * st7's hand-rolled `flatMapGroupsWithState`. What it buys at scale:
    * the state is managed by the native streaming-aggregation operator
    * (session merge/eviction in the state store, watermark-driven), the
    * aggregation is whole-stage-codegen'd, and APPEND mode emits each
    * finalized session EXACTLY ONCE when the watermark passes
    * `session end + gap` — no latest-wins collapse needed. The cost is
    * expressiveness: st7's custom state can seal stragglers or carry
    * arbitrary per-session structure; `session_window` is
    * count/sum-style aggregates only.
    *
    * Bounded-run determinism uses the st11 sentinel discipline: append
    * mode only emits sessions the WATERMARK has sealed, so a single
    * staged file would emit nothing (the final watermark lags max event
    * time by the gap). A far-future sentinel row in a LATER micro-batch
    * (`maxFilesPerTrigger=1` + mtime gap) drags the watermark past every
    * real session's seal point; the sentinel's own session stays open
    * and is dropped by `user_id >= 0`.
    *
    * Gap semantics pinned by `SessionWindowSpec` with a boundary pair:
    * `session_window` merges INCLUSIVELY — two events exactly one gap
    * apart share a session, one microsecond beyond splits — which is
    * the same `<= gap` island rule st3/st7 implement, so all three
    * sessionization forms agree event-for-event and this oracle is
    * st7's (session end surfaced as last-event time).
    */
  /** st15's aggregation in batch form (session_window works identically
    * over a static frame) — factored for [[graft.tools.ScaleHeadroom]]:
    * one shuffle on (merged window, user), linear merge per partition.
    */
  private[graft] def sessionWindowBatchOf(ev: DataFrame): DataFrame =
    ev.groupBy(session_window(col("ts"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  def st15SessionWindow(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st15") { run =>
      val s = run.session
      val rawSchema = run.stageWithSentinel(d, "click")
      val streamEv = normalizeTs(s.readStream
          .schema(rawSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(run.dir.toString))
        .withWatermark("ts", s"$gapMinutes minutes")
      val q = run.memory(streamEv
        .groupBy(session_window(col("ts"), s"$gapMinutes minutes"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events")), "append")
      run.snapshot(q, _
          .filter(col("user_id") >= 0) // drop the sentinel's open session
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            // session_window.end = last event + gap; surface the last
            // event time so the oracle compares max(ts) directly
            (unix_micros(col("session_window.end")) -
              gapMinutes * 60000000L).as("session_end_us"),
            col("n_events")))
        .orderBy("user_id", "session_start_us")
    }

  val st15Sql: String = st7Sql

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st3_sessionize" -> st3Sessionize,
    "st7_stream_sessionize" -> st7StreamSessionize,
    "st15_session_window" -> st15SessionWindow,
  )

  val oracle: Map[String, String] = Map(
    "st3_sessionize" -> st3Sql,
    "st7_stream_sessionize" -> st7Sql,
    "st15_session_window" -> st15Sql,
  )
}
