package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Stream-stream interval join — the streaming twin of the j2 range
  * join (SURVEY §2.8): purchases join the clicks of the same user that
  * happened within the preceding interval. The streaming form is
  * Spark's watermarked stream-stream join (both sides watermarked plus
  * a bounded time-range condition, so buffered state is dropped once
  * the watermark passes `ts + interval` — the join runs forever at
  * scale with bounded state); the batch twin registered under the
  * oracle computes identical semantics as a BINNED equi-join.
  *
  * Batch scale shape: the naive `JOIN ON b.ts BETWEEN c.ts AND
  * c.ts + i` with only the user equality still fans out per-user
  * click×purchase candidates quadratically inside hot users. Binning
  * the time axis at the interval width makes the blow-up bounded:
  * click windows explode into the ≤2 bins they overlap, purchases key
  * into their single bin, and the join is a plain shuffle equi-join on
  * (user_id, bin) with the exact range as a residual filter — every
  * true pair meets in exactly one bin (the purchase's), so no dedup
  * pass. This is the same window the streaming engine's state pruning
  * maintains: bin width == interval == watermark horizon.
  */
object IntervalJoin {

  /** Join interval: purchases within 12 hours after a click. */
  val intervalHours: Long = 12L
  val intervalUs: Long = intervalHours * 3600L * 1000000L

  private def clicksOf(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))

  private def buysOf(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("buy_id"), col("user_id").as("buy_user_id"),
        col("ts").as("buy_ts"))

  /** The interval condition both forms share: same user, purchase at or
    * after the click, within [[intervalUs]]. Expressed as DIRECT
    * timestamp arithmetic, not `unix_micros` deltas: Spark's
    * `StreamingJoinHelper` can only derive the state-eviction bound
    * (drop clicks once watermark > click_ts + interval) from plain
    * ts-vs-ts±interval comparisons — the µs-arithmetic form joins
    * correctly but buffers stream state forever.
    */
  private def withinInterval(clickTs: Column, buyTs: Column): Column =
    buyTs >= clickTs &&
      buyTs <= clickTs + expr(s"INTERVAL $intervalHours HOURS")

  /** Streaming form over two (already watermarked) event streams shaped
    * like [[clicksOf]]/[[buysOf]] output. The range condition plus both
    * watermarks let Spark bound the join state (clicks older than
    * watermark − interval can never match a future purchase and are
    * evicted). Used by the stream↔batch parity spec AND executed for
    * real (AvailableNow, oracle-compared) by [[st4sStreamIntervalJoin]].
    */
  def streamJoin(clicks: DataFrame, buys: DataFrame): DataFrame =
    clicks.join(buys,
        col("user_id") === col("buy_user_id") &&
          withinInterval(col("click_ts"), col("buy_ts")))
      .select(col("click_id"), col("buy_id"), col("user_id"),
        (unix_micros(col("buy_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"))

  /** ST4 — the batch twin (oracle-comparable): binned equi-join on
    * (user_id, bin) + exact residual range.
    */
  def st4IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    // integer `div`, not `/`: float division near a bin boundary could
    // round a purchase into the wrong bin and silently drop a pair
    def binOf(tsCol: String): Column =
      expr(s"unix_micros($tsCol) div ${intervalUs}L")
    val cbins = clicksOf(ev).withColumn("bin",
      explode(sequence(binOf("click_ts"), binOf("click_ts") + lit(1L))))
    val bbins = buysOf(ev).withColumn("bin", binOf("buy_ts"))
    cbins.join(bbins,
        cbins("bin") === bbins("bin") &&
          col("user_id") === col("buy_user_id") &&
          withinInterval(col("click_ts"), col("buy_ts")))
      .select(col("click_id"), col("buy_id"), col("user_id"),
        (unix_micros(col("buy_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"))
      .orderBy("click_id", "buy_id")
  }

  /** ST4's streaming form as a REAL execution under the oracle (the
    * st7/st9 pattern, closing the last spec-only streaming shape): the
    * events table staged into a watched directory, read as TWO file
    * streams (clicks / purchases), both WATERMARKED at the join
    * interval, pushed through the SAME [[streamJoin]] stream-stream
    * inner join with `Trigger.AvailableNow`, and the terminal match set
    * hash-compared against DuckDB replaying the exact interval join.
    *
    * Determinism: a watermarked stream-stream INNER join emits a pair
    * exactly once, when both sides have arrived — the watermark governs
    * only state EVICTION (clicks older than watermark − interval can
    * never match and are dropped), never emission. With the single
    * staged file both sides arrive in micro-batch 0, so the appended
    * result is the complete, deterministic pair set regardless of how
    * the trigger slices batches.
    */
  def st4sStreamIntervalJoin(caller: SparkSession, d: String): DataFrame =
    // the stream-stream join is the heaviest state holder (FOUR stores
    // per partition: keyWithIndex + keyToNumValues, each side) — the
    // bounded-catch-up state partitions cut this row 2.5× (see
    // [[StreamRun.statePartitions]])
    StreamRun(caller, "st4s") { run =>
      val s = run.session
      val rawSchema = eventsRaw(s, d).schema
      run.stageEvents(d)
      // two independent sources over the same staged directory — at
      // scale these are two topics/directories; the join state is what
      // matters, not the scan
      def stagedEvents(): DataFrame = normalizeTs(s.readStream
        .schema(rawSchema)
        .parquet(run.dir.toString))
      val clicks = clicksOf(stagedEvents())
        .withWatermark("click_ts", s"$intervalHours hours")
      val buys = buysOf(stagedEvents())
        .withWatermark("buy_ts", s"$intervalHours hours")
      run.snapshot(run.memory(streamJoin(clicks, buys), "append"),
          _.select(col("click_id"), col("buy_id"), col("user_id"), col("lag_us")))
        .orderBy("click_id", "buy_id")
    }

  /** ST11 — the stream-stream LEFT OUTER interval join, run for real:
    * the abandonment query (clicks with NO purchase in the following
    * interval emit a null-padded row) — semantics none of the inner
    * rows cover, because outer results cannot emit when a match arrives;
    * they emit only when the WATERMARK proves no match can still come
    * (state eviction time passed). That makes completeness the hard
    * part: clicks within one interval of the corpus's end would stay
    * buffered forever in a bounded catch-up run, so the stage dir gets
    * a SECOND file carrying a far-future sentinel pair (user −1, +100
    * days) whose event time drags the watermark past every real click's
    * eviction bound; `maxFilesPerTrigger=1` + an mtime gap order the
    * files into separate micro-batches (FileStreamSource batches by
    * modification time), so the sentinel batch flushes ALL real
    * unmatched clicks before AvailableNow terminates. Sentinel rows are
    * dropped from the result; unmatched rows surface as `buy_id = −1 /
    * lag_us = −1` (no NULLs — null ordering and nullable-int dtypes
    * differ across engines) and the oracle replays the exact batch
    * left join.
    */
  def st11sStreamOuterJoin(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st11") { run =>
      val s = run.session
      // sentinel pair 100 days past the corpus: joins only itself
      val rawSchema = run.stageWithSentinel(d, "click", "purchase")
      def staged(): DataFrame = normalizeTs(s.readStream
        .schema(rawSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(run.dir.toString))
      val clicks = clicksOf(staged())
        .withWatermark("click_ts", s"$intervalHours hours")
      val buys = buysOf(staged())
        .withWatermark("buy_ts", s"$intervalHours hours")
      val q = run.memory(clicks.join(buys,
          col("user_id") === col("buy_user_id") &&
            withinInterval(col("click_ts"), col("buy_ts")),
          "left_outer"), "append")
      run.snapshot(q, _
          .filter(col("user_id") =!= -1L) // drop the sentinel's own rows
          .select(col("click_id"),
            coalesce(col("buy_id"), lit(-1L)).as("buy_id"),
            col("user_id"),
            coalesce(unix_micros(col("buy_ts")) - unix_micros(col("click_ts")),
              lit(-1L)).as("lag_us")))
        .orderBy("click_id", "buy_id")
    }

  /** ST12 — the FULL OUTER stream-stream interval join, completing the
    * outer family: both the abandonment rows (clicks without purchase,
    * st11's left side) AND the unattributed conversions (purchases no
    * click preceded within the interval — the right side only a full
    * join surfaces). Same sentinel-flush machinery as st11; both sides'
    * state must now drain, and the oracle replays the exact batch FULL
    * join. Unmatched slots surface as −1 (cross-engine null rules).
    */
  def st12sStreamFullOuterJoin(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st12") { run =>
      val s = run.session
      val rawSchema = run.stageWithSentinel(d, "click", "purchase")
      def staged(): DataFrame = normalizeTs(s.readStream
        .schema(rawSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(run.dir.toString))
      val clicks = clicksOf(staged())
        .withWatermark("click_ts", s"$intervalHours hours")
      val buys = buysOf(staged())
        .withWatermark("buy_ts", s"$intervalHours hours")
      val q = run.memory(clicks.join(buys,
          col("user_id") === col("buy_user_id") &&
            withinInterval(col("click_ts"), col("buy_ts")),
          "full_outer"), "append")
      run.snapshot(q, _
          // drop the sentinel pair's own rows (either side)
          .filter(coalesce(col("user_id"), col("buy_user_id")) =!= -1L)
          .select(coalesce(col("click_id"), lit(-1L)).as("click_id"),
            coalesce(col("buy_id"), lit(-1L)).as("buy_id"),
            coalesce(col("user_id"), col("buy_user_id")).as("user_id"),
            coalesce(unix_micros(col("buy_ts")) - unix_micros(col("click_ts")),
              lit(-1L)).as("lag_us")))
        .orderBy("click_id", "buy_id", "user_id")
    }

  val st12Sql: String =
    s"""WITH c AS (
      |  SELECT event_id AS click_id, user_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |b AS (
      |  SELECT event_id AS buy_id, user_id AS buy_user_id, ts AS buy_ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT coalesce(c.click_id, -1) AS click_id,
      |  coalesce(b.buy_id, -1) AS buy_id,
      |  coalesce(c.user_id, b.buy_user_id) AS user_id,
      |  coalesce(epoch_us(b.buy_ts) - epoch_us(c.click_ts), -1) AS lag_us
      |FROM c FULL JOIN b ON c.user_id = b.buy_user_id
      |  AND b.buy_ts >= c.click_ts
      |  AND epoch_us(b.buy_ts) - epoch_us(c.click_ts) <= $intervalUs
      |ORDER BY click_id, buy_id, user_id""".stripMargin

  val st11Sql: String =
    s"""WITH c AS (
      |  SELECT event_id AS click_id, user_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |b AS (
      |  SELECT event_id AS buy_id, user_id, ts AS buy_ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.click_id, coalesce(b.buy_id, -1) AS buy_id, c.user_id,
      |  coalesce(epoch_us(b.buy_ts) - epoch_us(c.click_ts), -1) AS lag_us
      |FROM c LEFT JOIN b ON c.user_id = b.user_id
      |  AND b.buy_ts >= c.click_ts
      |  AND epoch_us(b.buy_ts) - epoch_us(c.click_ts) <= $intervalUs
      |ORDER BY click_id, buy_id""".stripMargin

  val st4Sql: String =
    s"""WITH c AS (
      |  SELECT event_id AS click_id, user_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |b AS (
      |  SELECT event_id AS buy_id, user_id, ts AS buy_ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.click_id, b.buy_id, c.user_id,
      |  epoch_us(b.buy_ts) - epoch_us(c.click_ts) AS lag_us
      |FROM c JOIN b ON c.user_id = b.user_id
      |  AND b.buy_ts >= c.click_ts
      |  AND epoch_us(b.buy_ts) - epoch_us(c.click_ts) <= $intervalUs
      |ORDER BY click_id, buy_id""".stripMargin

  // ---- ST24: the BOUNDED interval join (first-touch attribution) -----

  /** Event feeding the first-touch state machine (ts carries the
    * watermark). */
  final case class AttEv(event_id: Long, user_id: Long,
      ts: java.sql.Timestamp, is_buy: Boolean)

  /** Per-user attribution state: unresolved clicks + the purchases any
    * of them (or a future click inside the watermark horizon) could
    * still attribute to. Both lists are bounded by the user's events
    * within a 2×interval watermark horizon — NEVER the full history. */
  final case class AttPend(id: Long, tsUs: Long)
  final case class AttState(clicks: Seq[AttPend], buys: Seq[AttPend])

  final case class AttOut(click_id: Long, buy_id: Long, user_id: Long,
      lag_us: Long)

  /** One state transition of the first-touch machine — pure, spec-pinned.
    * Ingests a batch (any order), resolves every click whose interval the
    * watermark has sealed (`click_ts + interval < wm`: no earlier-in-
    * window purchase can still arrive) to its FIRST purchase — minimal
    * (buy_ts, buy_id) in `[click_ts, click_ts + interval]` — or, when
    * the sealed window holds no purchase, to the UNATTRIBUTED row
    * (`buy_id = −1, lag_us = −1`): the outer emission a real
    * attribution table needs (every click appears exactly once, matched
    * or not — still ≤1 row per click, the bound the operator exists
    * for). Evicts purchases no live or future click can use
    * (`buy_ts + interval < wm`: a future click is never below the
    * watermark, so its window cannot reach back past `wm − interval`).
    * Returns (emissions, new state, next timeout in µs — the earliest
    * instant more work unlocks: the first unsealed click seal point,
    * else the last purchase's eviction point).
    */
  private[graft] def attAdvance(user: Long, st: Option[AttState],
      batch: Seq[AttEv], wmUs: Long): (Seq[AttOut], Option[AttState], Option[Long]) = {
    val (bBuys, bClicks) = batch.partition(_.is_buy)
    def us(e: AttEv): Long =
      e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
    val clicks = (st.map(_.clicks).getOrElse(Nil) ++
      bClicks.map(e => AttPend(e.event_id, us(e)))).sortBy(c => (c.tsUs, c.id))
    val buys = (st.map(_.buys).getOrElse(Nil) ++
      bBuys.map(e => AttPend(e.event_id, us(e)))).sortBy(b => (b.tsUs, b.id))
    val (ripe, open) = clicks.partition(_.tsUs + intervalUs < wmUs)
    // Buys are (ts, id)-sorted, so the FIRST in-window purchase — the
    // min-(buy_ts, buy_id) pick — is the lower-bound element: one binary
    // search per ripe click, O((C+B) log B) per user per invocation.
    // (A per-click window scan would be O(C×B): quadratic in per-user
    // density, re-importing through the back door the exact blow-up this
    // operator exists to cap.)
    val bv = buys.toIndexedSeq
    def lowerBound(target: Long): Int = {
      var lo = 0; var hi = bv.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (bv(mid).tsUs < target) lo = mid + 1 else hi = mid
      }
      lo
    }
    val out = ripe.map { c =>
      val i = lowerBound(c.tsUs)
      if (i < bv.length && bv(i).tsUs <= c.tsUs + intervalUs)
        AttOut(c.id, bv(i).id, user, bv(i).tsUs - c.tsUs)
      // seal time IS the proof of no match — the outer row emits here,
      // once, exactly like the matched row (never a downstream anti-join
      // that would rescan the click set)
      else AttOut(c.id, -1L, user, -1L)
    }
    val liveBuys = buys.filter(_.tsUs + intervalUs >= wmUs)
    val next =
      if (open.nonEmpty) Some(open.map(_.tsUs + intervalUs).min + 1)
      else if (liveBuys.nonEmpty) Some(liveBuys.map(_.tsUs + intervalUs).max + 1)
      else None
    val stOut =
      if (open.isEmpty && liveBuys.isEmpty) None
      else Some(AttState(open, liveBuys))
    (out, stOut, next)
  }

  /** ST24 — the BOUNDED stream-stream interval join: first-touch
    * attribution, the production mitigation for st4s's quadratic output
    * (SCALE.md names it; this registers it). Each click emits EXACTLY
    * ONE row — its first purchase within the interval, or the
    * unattributed row (`buy_id = −1`) once the watermark seals a
    * matchless window (the full attribution table, r18 ask #4) — so
    * emitted output is ≤ #clicks, LINEAR in the input under the
    * fixed-entity 100× enlargement where the raw inner join's pair
    * count grows quadratically with per-user density.
    *
    * The cap cannot live downstream of a stream-stream join (the
    * quadratic pairs would still be emitted and buffered); it has to
    * live INSIDE the stateful operator, so this is custom keyed state
    * (`flatMapGroupsWithState`, the st7 surface) rather than the
    * built-in join: per user, unresolved clicks + horizon-live
    * purchases; a click resolves exactly once, when the WATERMARK
    * seals its interval (event-time timeouts drive resolution for
    * quiet users); purchases evict once no live or future click can
    * reach them. State per user is bounded by its events inside a
    * 2×interval watermark horizon — never history.
    *
    * Bounded-run determinism: the st11 sentinel discipline (far-future
    * click in a later micro-batch drags the watermark past every real
    * click's seal point; `maxFilesPerTrigger=1` + mtime gap order the
    * batches). All real events arrive in batch 0 under watermark 0, so
    * every purchase is buffered before any click seals — emissions are
    * batching-independent and the oracle replays the exact
    * first-purchase-per-click relation.
    */
  def st24StreamFirstTouch(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st24") { run =>
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val s = run.session
      import s.implicits._
      // sentinel click 100 days past the corpus (user −1): drags the
      // watermark past every real click's seal point; its own click
      // never resolves and is filtered below
      val rawSchema = run.stageWithSentinel(d, "click")
      val staged = normalizeTs(s.readStream
        .schema(rawSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(run.dir.toString))
      val evs = staged
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"),
          (col("event_type") === "purchase").as("is_buy"))
        .withWatermark("ts", s"$intervalHours hours")
        .as[AttEv]
      val attributed = evs.groupByKey(_.user_id)
        .flatMapGroupsWithState[AttState, AttOut](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          case (user: Long, it: Iterator[AttEv], state: GroupState[AttState]) =>
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val (out, stOut, next) =
              attAdvance(user, state.getOption, it.toSeq, wmUs)
            stOut match {
              case Some(ns) =>
                state.update(ns)
                // event-time timeout at the next seal/evict point —
                // must sit strictly above the current watermark
                next.foreach(nUs => state.setTimeoutTimestamp(
                  math.max(nUs / 1000L + 1, state.getCurrentWatermarkMs() + 1)))
              case None => state.remove()
            }
            out.iterator
        }
      run.snapshot(run.memory(attributed.toDF(), "append"), _
          .filter(col("user_id") >= 0) // the sentinel click never resolves
          .select(col("click_id"), col("buy_id"), col("user_id"), col("lag_us")))
        .orderBy("click_id")
    }

  /** ST24's batch twin (spec parity + scale-headroom counterpart): the
    * st4 binned equi-join capped to first-touch by a per-click min —
    * every true pair meets in exactly one bin, so the groupBy is exact —
    * then the unattributed clicks reattached by one left join on the
    * click key (`buy_id = −1 / lag_us = −1`, the st11 no-NULLs
    * convention), mirroring the streaming form's outer emission. */
  private[graft] def st24FirstTouchBatchOf(ev: DataFrame): DataFrame = {
    def binOf(tsCol: String): Column =
      expr(s"unix_micros($tsCol) div ${intervalUs}L")
    val cbins = clicksOf(ev).withColumn("bin",
      explode(sequence(binOf("click_ts"), binOf("click_ts") + lit(1L))))
    val bbins = buysOf(ev).withColumn("bin", binOf("buy_ts"))
    val firstTouch = cbins.join(bbins,
        cbins("bin") === bbins("bin") &&
          col("user_id") === col("buy_user_id") &&
          withinInterval(col("click_ts"), col("buy_ts")))
      .groupBy(col("click_id"))
      .agg(min(struct(
        (unix_micros(col("buy_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"),
        col("buy_id"))).as("first"))
      .select(col("click_id"), col("first.buy_id").as("buy_id"),
        col("first.lag_us").as("lag_us"))
    clicksOf(ev).select(col("click_id"), col("user_id"))
      .join(firstTouch, Seq("click_id"), "left")
      .select(col("click_id"), coalesce(col("buy_id"), lit(-1L)).as("buy_id"),
        col("user_id"), coalesce(col("lag_us"), lit(-1L)).as("lag_us"))
  }

  val st24Sql: String =
    s"""WITH c AS (
      |  SELECT event_id AS click_id, user_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |b AS (
      |  SELECT event_id AS buy_id, user_id, ts AS buy_ts
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT c.click_id, b.buy_id, c.user_id,
      |    epoch_us(b.buy_ts) - epoch_us(c.click_ts) AS lag_us,
      |    row_number() OVER (PARTITION BY c.click_id
      |      ORDER BY b.buy_ts, b.buy_id) AS rn
      |  FROM c LEFT JOIN b ON c.user_id = b.user_id
      |    AND b.buy_ts >= c.click_ts
      |    AND epoch_us(b.buy_ts) - epoch_us(c.click_ts) <= $intervalUs)
      |SELECT click_id, coalesce(buy_id, -1) AS buy_id, user_id,
      |  coalesce(lag_us, -1) AS lag_us
      |FROM j WHERE rn = 1
      |ORDER BY click_id""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st4_interval_join" -> st4IntervalJoin,
    "st4s_stream_interval_join" -> st4sStreamIntervalJoin,
    "st11s_stream_outer_join" -> st11sStreamOuterJoin,
    "st12s_stream_full_outer" -> st12sStreamFullOuterJoin,
    "st24_stream_first_touch" -> st24StreamFirstTouch,
  )

  val oracle: Map[String, String] = Map(
    "st4_interval_join" -> st4Sql,
    // the streaming run must reproduce the EXACT batch interval join
    "st4s_stream_interval_join" -> st4Sql,
    "st11s_stream_outer_join" -> st11Sql,
    "st12s_stream_full_outer" -> st12Sql,
    "st24_stream_first_touch" -> st24Sql,
  )
}
