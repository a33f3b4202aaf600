package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** st24 — the BOUNDED stream-stream interval join (first-touch
  * attribution). Pins the properties the 100× scale claim rests on:
  *
  *  - the pure state transition ([[IntervalJoin.attAdvance]]): interval
  *    boundary inclusion, first-purchase tie-breaks, watermark-driven
  *    seal/evict, and that state empties once the horizon passes;
  *  - LINEAR output: exactly one row per click — first purchase or the
  *    seal-time unattributed row (≤ #clicks by construction — the
  *    property the raw st4s inner join lacks);
  *  - stream ↔ batch-twin parity on the real corpus.
  */
class FirstTouchSpec extends SparkSpecBase {

  private val I = IntervalJoin.intervalUs

  private def ev(id: Long, us: Long, buy: Boolean): IntervalJoin.AttEv = {
    val t = new java.sql.Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    IntervalJoin.AttEv(id, 7L, t, buy)
  }

  test("attAdvance: in-window purchases attribute, boundary inclusive") {
    val batch = Seq(ev(1, 1000000L, buy = false),
      ev(2, 1000000L + I, buy = true),     // exactly at click + I: included
      ev(3, 1000000L + I + 1, buy = true)) // one µs past: excluded
    // watermark past the click's seal point resolves it immediately
    val (out, st, _) = IntervalJoin.attAdvance(7L, None, batch,
      wmUs = 1000000L + I + 2)
    assert(out == Seq(IntervalJoin.AttOut(1, 2, 7L, I)))
    // the click is resolved; both purchases stay horizon-live (a future
    // click inside the watermark horizon could still attribute them)
    assert(st.exists(s => s.clicks.isEmpty && s.buys.map(_.id) == Seq(2L, 3L)))
  }

  test("attAdvance: FIRST purchase wins — earliest ts, then lowest id") {
    val batch = Seq(ev(1, 0L, buy = false),
      ev(9, 5000L, buy = true), ev(4, 5000L, buy = true), // ts tie → id 4
      ev(2, 1000L, buy = true))                           // earliest ts wins
    val (out, _, _) = IntervalJoin.attAdvance(7L, None, batch, wmUs = I + 1)
    assert(out == Seq(IntervalJoin.AttOut(1, 2, 7L, 1000L)))
  }

  test("attAdvance: pre-click purchases never attribute; a sealed matchless click emits the outer row") {
    val batch = Seq(ev(5, 1000L, buy = true), ev(1, 2000L, buy = false))
    val (out, _, _) = IntervalJoin.attAdvance(7L, None, batch, wmUs = 2000L + I + 1)
    // the pre-click purchase is not a match, and the seal is the proof
    // none can come — the click emits its unattributed (-1, -1) row
    // exactly once, at seal time (the full attribution table's outer
    // emission; still one row for this click, never zero, never two)
    assert(out == Seq(IntervalJoin.AttOut(1, -1L, 7L, -1L)))
  }

  test("attAdvance: the outer row emits only at seal time, never while a match could still arrive") {
    val batch = Seq(ev(1, 1000L, buy = false))
    // watermark short of the seal point: silence, not a premature -1
    val (out0, st0, _) = IntervalJoin.attAdvance(7L, None, batch,
      wmUs = 1000L + I)
    assert(out0.isEmpty && st0.exists(_.clicks.nonEmpty),
      "an unsealed click must stay buffered, not emit an outer row")
    // one µs later the window is sealed: the outer row emits, state empties
    val (out1, st1, _) = IntervalJoin.attAdvance(7L, st0, Nil,
      wmUs = 1000L + I + 1)
    assert(out1 == Seq(IntervalJoin.AttOut(1, -1L, 7L, -1L)) && st1.isEmpty)
  }

  test("attAdvance: unsealed clicks wait; a later watermark-only advance resolves them and empties state") {
    val batch = Seq(ev(1, 1000L, buy = false), ev(2, 2000L, buy = true))
    val (out0, st0, next0) = IntervalJoin.attAdvance(7L, None, batch, wmUs = 0L)
    assert(out0.isEmpty, "nothing may resolve under watermark 0")
    assert(st0.exists(s => s.clicks.nonEmpty && s.buys.nonEmpty))
    assert(next0.contains(1000L + I + 1), "next timeout = first seal point")
    // timeout fires: empty batch, watermark past everything
    val (out1, st1, next1) =
      IntervalJoin.attAdvance(7L, st0, Nil, wmUs = 2000L + 2 * I)
    assert(out1 == Seq(IntervalJoin.AttOut(1, 2, 7L, 1000L)))
    assert(st1.isEmpty && next1.isEmpty,
      "state must empty once the horizon passes — bounded by construction")
  }

  test("attAdvance: purchases evict once no live or future click can reach them") {
    val batch = Seq(ev(2, 1000L, buy = true))
    val (_, st0, _) = IntervalJoin.attAdvance(7L, None, batch, wmUs = 0L)
    assert(st0.exists(_.buys.nonEmpty))
    // wm just below the eviction point: kept (a click at wm - I could
    // still arrive with the purchase in its window)
    val (_, stKeep, _) = IntervalJoin.attAdvance(7L, st0, Nil, wmUs = 1000L + I)
    assert(stKeep.exists(_.buys.nonEmpty))
    val (_, stGone, _) =
      IntervalJoin.attAdvance(7L, stKeep, Nil, wmUs = 1000L + I + 1)
    assert(stGone.isEmpty)
  }

  test("two-wave arrival: clicks buffered across micro-batches still attribute exactly like the batch twin") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.Tables._
    val s = spark
    import s.implicits._
    val raw = eventsRaw(s, sf)
    val rawSchema = raw.schema
    val dir = java.nio.file.Files.createTempDirectory("graft_st24s_")
    try {
      // TIME-ordered waves (not id-parity): wave 2 must stay above the
      // watermark wave 1 advances, or its events would be dropped as
      // late and the parity claim would silently weaken
      val maxUs = raw.agg(max(tsMicros(raw))).head().getLong(0)
      val minUs = raw.agg(org.apache.spark.sql.functions.min(tsMicros(raw)))
        .head().getLong(0)
      val midUs = (minUs + maxUs) / 2
      def stage(df: org.apache.spark.sql.DataFrame, name: String,
          bump: Long): Unit = {
        val scratch = dir.resolve(s"scratch_$name")
        df.coalesce(1).write.parquet(scratch.toString)
        import scala.jdk.CollectionConverters._
        val part = java.nio.file.Files.list(scratch).iterator().asScala
          .find(_.toString.endsWith(".parquet")).get
        val t = dir.resolve(s"$name.parquet")
        java.nio.file.Files.copy(part, t)
        org.apache.commons.io.FileUtils.deleteDirectory(scratch.toFile)
        java.nio.file.Files.setLastModifiedTime(t,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + bump))
      }
      stage(raw.filter(tsMicros(raw) <= midUs), "a_wave", 0L)
      stage(raw.filter(tsMicros(raw) > midUs), "b_wave", 60000L)
      val sentinelTs = tsRawValue(rawSchema,
        maxUs + 100L * 24 * 3600 * 1000000L)
      stage(s.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(
          -101L, sentinelTs, -1L, "click", 0.0, "")), rawSchema),
        "c_sentinel", 120000L)

      val streamed = StreamRun(s, "st24_spec") { run =>
        val staged = normalizeTs(run.session.readStream.schema(rawSchema)
          .option("maxFilesPerTrigger", "1").parquet(dir.toString))
        val evs = staged
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("user_id"), col("ts"),
            (col("event_type") === "purchase").as("is_buy"))
          .withWatermark("ts", s"${IntervalJoin.intervalHours} hours")
          .as[IntervalJoin.AttEv]
        val attributed = evs.groupByKey(_.user_id)
          .flatMapGroupsWithState[IntervalJoin.AttState, IntervalJoin.AttOut](
            OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
            case (user: Long, it: Iterator[IntervalJoin.AttEv],
                state: GroupState[IntervalJoin.AttState]) =>
              val wmUs = state.getCurrentWatermarkMs() * 1000L
              val (out, stOut, next) = IntervalJoin.attAdvance(
                user, state.getOption, it.toSeq, wmUs)
              stOut match {
                case Some(ns) =>
                  state.update(ns)
                  next.foreach(n => state.setTimeoutTimestamp(
                    math.max(n / 1000L + 1,
                      state.getCurrentWatermarkMs() + 1)))
                case None => state.remove()
              }
              out.iterator
          }
        val q = run.memory(attributed.toDF(), "append")
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "the waves collapsed into one micro-batch — the cross-batch " +
            "claim would be untested")
        run.snapshot(q, _.filter(col("user_id") >= 0)
          .select("click_id", "buy_id", "user_id", "lag_us"))
      }.orderBy("click_id").collect().map(_.toSeq).toSeq
      val batch = IntervalJoin
        .st24FirstTouchBatchOf(graft.Tables.events(s, sf))
        .orderBy("click_id").collect().map(_.toSeq).toSeq
      assert(streamed == batch,
        "cross-batch arrival must reproduce the batch twin exactly")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("st24 streaming == batch twin on the corpus, and output is linear in clicks") {
    val streamed = IntervalJoin.st24StreamFirstTouch(spark, sf)
      .collect().map(_.toSeq).toSeq
    val batch = IntervalJoin
      .st24FirstTouchBatchOf(graft.Tables.events(spark, sf))
      .orderBy("click_id")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    // the linearity contract, tightened by the outer emission: EXACTLY
    // one row per click (matched or buy_id = -1) — this is what the raw
    // st4s join cannot promise under density growth
    val nClicks = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "click").count()
    assert(streamed.size == nClicks,
      "the full attribution table carries every click exactly once")
    assert(streamed.map(_.head).distinct.size == streamed.size,
      "first-touch must emit at most one row per click")
  }
}
