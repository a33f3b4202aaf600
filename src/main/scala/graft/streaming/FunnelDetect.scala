package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables._

/** ST20 — streaming funnel detection (the CEP/sequence-matching
  * workload class: view → click → purchase per user, each step within
  * [[FunnelDetect.stepUs]] of the previous). The semantics are
  * LAST-TOUCH attribution, the standard analytics contract: a purchase
  * completes a funnel through the latest preceding click in budget,
  * which in turn attributes to the latest view preceding IT in budget —
  * events are attribution anchors, not consumed tokens, so the whole
  * relation is replayable in plain SQL (two windowed max-joins) while
  * the stream side needs only O(1) state per user.
  *
  * The state machine carries three timestamps — last view, last click,
  * and the view latched BY that click at click time ("did the latest
  * click have a view behind it?" must be decided when the click
  * arrives, or a viewless latest click would steal attribution from an
  * earlier qualified one in one engine and not the other). All steps
  * are strict-ts-ordered: a click sharing a purchase's timestamp is
  * not "before" it in either formulation.
  *
  * Scale shape: state is three longs per user, evicted by event-time
  * timeout once the watermark passes `last activity + step`. That is
  * near-precise rather than exact: flatMapGroupsWithState does not
  * drop late rows, so a late-but-accepted purchase (inside the
  * 10-minute watermark delay) can arrive AFTER eviction and would
  * have qualified against the evicted click — a residual
  * watermark-slack window folded into st17's documented loss
  * contract (padding the timeout by the delay would close it at the
  * cost of holding state one delay longer). The store is bounded by users
  * active within one step budget however long the stream runs. Per
  * batch the work is one sorted pass per user. Cross-batch late
  * events follow st17's documented loss contract: within a batch the
  * pass is (ts, event_id)-sorted, and an event arriving in a LATER
  * batch than a successor it should have preceded can miss a funnel —
  * watermark-bounded, the trade every low-state CEP engine makes.
  */
object FunnelDetect {

  /** 24 h in µs: at the corpus's ~5.5 h mean per-user event spacing
    * this yields a sparse-but-real funnel set (19 at sf0.001). */
  val stepUs: Long = 24L * 3600L * 1000000L

  /** Timestamped, typed event for the funnel pass. */
  final case class EvF(event_id: Long, user_id: Long,
      ts: java.sql.Timestamp, event_type: String)

  /** -1 marks "none". `viewAtClick` is the view the latest click
    * latched when it arrived (-1 if that click had no qualifying
    * view). */
  final case class FunnelState(lastView: Long, lastClick: Long,
      viewAtClick: Long)

  final case class FunnelOut(user_id: Long, view_us: Long,
      click_us: Long, purchase_us: Long)

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** The stateful core. Input must carry a watermark on `ts`. */
  def funnelStream(evs: Dataset[EvF]): Dataset[FunnelOut] = {
    val spark = evs.sparkSession
    import spark.implicits._
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case (user: Long, it: Iterator[EvF],
            state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // the GapDetect lesson: sort AFTER the per-user merge —
            // the watermark bounds lateness globally, not per user
            val evts = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
            val out = List.newBuilder[FunnelOut]
            evts.foreach { e =>
              val t = micros(e.ts)
              e.event_type match {
                // "latest" must never regress on a cross-batch late
                // event (the GapDetect lesson applied to CEP anchors)
                case "view" if t > st.lastView => st = st.copy(lastView = t)
                case "click" if t > st.lastClick =>
                  val v = if (st.lastView >= 0 && st.lastView < t &&
                    st.lastView > t - stepUs) st.lastView else -1L
                  st = st.copy(lastClick = t, viewAtClick = v)
                case "purchase" =>
                  if (st.lastClick >= 0 && st.lastClick < t &&
                    st.lastClick > t - stepUs && st.viewAtClick >= 0)
                    out += FunnelOut(user, st.viewAtClick, st.lastClick, t)
                case _ => ()
              }
            }
            val seen = evts.map(e => micros(e.ts))
            val last = (seen ++ Seq(st.lastView, st.lastClick)).max
            state.update(st)
            // eviction point: once the watermark passes last+step no
            // future event can qualify against anything held here
            state.setTimeoutTimestamp(last / 1000L + stepUs / 1000L)
            out.result().iterator
          }
      }
  }

  /** The registered st20 query: events staged and re-read as a real
    * AvailableNow stream, completed funnels hash-compared against the
    * two-stage windowed-max-join batch formulation. */
  def st20FunnelDetect(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st20") { run =>
      val s = run.session
      import s.implicits._
      val rawSchema = eventsRaw(s, d).schema
      run.stageEvents(d)
      val raw = s.readStream.schema(rawSchema).parquet(run.dir.toString)
      val evs = normalizeTs(raw)
        .withWatermark("ts", "10 minutes")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
        .as[EvF]
      run.snapshot(run.memory(funnelStream(evs).toDF(), "update"), _
          .select(col("user_id"), col("view_us"), col("click_us"),
            col("purchase_us"),
            (col("purchase_us") - col("view_us")).as("funnel_us")))
        .orderBy("user_id", "purchase_us")
    }

  val st20Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
      |p AS (SELECT user_id, tsu AS p_ts FROM e
      |      WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, tsu FROM e WHERE event_type = 'click'),
      |v AS (SELECT user_id, tsu FROM e WHERE event_type = 'view'),
      |pc AS (
      |  SELECT p.user_id, p.p_ts, max(c.tsu) AS c_ts
      |  FROM p JOIN c ON c.user_id = p.user_id
      |    AND c.tsu < p.p_ts AND c.tsu > p.p_ts - $stepUs
      |  GROUP BY 1, 2),
      |pcv AS (
      |  SELECT pc.user_id, pc.p_ts, pc.c_ts, max(v.tsu) AS v_ts
      |  FROM pc JOIN v ON v.user_id = pc.user_id
      |    AND v.tsu < pc.c_ts AND v.tsu > pc.c_ts - $stepUs
      |  GROUP BY 1, 2, 3)
      |SELECT user_id, v_ts AS view_us, c_ts AS click_us,
      |  p_ts AS purchase_us, p_ts - v_ts AS funnel_us
      |FROM pcv
      |ORDER BY user_id, purchase_us""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st20_funnel_detect" -> st20FunnelDetect,
  )

  val oracle: Map[String, String] = Map(
    "st20_funnel_detect" -> st20Sql,
  )
}
