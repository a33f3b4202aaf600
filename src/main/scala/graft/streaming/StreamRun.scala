package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{Column, DataFrame, GraftSessions, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryException, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType
import graft.Tables.{eventsRaw, tsMicros, tsRawValue}

/** One bounded catch-up streaming row (the `st` rows): a
  * `Trigger.AvailableNow` run over files staged in a scratch dir, on a
  * session of its own.
  *
  * `StreamRun(s, "st6") { run => … }` gives the body:
  *  - `run.session`, a clone of `s` (same runtime conf, temp views,
  *    functions and `QueryExecutionListener`s) that differs only in
  *    [[stateConf]]. The caller's conf is never written, so a batch
  *    query running on `s` at the same time plans exactly as it would
  *    without the row. The caller's `StreamingQueryListener`s are
  *    attached to the clone for the row's lifetime;
  *  - `run.dir`, the row's scratch dir, and staging helpers into it;
  *  - [[catchUp]] (start under AvailableNow, then [[awaitBounded]]) and
  *    the memory-sink path [[memory]] → [[snapshot]].
  *
  * The body must return a materialized frame (a `localCheckpoint` or
  * a plan over one), never a lazy read of the scratch dir. It is
  * re-homed on `s`, so whatever the caller adds to it (the final sort,
  * the write) is planned under the caller's conf.
  *
  * Whether the body returns or throws, the run then stops every query
  * still active on the clone, drops the temp views the row created,
  * waits until the row's listener events are delivered, detaches the
  * caller's streaming listeners and deletes the scratch dir.
  */
final class StreamRun private (val session: SparkSession, val dir: Path,
    tag: String) {

  /** Copy the corpus's `events.parquet` to `dir/<name>`. */
  def stageEvents(d: String, name: String = "events.parquet"): Path = {
    val to = dir.resolve(name)
    Files.createDirectories(to.getParent)
    Files.copy(Paths.get(s"$d/events.parquet"), to)
  }

  /** Stage the corpus as `a_events.parquet`, then a `b_sentinel.parquet`
    * holding one event of each given type for user −1, 100 days past
    * the corpus's last event and one minute later by mtime. A
    * `maxFilesPerTrigger=1` stream reads the sentinel as a later
    * micro-batch whose event time drags the watermark past every real
    * event, so append-mode state flushes before AvailableNow ends.
    * Returns the raw events schema. */
  def stageWithSentinel(d: String, eventTypes: String*): StructType = {
    val raw = eventsRaw(session, d)
    val schema = raw.schema
    val events = stageEvents(d, "a_events.parquet")
    val maxUs = SentinelFile.maxTsMicrosFromFooter(s"$d/events.parquet", schema)
      .getOrElse(raw.agg(max(tsMicros(raw))).head().getLong(0))
    val ts = tsRawValue(schema, maxUs + 100L * 24 * 3600 * 1000000L)
    val sentinel = dir.resolve("b_sentinel.parquet")
    SentinelFile.write(schema, eventTypes.zipWithIndex.map { case (t, i) =>
      Row(-101L - i, ts, -1L, t, 0.0, "") }, sentinel)
    // the sentinel must arrive in a LATER micro-batch: a real event
    // arriving after the watermark passed it would be dropped as late
    Files.setLastModifiedTime(sentinel, FileTime.fromMillis(
      Files.getLastModifiedTime(events).toMillis + 60000))
    schema
  }

  /** Stage tagged slices of ONE frame as single-file parquet batches
    * (`<into>/<tag>.parquet`), mtime-bumped in `tags` order so a
    * `maxFilesPerTrigger=1` file stream delivers them as separate
    * micro-batches in that order. One clustered write job instead of
    * one write job per slice — the arrival waves are harness setup;
    * what the stream sees (file set, contents, mtime order) is
    * byte-for-byte what the per-slice writes produced. */
  def stageTagged(df: DataFrame, tagCol: Column, tags: Seq[String],
      into: Path): Unit = {
    val scratch = into.resolve(".stage_scratch")
    // partitionBy keeps the tag column OUT of the staged files, and the
    // per-tag repartition keeps each slice to one part file
    df.withColumn("__tag", tagCol).repartition(col("__tag"))
      .write.partitionBy("__tag").parquet(scratch.toString)
    val now = System.currentTimeMillis()
    tags.zipWithIndex.foreach { case (t, i) =>
      val sub = scratch.resolve(s"__tag=$t")
      require(Files.isDirectory(sub), s"stageTagged: slice $t staged empty")
      val part = graft.Tables.listDir(sub)
        .find(_.toString.endsWith(".parquet")).get
      val target = into.resolve(s"$t.parquet")
      Files.copy(part, target)
      Files.setLastModifiedTime(target,
        FileTime.fromMillis(now + i * 60000L))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(scratch.toFile)
  }

  /** An append-only line file in the scratch dir (attempt and
    * processed-version ledgers). */
  def ledger(name: String): StreamRun.Ledger =
    new StreamRun.Ledger(dir.resolve(name))

  /** Start `w` under `Trigger.AvailableNow` and wait for it to finish
    * ([[StreamRun.awaitBounded]]). */
  def catchUp(w: DataStreamWriter[Row]): StreamingQuery = {
    val q = w.trigger(Trigger.AvailableNow()).start()
    StreamRun.awaitBounded(q, tag)
    q
  }

  /** [[catchUp]] into a memory sink; the sink's view (named `q.name`)
    * lives until the run ends — read it through [[snapshot]]. */
  def memory(df: DataFrame, outputMode: String,
      options: (String, String)*): StreamingQuery =
    catchUp(df.writeStream.format("memory")
      .queryName(s"${tag}_out_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(12))
      .outputMode(outputMode).options(options.toMap))

  /** `shape` of the memory sink's table, materialized while the view
    * still exists. */
  def snapshot(q: StreamingQuery,
      shape: DataFrame => DataFrame = identity): DataFrame =
    shape(session.table(q.name)).localCheckpoint()

  /** Run `body`, which must fail with a query whose cause chain names
    * an injected crash (the crash-replay rows' first run). */
  def expectInjectedCrash(body: => Unit): Unit = {
    val crashed =
      try { body; false }
      catch { case e: StreamingQueryException =>
        require(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => Option(t.getMessage).exists(_.contains("injected crash"))),
          s"$tag: run 1 failed for the wrong reason: ${e.getMessage}")
        true
      }
    require(crashed,
      s"$tag: injected crash did not fire - harness lost its failure path")
  }

  private def close(inheritedViews: Set[String],
      listeners: Seq[StreamingQueryListener]): Unit =
    try {
      session.streams.active.foreach(q => Try(q.stop()))
      GraftSessions.tempViewNames(session).filterNot(inheritedViews)
        .foreach(session.catalog.dropTempView)
      // the row's last progress and execution events may still be
      // queued: deliver them before the caller's listeners detach
      Try(GraftSessions.drainListeners(session))
      listeners.foreach(session.streams.removeListener)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
}

object StreamRun {

  def apply(caller: SparkSession, tag: String)(
      body: StreamRun => DataFrame): DataFrame =
    graft.GraftSession.withConf(caller, stateConf) { child =>
      val inheritedViews = GraftSessions.tempViewNames(child).toSet
      // listeners Spark itself adds to every session are already there
      val attached = child.streams.listListeners().toSet
      val listeners = caller.streams.listListeners().toSeq.filterNot(attached)
      listeners.foreach(child.streams.addListener)
      val run = new StreamRun(child,
        Files.createTempDirectory(s"graft_${tag}_"), tag)
      try GraftSessions.rehome(caller, body(run))
      finally run.close(inheritedViews, listeners)
    }

  /** State partitions of a bounded catch-up: a stateful streaming
    * query instantiates state stores per shuffle partition per stateful
    * operator (a stream-stream join holds FOUR per partition), and
    * every micro-batch pays a setup/commit round per store — pure fixed
    * overhead for a catch-up over a staged file. Measured on st4s,
    * 32 → 8 partitions cut the run 2.5× with the result hash unchanged.
    * A deployment sizes this to cluster cores × state volume, and must
    * set it before `start()`: the value is pinned into the checkpoint
    * for the query's lifetime. */
  val statePartitions = 8

  /** RocksDB state store: the default HDFS-backed provider keeps every
    * store's working set in executor HEAP, and stream-stream outer
    * joins ([[IntervalJoin]]) hold BOTH sides' rows until watermark
    * eviction, so state grows with event volume × watermark horizon.
    * RocksDB spills state to local disk with a bounded block cache —
    * the production answer at 100× event volume: state capacity
    * becomes a disk budget, not a heap budget. Every streaming row
    * certifies under the provider a large deployment would run. */
  val rocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The only conf a row's session does not share with its caller. */
  val stateConf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> statePartitions.toString,
    "spark.sql.streaming.stateStore.providerClass" -> rocksDbProvider,
    // changelog checkpointing (public Spark 3.4+ RocksDB option, the
    // documented production recommendation): per batch, upload only
    // the changelog instead of a full RocksDB snapshot — snapshot cost
    // moves to the background maintenance thread, so per-batch commit
    // latency stays independent of state SIZE. Measured locally: ~20%
    // off the stream-stream join rows' wall time.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      -> "true")

  final class Ledger private[StreamRun] (path: Path) {
    def add(entry: Any): Unit =
      Files.write(path, s"$entry\n".getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    def entries: Seq[String] =
      if (Files.exists(path))
        Files.readAllLines(path, UTF_8).asScala.filter(_.nonEmpty).toSeq
      else Seq.empty
  }

  /** Default per-row stream completion bound; override with
    * `SPARK_GRAFT_STREAM_TIMEOUT_MS` when the corpus is deliberately
    * enlarged (the 100× composition bench: the st4s join state is 100×
    * the base volume — legitimate work, not a hang). Malformed values
    * fall back to the default (the Bench reps rule). */
  private def streamTimeoutMs: Long =
    sys.env.get("SPARK_GRAFT_STREAM_TIMEOUT_MS")
      .flatMap(v => Try(v.trim.toLong).toOption)
      .filter(_ > 0)
      .getOrElse(180000L)

  /** Await an AvailableNow query within the configured bound, STOPPING
    * the query before failing. The r17 100× composition run exposed
    * the leak this closes: a timed-out require left the stream
    * running, its finally deleted the staging dir under it, and the
    * orphaned join state eventually took the whole SparkContext down
    * (Spark's uncaught-fatal handler) — every query after it died on a
    * stopped context. A timeout must kill the stream it is giving up
    * on; a failed await likewise must not leak it.
    */
  def awaitBounded(q: StreamingQuery, what: String): Unit = {
    val ms = streamTimeoutMs
    val ok =
      try q.awaitTermination(ms)
      catch { case e: Throwable =>
        Try(q.stop())
        throw e
      }
    if (!ok) {
      Try(q.stop())
      throw new IllegalArgumentException(
        s"requirement failed: $what stream did not finish within ${ms}ms " +
          "(raise SPARK_GRAFT_STREAM_TIMEOUT_MS for deliberately " +
          "enlarged corpora)")
    }
  }
}
