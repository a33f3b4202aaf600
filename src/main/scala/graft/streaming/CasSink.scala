package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.queries.Warehouse
import graft.table.{Snapshot, TableLog}

/** ST25 — exactly-once streaming INTO the o16 CAS snapshot table: the
  * public Delta-Lake streaming-sink shape (idempotent writes keyed by
  * (appId, batchId) against the transaction log), composed from the
  * pieces the surface already certifies separately — st14's
  * at-least-once replay window and o16's optimistic manifest commit.
  *
  * Where st14 dedupes replays with a SIDE marker file, here the
  * TRANSACTION LOG ITSELF is the idempotence mechanism: each micro-batch
  * stages its data under the stream-and-batch-keyed token
  * `batch-<appId>-<id>` and commits one manifest naming that token
  * through the o16 create-if-absent CAS.
  * A batch replayed after a crash that hit AFTER its commit but BEFORE
  * Spark's checkpoint recorded it (the exact window this row injects)
  * finds a manifest already naming its token and SKIPS — no duplicate
  * version, no duplicate rows — while a batch replayed after a
  * pre-commit crash re-stages (overwrite of its own unique token, never
  * a race) and commits normally. Readers resolve strictly through the
  * manifest chain: the table is the union of committed versions (the
  * add-file log model), so a half-staged batch is invisible.
  *
  * Scale shape: the probe is one directory listing of manifest names
  * per batch, the commit one metadata create — both independent of
  * batch or table size; data files never rewrite after commit. N
  * concurrent stream shards would interleave through the same CAS,
  * each retrying only its own commit (o16's contract).
  */
object CasSink {

  /** Is this stream's batch `bid` already committed? Tokens carry the
    * STREAM identity (`batch-<appId>-<bid>` — Delta's SetTransaction
    * (appId, version) keying), so N shards sharing one table never
    * mistake each other's batches for their own. Newest-first scan
    * with an early exit at the first of THIS stream's commits with a
    * LOWER batch id — a serial stream commits batch ids in ascending
    * order, so the probe is O(1) amortized (typically one manifest
    * read), not a log scan. Foreign tokens — another appId's batches,
    * non-batch writers, malformed suffixes — are skipped, never
    * matched and never terminators. */
  private def committed(base: String, appId: String, bid: Long): Boolean =
    TableLog.versions(base).reverseIterator
      .map(v => Snapshot.manifestOf(base, v).token)
      .collectFirst {
        case t if t == s"batch-$appId-$bid" => true
        case t if t.startsWith(s"batch-$appId-") &&
          scala.util.Try(t.stripPrefix(s"batch-$appId-").toLong)
            .toOption.exists(_ < bid) => false
      }.getOrElse(false)

  /** Idempotent per-batch commit for stream `appId`: skip iff some
    * manifest already names this (appId, batch) token; otherwise stage
    * (own token — overwrite-safe on replay) and CAS-publish, retrying
    * against newer state on conflict. Each retry RE-CHECKS the log
    * first: a zombie/duplicate attempt of the same batch racing this
    * loop loses the CAS to its twin and must then SEE the twin's
    * manifest and stand down — re-publishing would union the batch's
    * data twice. `afterCommitHook` is the harness's crash injection
    * point (a no-op in production use). */
  private[graft] def commitBatch(base: String, appId: String,
      bdf: DataFrame, bid: Long,
      afterCommitHook: () => Unit = () => ()): Unit = {
    val token = s"batch-$appId-$bid"
    if (committed(base, appId, bid)) return
    Warehouse.o16Stage(base, token, bdf)
    var done = false
    while (!done && !committed(base, appId, bid)) {
      val latest = TableLog.latest(base)
      done = Snapshot.commit(base, latest + 1, Snapshot.Manifest(token))
    }
    if (done) afterCommitHook()
  }

  /** Read the table through the manifest chain: union of every
    * committed version's data, tagged with its version. */
  private[graft] def readLog(s: SparkSession, base: String): DataFrame =
    TableLog.versions(base)
      .map(v => Snapshot.read(s, base, v).withColumn("version", lit(v)))
      .reduce(_ unionByName _)

  def st25StreamCasSink(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st25") { run =>
      val s = run.session
      val rawSchema = eventsRaw(s, d).schema
      val data = run.dir.resolve("data")
      val table = run.dir.resolve("table")
      java.nio.file.Files.createDirectory(table)
      val base = table.toString
      val attempts = run.ledger("attempts")
      val failFlag = run.dir.resolve("fail_once")

      def writeBatch(bdf: DataFrame, bid: Long): Unit = {
        attempts.add(bid)
        commitBatch(base, "st25", bdf.select(col("ts"), col("event_type"),
            col("value")), bid,
          // the injected crash fires AFTER the manifest commit but BEFORE
          // Spark's checkpoint records the batch — the window only the
          // transaction log itself can dedupe (st14's side marker would
          // equally be written by then; the point is the LOG carries the
          // idempotence, no second mechanism)
          afterCommitHook = () =>
            if (java.nio.file.Files.deleteIfExists(failFlag))
              sys.error("st25: injected crash after commit, before checkpoint"))
      }

      def runOnce(): Unit = {
        val streamEv = normalizeTs(s.readStream
          .schema(rawSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(data.toString))
        run.catchUp(streamEv.writeStream
          .foreachBatch((bdf: DataFrame, bid: Long) => writeBatch(bdf, bid))
          .option("checkpointLocation", run.dir.resolve("cp").toString))
      }

      run.stageEvents(d, "data/a.parquet")
      java.nio.file.Files.createFile(failFlag)
      run.expectInjectedCrash(runOnce())
      run.stageEvents(d, "data/b.parquet")
      runOnce()
      val tries = attempts.entries
      require(tries.count(_ == "0") == 2,
        s"st25: batch 0 entered ${tries.count(_ == "0")} times, expected 2 " +
          "(crashed-after-commit attempt + skipped replay)")
      // the log holds EXACTLY one version per batch — the replayed
      // batch 0 detected its own prior commit in the manifest chain
      require(TableLog.versions(base) == Seq(1, 2),
        s"st25: expected versions {1,2}, got ${TableLog.versions(base)}")
      require(Seq(1, 2).map(Snapshot.manifestOf(base, _).token) ==
          Seq("batch-st25-0", "batch-st25-1"),
        "st25: version chain must map 1:1 onto (appId, batch) tokens")
      readLog(s, base)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("version")).as("n_versions"),
          dsum(col("value")).as("total_value"))
        .localCheckpoint()
        .orderBy("event_type")
    }

  /** Two staged copies of the corpus, one committed version each —
    * a duplicated batch-0 commit would show 2× its share and 3
    * versions. */
  val st25Sql: String =
    """SELECT event_type, 2 * count(*) AS n, CAST(2 AS BIGINT) AS n_versions,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 2 AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st25_stream_cas_sink" -> st25StreamCasSink,
  )

  val oracle: Map[String, String] = Map(
    "st25_stream_cas_sink" -> st25Sql,
  )
}
