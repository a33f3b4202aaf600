package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** ST16 — the streaming CDC pipeline: a change stream applied to a keyed
  * snapshot by MERGE (o10's full-outer apply) inside `foreachBatch`,
  * snapshot versions swapped ATOMICALLY (the a13/st9 staged-rename
  * discipline) with a per-batch commit marker (the st14 idempotence
  * discipline — a replayed batch that finds its marker is skipped).
  * This is the production shape "Kafka CDC topic → continuously
  * maintained dimension table" built from the pieces the engine already
  * certifies one-by-one.
  *
  * Ordering is the POINT, not a nuisance: applying change batches
  * sequentially is NOT equivalent to one global latest-per-key merge —
  * a key deleted in batch 1 and upserted in batch 2 RE-ENTERS as a new
  * row (original attributes gone, segment `UNKNOWN`), whereas a global
  * merge would have kept its base attributes. The harness splits the
  * event stream at a deterministic event-id boundary into two
  * micro-batches (`maxFilesPerTrigger=1` + mtime order) and the oracle
  * replays the SEQUENTIAL two-stage merge in SQL — certifying the
  * order-sensitive semantics, which a streaming CDC consumer must have.
  *
  * Scale shape per batch: one window over the BATCH (batch-sized, not
  * corpus-sized), one full-outer join against the current snapshot —
  * the same two exchanges however long the stream has run; snapshot
  * size is entity-bounded. With a transactional table format the swap
  * becomes a commit; the marker discipline transfers unchanged.
  */
object CdcMerge {

  def st16StreamingCdcMerge(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st16") { run =>
      val s = run.session
      val inDir = run.dir.resolve("in")
      val snapRoot = run.dir.resolve("snapshot")
      java.nio.file.Files.createDirectories(inDir)
      java.nio.file.Files.createDirectories(snapRoot)
      val hPath = new org.apache.hadoop.fs.Path(snapRoot.toString)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      val boundary = (ev.agg(max(col("event_id"))).head().getLong(0) + 1) / 2

      // stage the two change batches as single files in mtime order —
      // ONE clustered staging job
      run.stageTagged(ev,
        when(col("event_id") < boundary, lit("a_batch1"))
          .otherwise(lit("b_batch2")),
        Seq("a_batch1", "b_batch2"), inDir)

      // snapshot v0 = the customer base
      customer(s, d).select(col("c_custkey").as("cust_id"),
          col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))
        .write.parquet(s"$snapRoot/current")

      val evSchema = ev.schema
      val stream = s.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      run.catchUp(stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          mergeBatch(s, snapRoot.toString, batch, batchId)
        })
      require(fs.exists(new org.apache.hadoop.fs.Path(
        s"$snapRoot/_committed_1")), "st16: expected two merged batches")
      s.read.parquet(s"$snapRoot/current")
        .localCheckpoint()
        .orderBy("cust_id")
    }

  /** The foreachBatch body, factored for `CdcMergeSpec`: merge one
    * change batch into the `current` snapshot under `snapRoot`,
    * skipping entirely if this batchId's commit marker exists (the
    * replay/idempotence contract), and swapping versions by rename so
    * `current` is never half-written.
    *
    * Crash-window semantics, for the record: a crash BEFORE the promote
    * rename leaves `current` untouched (staging debris only — replay
    * re-merges cleanly after clearing `.staging_*`); a crash BETWEEN the
    * promote and the marker leaves the batch applied but unmarked — the
    * replay's retire rename then fails LOUDLY (`v_$batchId` already
    * exists) instead of double-applying. Double-apply would actually be
    * value-idempotent here (same change-set: U re-sets the same balance,
    * D re-deletes, insert re-inserts identically), but loud-fail is the
    * safer default for a merge whose change-set derivation could someday
    * stop being deterministic; a transactional table format collapses
    * promote+marker into one commit and removes the window entirely.
    */
  private[graft] def mergeBatch(s: SparkSession, snapRoot: String,
      batch: DataFrame, batchId: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(snapRoot)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(
      s"$snapRoot/_committed_$batchId")
    if (!fs.exists(marker)) { // replayed batch: already merged, skip
      val chg = graft.queries.Warehouse.o10ChangesOf(batch)
      val cur = s.read.parquet(s"$snapRoot/current")
      val staging = s"$snapRoot/.staging_$batchId"
      graft.queries.Warehouse.o10Apply(cur, chg)
        .write.parquet(staging)
      // atomic swap: retire the old version, promote the staging dir,
      // then commit the marker — a reader of `current` never sees a
      // half-written snapshot (the a13/st9 discipline)
      val curP = new org.apache.hadoop.fs.Path(s"$snapRoot/current")
      require(fs.rename(curP,
        new org.apache.hadoop.fs.Path(s"$snapRoot/v_$batchId")),
        s"st16: could not retire snapshot for batch $batchId")
      require(fs.rename(new org.apache.hadoop.fs.Path(staging), curP),
        s"st16: could not promote snapshot for batch $batchId")
      fs.create(marker).close()
    }
  }

  /** One sequential merge stage in DuckDB SQL (mirrors
    * [[graft.queries.Warehouse.o10Apply]] + `o10ChangesOf` over an
    * event-id slice).
    */
  private def stageSql(prevRel: String, chgRel: String): String =
    s"""SELECT coalesce(b.cust_id, c.cust_id) AS cust_id,
      |    coalesce(b.segment, 'UNKNOWN') AS segment,
      |    CASE WHEN c.op = 'U' THEN c.new_bal ELSE b.bal END AS bal
      |  FROM $prevRel b FULL JOIN $chgRel c ON b.cust_id = c.cust_id
      |  WHERE c.op IS NULL OR c.op = 'U'""".stripMargin

  private def chgSql(pred: String): String =
    s"""SELECT cust_id, op, new_bal FROM (
      |    SELECT user_id AS cust_id,
      |      CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |      value AS new_bal,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events, bnd
      |    WHERE event_type IN ('purchase', 'signup', 'error') AND $pred)
      |  WHERE rn = 1""".stripMargin

  val st16Sql: String =
    s"""WITH bnd AS (SELECT (max(event_id) + 1) // 2 AS b FROM events),
      |base AS (
      |  SELECT c_custkey AS cust_id, c_mktsegment AS segment,
      |    c_acctbal AS bal FROM customer),
      |chg1 AS (
      |  ${chgSql("event_id < bnd.b")}),
      |snap1 AS (
      |  ${stageSql("base", "chg1")}),
      |chg2 AS (
      |  ${chgSql("event_id >= bnd.b")}),
      |snap2 AS (
      |  ${stageSql("snap1", "chg2")})
      |SELECT cust_id, segment, bal FROM snap2 ORDER BY cust_id""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st16_streaming_cdc_merge" -> st16StreamingCdcMerge,
  )

  val oracle: Map[String, String] = Map(
    "st16_streaming_cdc_merge" -> st16Sql,
  )
}
