package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.queries.{Warehouse, WarehouseDeletes}
import graft.table.{Snapshot, TableLog}

/** ST29 — the streaming CDC DELETE writer (the o27×st16 composition the
  * r19 verdict motivated equality deletes with: "a streaming CDC writer
  * deletes BY KEY without a scan"): each micro-batch of the change
  * stream derives its delete keys (users whose latest event in the
  * batch is an error — the o10 'D' shape, batch-scoped) and commits ONE
  * equality-delete file through the CAS. Per batch: O(keys) metadata +
  * one commit — the table's data is never opened.
  *
  * The zero-scan property is proved for the WHOLE PIPELINE, not per
  * call: the table's data directory is renamed away before the stream
  * starts and restored only after both checkpointed runs complete —
  * two versions commit while the table's bytes are physically absent.
  * This is the operational shape that matters at 100 TB: the GDPR/CDC
  * delete consumer keeps up with its topic at metadata cost, and the
  * masked-read/conversion/OPTIMIZE machinery (o22/o27) amortizes the
  * scan cost to maintenance windows.
  *
  * Incrementality is driven for real: run 1 consumes batch 1 (→ v2);
  * batch 2 lands after it terminates; the checkpointed restart commits
  * exactly v3. Batch replay is a no-op through the batch-id ledger
  * (st14's idempotence discipline). In-op requires pin the manifest
  * ladder (eq entries accumulate, each applying to the tokens committed
  * before it; minReader:2 stamped — the o32 gate), the byte-identity of
  * the data files across the whole run, and the ledger. The oracle
  * certifies all three versions' visible rows (sequential batch-scoped
  * key sets — the order-sensitive CDC semantics, like st16's).
  *
  * Upserts are deliberately out of scope here — they are o28's
  * DV-aware MERGE, and a full CDC consumer composes the two paths:
  * deletes ride this zero-scan lane, upserts pay their one matched-key
  * scan.
  */
object CdcEqDelete {

  def st29StreamEqDelete(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st29") { run =>
      import java.nio.file.{Files, Paths}
      val s = run.session
      val table = run.dir.resolve("table")
      val inDir = run.dir.resolve("in")
      Files.createDirectory(table)
      Files.createDirectory(inDir)
      val base = table.toString
      val attempts = run.ledger("attempts")
      val cust = customer(s, d).select(col("c_custkey").as("cust_id"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))
      Warehouse.o16Stage(base, "w0", cust.repartition(4))
      require(Snapshot.commit(base, 1, Snapshot.Manifest("w0")),
        "st29: v1 commit failed")
      def dataFiles(): Seq[(String, Long)] = TableLog.files(table,
        p => p.toString.contains("/data-") && TableLog.noMarkers(p))
      val before = dataFiles()

      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      val boundary = (ev.agg(max(col("event_id"))).head().getLong(0) + 1) / 2
      def stageBatch(df: DataFrame, name: String, bump: Long): Unit = {
        val scratch = run.dir.resolve(s"scratch_$name")
        df.coalesce(1).write.parquet(scratch.toString)
        val part = graft.Tables.listDir(scratch)
          .find(_.toString.endsWith(".parquet")).get
        val target = inDir.resolve(s"$name.parquet")
        Files.copy(part, target)
        Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() + bump))
      }
      def fedBatches(): Seq[Long] = attempts.entries.map(_.toLong)
      val evSchema = ev.schema
      def runOnce(): Unit = {
        val stream = s.readStream.schema(evSchema)
          .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
        run.catchUp(stream.writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            if (!fedBatches().contains(batchId)) {
              // replay idempotence at the COMMIT level too: a crash
              // between the eq commit and the ledger append re-fires
              // the batch — probing the latest manifest for this
              // batch's entry makes the replay a true no-op instead of
              // a duplicate eq entry shifting the version ladder
              val latest = TableLog.latest(base)
              val committed = latest > 0 &&
                Snapshot.manifestOf(base, latest).eqs
                  .exists(_._1 == s"k$batchId")
              if (!committed) {
                // the batch's delete keys: its own latest-per-user 'D'
                // rows — O(batch) work, zero table reads
                val keys = Warehouse.o10ChangesOf(batch)
                  .filter(col("op") === "D").select("cust_id")
                WarehouseDeletes.o27EqDelete(s, base, keys, s"k$batchId")
              }
              attempts.add(batchId)
            }
            ()
          }
          .option("checkpointLocation", run.dir.resolve("cp").toString))
      }

      // the WHOLE streaming phase runs with the table's data absent —
      // any scan anywhere in the delete path fails loudly
      stageBatch(ev.filter(col("event_id") < boundary), "a_batch1", 0L)
      Files.move(Paths.get(base, "data-w0"), Paths.get(base, "offline-w0"))
      try {
        runOnce()
        require(fedBatches() == Seq(0L),
          s"st29: run 1 must commit exactly batch 0 — got ${fedBatches()}")
        require(TableLog.latest(base) == 2,
          "st29: batch 1 must land as version 2")
        // batch 2 arrives AFTER run 1 terminated; the checkpointed
        // restart commits exactly it
        stageBatch(ev.filter(col("event_id") >= boundary), "b_batch2",
          60000L)
        runOnce()
        require(fedBatches() == Seq(0L, 1L),
          s"st29: the restart must commit exactly batch 1 — got " +
            s"${fedBatches()}")
        require(TableLog.latest(base) == 3,
          "st29: batch 2 must land as version 3")
      } finally Files.move(Paths.get(base, "offline-w0"),
        Paths.get(base, "data-w0"))
      require(dataFiles() == before,
        "st29: the CDC delete pipeline must not touch a data byte")
      val m2 = Snapshot.manifestOf(base, 2)
      val m3 = Snapshot.manifestOf(base, 3)
      require(m2.eqs == Seq("k0" -> Seq("w0")) && m2.minReader == 2 &&
          m3.eqs == Seq("k0" -> Seq("w0"), "k1" -> Seq("w0")) &&
          m3.minReader == 2,
        s"st29: the eq ladder must accumulate per batch, got $m2 / $m3")
      (1 to 3).map(v =>
          Snapshot.read(s, base, v).withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select(col("version"), col("cust_id"), col("segment"), col("bal"))
        .orderBy("version", "cust_id")
        .localCheckpoint()
    }

  private def keysSql(pred: String): String =
    s"""SELECT cust_id FROM (
      |    SELECT user_id AS cust_id, event_type,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events, bnd
      |    WHERE event_type IN ('purchase', 'signup', 'error') AND $pred)
      |  WHERE rn = 1 AND event_type = 'error'""".stripMargin

  val st29Sql: String =
    s"""WITH bnd AS (SELECT (max(event_id) + 1) // 2 AS b FROM events),
      |base AS (
      |  SELECT c_custkey AS cust_id, c_mktsegment AS segment,
      |    c_acctbal AS bal FROM customer),
      |k1 AS (
      |  ${keysSql("event_id < bnd.b")}),
      |k2 AS (
      |  ${keysSql("event_id >= bnd.b")}),
      |v2 AS (SELECT * FROM base
      |       WHERE cust_id NOT IN (SELECT cust_id FROM k1)),
      |v3 AS (SELECT * FROM v2
      |       WHERE cust_id NOT IN (SELECT cust_id FROM k2))
      |SELECT * FROM (
      |  SELECT 1 AS version, cust_id, segment, bal FROM base
      |  UNION ALL SELECT 2, cust_id, segment, bal FROM v2
      |  UNION ALL SELECT 3, cust_id, segment, bal FROM v3)
      |ORDER BY version, cust_id""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st29_stream_eq_delete" -> st29StreamEqDelete,
  )

  val oracle: Map[String, String] = Map(
    "st29_stream_eq_delete" -> st29Sql,
  )
}
