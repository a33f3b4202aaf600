package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.queries.Warehouse
import graft.table.Snapshot

/** ST26 — STREAMING the change data feed (r18 verdict ask #3; the
  * public Delta CDF-streaming shape): o20 derives the row-level diff
  * of two versions BATCH-side; the production consumer is a STREAM
  * over committed versions — each newly committed version of the
  * snapshot table becomes one micro-batch carrying its o20 diff, so a
  * downstream job follows a 100 TB table by processing O(changes) per
  * commit instead of rescanning it.
  *
  * Composition of certified pieces: the o16 CAS manifest chain is the
  * table; the STREAM is a file stream over the manifest files
  * themselves (a new commit = a new manifest = a new file — the log IS
  * the notification channel, st25's machinery read in reverse);
  * foreachBatch resolves each arriving version and computes o20Diff
  * (v−1 → v) through the manifest reads, appending the tagged diff to
  * the feed. Version 1 diffs against EMPTY — the feed bootstraps a
  * consumer from nothing, pinned by the apply-algebra require below.
  *
  * Incrementality is driven for REAL, not asserted: run 1 consumes the
  * two pre-committed versions; v3 commits AFTER run 1 terminates; the
  * checkpointed run 2 processes EXACTLY v3 (the attempts ledger
  * requires each version diffed once, never re-diffed). The in-op
  * apply require pins the feed's defining algebra — folding the full
  * feed version-by-version over an empty table reproduces v3 exactly —
  * and the oracle hash certifies every diff row under one hash.
  *
  * Scale shape per commit: one manifest-file discovery (metadata), two
  * version scans + one key-keyed full-outer join (o20's cost), feed
  * output O(changes). Nothing rescans history; the stream's state is
  * the checkpoint's file ledger.
  */
object CdfStream {

  private val feedCols = Seq("cust_id", "segment", "bal")

  /** One version's arrival: diff (v−1 → v) through the manifest reads,
    * tagged and appended to the feed. v=1 diffs against the empty
    * table (bootstrap inserts). */
  private def diffVersion(s: SparkSession, base: String, v: Int,
      feedDir: String): Unit = {
    val cur = Snapshot.read(s, base, v)
    val prev =
      if (v == 1) cur.limit(0)
      else Snapshot.read(s, base, v - 1)
    // idempotent per-version overwrite (see DvFeedStream.feedVersion):
    // a replay after a crash rewrites the same bytes, never duplicates
    Warehouse.o20Diff(prev, cur, "cust_id", feedCols.drop(1))
      .withColumn("version", lit(v))
      .write.mode("overwrite").parquet(s"$feedDir/v$v")
  }

  def st26StreamChangeFeed(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st26") { run =>
      val s = run.session
      val table = run.dir.resolve("table")
      java.nio.file.Files.createDirectory(table)
      val base = table.toString
      val feedDir = run.dir.resolve("feed").toString
      val attempts = run.ledger("attempts")
      def tried: Seq[Int] = attempts.entries.map(_.toInt)
      // the keyed snapshot table, committed through the o16 CAS:
      // v1 = the customer dim; v2 = o10's CDC merge of it; v3 = a
      // maintenance pass (balance doubling for one cohort + a purge)
      val v1 = customer(s, d).select(col("c_custkey").as("cust_id"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))
      def commit(v: Int, df: DataFrame): Unit = {
        Warehouse.o16Stage(base, s"w$v", df)
        require(Snapshot.commit(base, v, Snapshot.Manifest(s"w$v")),
          s"st26: v$v commit failed")
        // manifests arrive as distinct micro-batches in commit order
        ManifestFeed.stamp(base, v)
      }
      commit(1, v1)
      commit(2, graft.queries.Warehouse.o10Apply(
        Snapshot.read(s, base, 1), o10ChangesFor(s, d)))
      def runOnce(): Unit =
        ManifestFeed.consume(run, base, attempts)(
          diffVersion(s, base, _, feedDir))
      runOnce()
      require(tried == Seq(1, 2),
        s"st26: run 1 must consume exactly v1,v2 in order — got $tried")
      // v3 lands AFTER the stream terminated; the checkpointed restart
      // must pick up ONLY it — the incremental contract
      commit(3, Snapshot.read(s, base, 2)
        .filter(col("cust_id") % 101 =!= 0)
        .withColumn("bal",
          when(col("cust_id") % 5 === 0, col("bal") * 2)
            .otherwise(col("bal"))))
      runOnce()
      require(tried == Seq(1, 2, 3),
        s"st26: the restart must diff exactly the new version — got $tried")

      val feed = s.read.option("recursiveFileLookup", "true")
        .parquet(feedDir).localCheckpoint()
      // the feed's defining algebra: folding it version-by-version over
      // an EMPTY table reproduces the latest snapshot exactly — a
      // consumer needs nothing but the feed
      val applied = (1 to 3).foldLeft(feed.limit(0).select(feedCols.map(col): _*)) {
        (acc, v) =>
          val fv = feed.filter(col("version") === v)
          acc.join(fv.filter(col("change_type")
              .isin("delete", "update_preimage")).select("cust_id"),
            Seq("cust_id"), "left_anti")
            .unionByName(fv.filter(col("change_type")
                .isin("insert", "update_postimage"))
              .select(feedCols.map(col): _*))
      }
      val latest = Snapshot.read(s, base, 3)
      require(Warehouse.symEqual(applied, latest, feedCols),
        "st26: folding the streamed feed over empty must reproduce v3")
      feed.select(col("version"), col("cust_id"), col("segment"),
          col("bal"), col("change_type"))
        .orderBy("version", "cust_id", "change_type")
    }

  /** The o10 change-set, re-exposed for the commit ladder (the same
    * derivation the o10/o20 rows certify). */
  private def o10ChangesFor(s: SparkSession, d: String): DataFrame =
    Warehouse.o10ChangesOf(events(s, d))

  /** The full-outer diff of two CTEs, the o20Sql shape parameterized. */
  private def diffSql(ver: Int, p: String, n: String): String =
    s"""SELECT * FROM (
      |  SELECT $ver AS version, n_key AS cust_id, n_seg AS segment,
      |    n_bal AS bal, 'insert' AS change_type
      |  FROM j$ver WHERE p_key IS NULL
      |  UNION ALL
      |  SELECT $ver, p_key, p_seg, p_bal, 'delete' FROM j$ver
      |  WHERE n_key IS NULL
      |  UNION ALL
      |  SELECT $ver, p_key, p_seg, p_bal, 'update_preimage' FROM j$ver
      |  WHERE p_key IS NOT NULL AND n_key IS NOT NULL
      |    AND (p_seg IS DISTINCT FROM n_seg OR p_bal IS DISTINCT FROM n_bal)
      |  UNION ALL
      |  SELECT $ver, n_key, n_seg, n_bal, 'update_postimage' FROM j$ver
      |  WHERE p_key IS NOT NULL AND n_key IS NOT NULL
      |    AND (p_seg IS DISTINCT FROM n_seg OR p_bal IS DISTINCT FROM n_bal))
      |""".stripMargin

  private def joinSql(ver: Int, p: String, n: String): String =
    s"""j$ver AS (
      |  SELECT p.cust_id AS p_key, p.segment AS p_seg, p.bal AS p_bal,
      |    n.cust_id AS n_key, n.segment AS n_seg, n.bal AS n_bal
      |  FROM $p p FULL JOIN $n n ON p.cust_id = n.cust_id)""".stripMargin

  val st26Sql: String =
    s"""WITH m AS (${Warehouse.o10CoreSql}),
      |v1 AS (
      |  SELECT c_custkey AS cust_id, c_mktsegment AS segment,
      |    c_acctbal AS bal
      |  FROM customer),
      |v2 AS (SELECT cust_id, segment, bal FROM m),
      |v3 AS (
      |  SELECT cust_id, segment,
      |    CASE WHEN cust_id % 5 = 0 THEN bal * 2 ELSE bal END AS bal
      |  FROM v2 WHERE cust_id % 101 <> 0),
      |v0 AS (SELECT * FROM v1 WHERE 1 = 0),
      |${joinSql(1, "v0", "v1")},
      |${joinSql(2, "v1", "v2")},
      |${joinSql(3, "v2", "v3")}
      |SELECT * FROM (
      |${diffSql(1, "v0", "v1")}
      |UNION ALL
      |${diffSql(2, "v1", "v2")}
      |UNION ALL
      |${diffSql(3, "v2", "v3")})
      |ORDER BY version, cust_id, change_type""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st26_stream_change_feed" -> st26StreamChangeFeed,
  )

  val oracle: Map[String, String] = Map(
    "st26_stream_change_feed" -> st26Sql,
  )
}
