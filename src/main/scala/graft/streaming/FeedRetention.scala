package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.queries.Warehouse
import graft.table.Snapshot

/** ST28 — feed consumption ACROSS retention vacuums (round-20 verdict
  * ask #3b, the o26×st27 composition): a CDF consumer's unread tail
  * and the table's retention window are two clocks that can cross.
  * Two cases, both driven for real through checkpointed restarts:
  *
  *  - **retention outlasts consumer lag** (the operable path): a
  *    vacuum keeps the consumer's unread tail PLUS ONE — deriving
  *    version v's feed from metadata reads manifests v−1 and v, so
  *    the retention window must cover lag + 1 (the public Delta rule:
  *    a cleaned-up commit's CDF is unreadable). The resumed stream
  *    then continues from its checkpoint as if nothing happened;
  *  - **retention outruns the consumer**: the next unread version's
  *    manifest is GONE. A file stream would simply never list it —
  *    the consumer would silently skip a commit and every downstream
  *    fold would be wrong forever. The gap guard makes this the
  *    public Delta retention-vs-streaming ERROR instead: before
  *    feeding version v, every unfed version below it must still have
  *    a manifest, else the consumer fails LOUDLY naming the vacuumed
  *    version.
  *
  * The in-op requires pin both paths (the resumed feed folds to the
  * latest read exactly; the outrun restart throws naming the exact
  * version), and the oracle certifies the successfully-fed prefix
  * under one hash.
  *
  * Scale shape: the guard is O(gap) metadata existence probes per
  * batch — nothing rescans; the vacuum/feed costs are
  * `Warehouse.vacuum`'s and st27's unchanged.
  */
object FeedRetention {

  /** Loud gap check: before feeding version `v`, every unfed version
    * below it must still be resolvable — a manifest missing for an
    * UNREAD version means retention removed a commit this consumer
    * never processed, and silently skipping it would corrupt every
    * downstream fold. (Already-fed versions may be vacuumed freely —
    * the ledger proves they were consumed.) */
  private[graft] def requireNoGap(base: String, fed: Set[Int],
      v: Int): Unit = {
    val maxFed = if (fed.isEmpty) 0 else fed.max
    ((maxFed + 1) until v).foreach { w =>
      require(fed.contains(w) ||
          Snapshot.find(base, w).isDefined,
        s"feed consumer: version $w was vacuumed before it was read — " +
          s"cannot resume at version $v; retention must outlast " +
          "consumer lag")
    }
  }

  private val cols = Seq("doc_id", "lang", "source")

  def st28FeedAcrossVacuum(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st28") { run =>
      val s = run.session
      val table = run.dir.resolve("table")
      java.nio.file.Files.createDirectory(table)
      val base = table.toString
      val feedDir = run.dir.resolve("feed").toString
      val attempts = run.ledger("attempts")
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("source"))
      def stamp(v: Int): Unit = ManifestFeed.stamp(base, v)
      Warehouse.o16Stage(base, "w0", docs.repartition(4))
      require(Snapshot.commit(base, 1, Snapshot.Manifest("w0")),
        "st28: v1 commit failed")
      stamp(1)
      require(Warehouse.o22Delete(s, base, col("doc_id") % 9 === 4, "a") == 2,
        "st28: v2 delete landed at the wrong version")
      stamp(2)
      def fedSet(): Set[Int] = attempts.entries.map(_.toInt).toSet
      // the retention guard runs BEFORE the feed or ledger move
      def runOnce(): Unit =
        ManifestFeed.consume(run, base, attempts)(
          DvFeedStream.feedVersion(s, base, _, feedDir))
      runOnce()
      require(fedSet() == Set(1, 2),
        s"st28: run 1 must consume v1,v2 — got ${fedSet()}")
      // two more commits, then a vacuum that keeps everything the
      // consumer still NEEDS: its unread tail (v3, v4) plus v2, the
      // base the v3 delta derives against — deriving version v's feed
      // from metadata reads manifests v−1 and v, so CDF retention must
      // cover consumer lag + 1 (the public Delta rule: a cleaned-up
      // commit's CDF is unreadable)
      require(Warehouse.o22Delete(s, base, col("lang") === "fr", "b") == 3,
        "st28: v3 delete landed at the wrong version")
      stamp(3)
      require(Warehouse.o22Optimize(s, base, "w1") == 4,
        "st28: v4 optimize landed at the wrong version")
      stamp(4)
      val (expired, _) = Warehouse.vacuum(base, retain = 3)
      require(expired == Seq(1),
        s"st28: the lag-safe vacuum must expire exactly v1 — " +
          s"got $expired")
      runOnce()
      require(fedSet() == Set(1, 2, 3, 4),
        s"st28: the resume across the lag-safe vacuum must feed v3,v4 " +
          s"— got ${fedSet()}")
      val feed = s.read.option("recursiveFileLookup", "true")
        .parquet(feedDir).localCheckpoint()
      require(feed.filter(col("version") === 4).isEmpty,
        "st28: the OPTIMIZE commit must contribute zero feed rows")
      // the fed prefix folds to the latest read exactly (the st27
      // apply algebra survives the vacuum)
      val applied = (1 to 4).foldLeft(
          feed.limit(0).select(cols.map(col): _*)) { (acc, v) =>
        val fv = feed.filter(col("version") === v)
        acc.join(fv.filter(col("change_type") === "delete")
            .select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(fv.filter(col("change_type") === "insert")
            .select(cols.map(col): _*))
      }
      val latest = Snapshot.read(s, base, 4)
      require(Warehouse.symEqual(applied, latest, cols),
        "st28: folding the fed prefix over empty must reproduce v4")
      // now retention OUTRUNS the consumer: v5 commits and is vacuumed
      // away before any run sees it; v6 commits and survives
      require(Warehouse.o22Delete(s, base, col("doc_id") % 11 === 7, "c")
          == 5, "st28: v5 delete landed at the wrong version")
      stamp(5)
      require(Warehouse.o22Delete(s, base, col("doc_id") % 13 === 8, "e")
          == 6, "st28: v6 delete landed at the wrong version")
      stamp(6)
      val (expired2, _) = Warehouse.vacuum(base, retain = 1)
      require(expired2 == Seq(2, 3, 4, 5),
        s"st28: the outrun vacuum must expire v2..v5 — got $expired2")
      val outrun = scala.util.Try(runOnce())
      require(outrun.isFailure,
        "st28: resuming across a vacuumed UNREAD version must fail")
      val msg = Iterator.iterate[Throwable](outrun.failed.get)(_.getCause)
        .takeWhile(_ != null).take(8)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      require(msg.contains("version 5"),
        s"st28: the failure must name the vacuumed version, got: $msg")
      require(fedSet() == Set(1, 2, 3, 4),
        "st28: the failed resume must feed NOTHING (no silent skip)")
      feed.select(col("version"), col("doc_id"), col("lang"),
          col("source"), col("change_type"))
        .orderBy("version", "doc_id")
    }

  val st28Sql: String =
    """SELECT * FROM (
      |  SELECT 1 AS version, doc_id, lang, source,
      |    'insert' AS change_type
      |  FROM documents
      |  UNION ALL
      |  SELECT 2, doc_id, lang, source, 'delete'
      |  FROM documents WHERE doc_id % 9 = 4
      |  UNION ALL
      |  SELECT 3, doc_id, lang, source, 'delete'
      |  FROM documents WHERE doc_id % 9 <> 4 AND lang = 'fr')
      |ORDER BY version, doc_id""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st28_feed_across_vacuum" -> st28FeedAcrossVacuum,
  )

  val oracle: Map[String, String] = Map(
    "st28_feed_across_vacuum" -> st28Sql,
  )
}
