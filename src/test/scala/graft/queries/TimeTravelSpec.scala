package graft.queries

import graft.SparkSpecBase
import graft.table.{Snapshot, TableLog}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** o12 snapshot versioning: commits are manifest-gated and append-only,
  * committed versions are immutable under later commits, uncommitted or
  * staged-debris versions are unreadable — loudly, not as partial data —
  * and racing commits at one version leave exactly one winner.
  */
class TimeTravelSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_o12spec_").toString

  test("o12 committed versions are immutable and manifest-ordered") {
    val base = freshTable()
    try {
      val v0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      Warehouse.o12Commit(base, 0, v0)
      val v0Pre = Snapshot.read(spark, base, 0).collect().sortBy(_.getLong(0))
      Warehouse.o12Commit(base, 1, Seq((1L, "a2"), (3L, "c")).toDF("k", "v"))
      assert(TableLog.versions(base) === Seq(0, 1))
      val v0Post = Snapshot.read(spark, base, 0).collect().sortBy(_.getLong(0))
      assert(v0Pre.toSeq === v0Post.toSeq,
        "a later commit must not change an earlier version's rows")
      assert(Snapshot.read(spark, base, 1).count() === 2L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("o12 uncommitted versions fail loudly; staged debris is invisible") {
    val base = freshTable()
    try {
      Warehouse.o12Commit(base, 0, Seq((1L, "a")).toDF("k", "v"))
      val e = intercept[IllegalArgumentException] {
        Snapshot.read(spark, base, 7)
      }
      assert(e.getMessage.contains("not committed"))
      // simulate a crash between staging and the manifest create: a
      // staged token exists but no manifest names it
      Seq((9L, "z")).toDF("k", "v").write
        .parquet(s"$base/data-v2-crashed")
      assert(TableLog.versions(base) === Seq(0),
        "staged debris must not appear in the manifest")
      val e2 = intercept[IllegalArgumentException] {
        Snapshot.read(spark, base, 2)
      }
      assert(e2.getMessage.contains("not committed"))
      // re-running the crashed commit completes it
      Warehouse.o12Commit(base, 2, Seq((9L, "z")).toDF("k", "v"))
      assert(TableLog.versions(base) === Seq(0, 2))
      assert(Snapshot.read(spark, base, 2)
        .collect().map(_.getLong(0)).toSeq === Seq(9L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("o12 rejects a version below 0 on an empty table") {
    val base = freshTable()
    try {
      // the empty table's high-water mark is -1: `manifest--1` would
      // commit a version no listing, reader or vacuum can see
      val e = intercept[IllegalArgumentException] {
        Warehouse.o12Commit(base, -1, Seq((1L, "a")).toDF("k", "v"))
      }
      assert(e.getMessage.contains("high-water"))
      assert(TableLog.versions(base).isEmpty)
      assert(!new java.io.File(base, TableLog.manifest(-1)).exists())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("o12 crash between data rename and manifest swap is re-runnable") {
    val base = freshTable()
    try {
      Warehouse.o12Commit(base, 0, Seq((1L, "a")).toDF("k", "v"))
      // simulate the crash window: an earlier attempt staged its token
      // (with stale content) but never created the manifest
      Seq((8L, "stale")).toDF("k", "v").write
        .parquet(s"$base/data-v1-crashed")
      assert(TableLog.versions(base) === Seq(0))
      val e = intercept[IllegalArgumentException] {
        Snapshot.read(spark, base, 1)
      }
      assert(e.getMessage.contains("not committed"))
      // re-running the commit must commit its own data, never the debris
      Warehouse.o12Commit(base, 1, Seq((9L, "z")).toDF("k", "v"))
      assert(TableLog.versions(base) === Seq(0, 1))
      assert(Snapshot.read(spark, base, 1)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((9L, "z")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("o12 racing commits at one version: one winner, losers conflict, vacuum sweeps their staging") {
    val swept = (1 to 10).map { round =>
      val base = freshTable()
      try {
        val frames = (0 until 4).map(i => Seq((i.toLong, s"w$i")).toDF("k", "v"))
        val results = graft.table.TableLogSpec.race(4)(i =>
          Try(Warehouse.o12Commit(base, 0, frames(i))))
        val winners = results.collect { case (i, Success(_)) => i }.toSeq
        assert(winners.size == 1, s"round $round: winners $winners")
        // a loser either lost the create or saw the winner's manifest
        // at its high-water check — a conflict either way
        results.values.collect { case Failure(e) => e }.foreach { e =>
          assert(e.isInstanceOf[IllegalArgumentException] &&
            (e.getMessage.contains("conflict") ||
              e.getMessage.contains("high-water")), s"round $round: $e")
        }
        val w = winners.head
        assert(Snapshot.read(spark, base, 0).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq ===
          Seq((w.toLong, s"w$w")), s"round $round: not the winner's rows")
        val won = "data-" + Snapshot.manifestOf(base, 0).token
        def tokens(): Set[String] =
          graft.Tables.listDir(java.nio.file.Paths.get(base))
            .map(_.getFileName.toString).filter(_.startsWith("data-")).toSet
        val staged = tokens()
        assert(Warehouse.vacuum(base, 1, 0L) ==
          ((Seq(), (staged - won).toSeq.sorted)),
          s"round $round: the vacuum must sweep exactly the losers' staging")
        assert(tokens() == Set(won))
        assert(Snapshot.read(spark, base, 0).count() === 1L)
        staged.size - 1
      } finally org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(base))
    }
    assert(swept.sum > 0, "no loser ever staged — the race never ran")
  }

  test("o12 v1 equals the o10 merge applied to the committed v0") {
    val out = Warehouse.o12TimeTravel(spark, sf)
    val v1 = out.filter(col("version") === 1)
      .select("cust_id", "segment", "bal")
    val merged = Warehouse.o10MergeUpsert(spark, sf)
    assert(v1.count() === merged.count())
    assert(v1.exceptAll(merged).count() === 0L,
      "time-travelled v1 must be exactly the merge of v0 + changes")
  }
}
