package graft.queries

import graft.SparkSpecBase
import graft.table.{Snapshot, TableLog}

/** o13 vacuum ([[Warehouse.vacuum]] over the o12 snapshot table): the
  * unlink-before-delete protocol's crash windows and retention edges.
  * The invariant under test: a live-manifest reader can NEVER observe
  * a partial delete — a version's manifest goes before any of its
  * files — and a crashed vacuum is completed, not wedged, by the next
  * run.
  */
class VacuumSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshTable(withVersions: Int): String = {
    val base = java.nio.file.Files
      .createTempDirectory("graft_o13spec_").toString
    (0 until withVersions).foreach(v =>
      Warehouse.o12Commit(base, v, Seq((v.toLong, s"v$v")).toDF("k", "s")))
    base
  }

  /** The data dir version `v`'s manifest names. */
  private def dataDir(base: String, v: Int) =
    new java.io.File(
      Snapshot.dataPath(base, Snapshot.manifestOf(base, v).token))

  test("o13 expires oldest versions, newest stay readable") {
    val base = freshTable(4)
    try {
      val (v0, v1) = (dataDir(base, 0), dataDir(base, 1))
      assert(Warehouse.vacuum(base, 2)._1 === Seq(0, 1))
      assert(TableLog.versions(base) === Seq(2, 3))
      assert(!v0.exists())
      assert(!v1.exists())
      assert(Snapshot.read(spark, base, 2).count() === 1L)
      assert(Snapshot.read(spark, base, 3).count() === 1L)
      val e = intercept[IllegalArgumentException] {
        Snapshot.read(spark, base, 0)
      }
      assert(e.getMessage.contains("not committed"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("o13 crash after manifest swap: reader safe, re-run completes") {
    val base = freshTable(3)
    try {
      // simulate the crash window: manifest-0 already unlinked but
      // version 0's files were never deleted
      val v0 = dataDir(base, 0)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(base, TableLog.manifest(0)))
      assert(v0.exists(), "crash precondition")
      // the live-manifest reader already fails loudly — it can never
      // see the undeleted files as data
      val e = intercept[IllegalArgumentException] {
        Snapshot.read(spark, base, 0)
      }
      assert(e.getMessage.contains("not committed"))
      // re-running the vacuum expires nothing new but sweeps the debris
      assert(Warehouse.vacuum(base, 2)._1 === Seq.empty)
      assert(!v0.exists(),
        "re-run must complete the crashed delete")
      assert(TableLog.versions(base) === Seq(1, 2))
      assert(Snapshot.read(spark, base, 1).count() === 1L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("o13 retention wider than history is a no-op") {
    val base = freshTable(2)
    try {
      assert(Warehouse.vacuum(base, 5)._1 === Seq.empty)
      assert(TableLog.versions(base) === Seq(0, 1))
      assert(dataDir(base, 0).exists())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("o13 vacuum never frees an expired version id for reuse") {
    val base = freshTable(3)
    try {
      assert(Warehouse.vacuum(base, 2)._1 === Seq(0))
      // the high-water mark survives the vacuum: recommitting the
      // expired id must be REJECTED, so a reader's `VERSION AS OF 0`
      // can never silently resolve to unrelated new data (the
      // immutability contract o12 documents — reference table formats
      // never reuse snapshot ids)
      assert(TableLog.versions(base).lastOption === Some(2))
      val e = intercept[IllegalArgumentException] {
        Warehouse.o12Commit(base, 0, Seq((99L, "re")).toDF("k", "s"))
      }
      assert(e.getMessage.contains("high-water"))
      assert(TableLog.versions(base) === Seq(1, 2))
      // a FRESH id above the mark commits normally
      Warehouse.o12Commit(base, 3, Seq((99L, "re")).toDF("k", "s"))
      assert(TableLog.versions(base) === Seq(1, 2, 3))
      assert(TableLog.versions(base).lastOption === Some(3))
      assert(Snapshot.read(spark, base, 3)
        .collect().map(_.getLong(0)).toSeq === Seq(99L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("vacuum refuses retain = 0: the newest manifest, and with it the high-water mark, always stays") {
    val base = freshTable(2)
    try {
      val e = intercept[IllegalArgumentException] {
        Warehouse.vacuum(base, 0)
      }
      assert(e.getMessage.contains("retain must be at least 1"))
      assert(TableLog.versions(base) === Seq(0, 1))
      assert(TableLog.versions(base).lastOption === Some(1))
      assert(dataDir(base, 0).exists() && dataDir(base, 1).exists())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }
}
