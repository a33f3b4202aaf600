package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** o15 OPTIMIZE-as-snapshot-commit: content identity across the
  * rewrite, immutability of the fragmented version's files, the
  * bin-pack file-count contract, version-id burn, and composability
  * with o13 retention (vacuum expires the fragmented version, the
  * optimized one keeps serving).
  */
class OptimizeSpec extends SparkSpecBase {

  private def freshTable(): (String, org.apache.hadoop.fs.FileSystem) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o15spec_")
    val fs = new org.apache.hadoop.fs.Path(dir.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (dir.toString, fs)
  }

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem, base: String,
      v: Int): Array[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(
      new org.apache.hadoop.fs.Path(
        Snapshot.dataPath(base, Snapshot.manifestOf(base, v).token)))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))

  private def docs() = graft.Tables.documents(spark, sf)
    .select(col("doc_id"), col("lang"), col("source"))

  test("optimize rewrites layout, never content; the old version's files never move") {
    val (base, fs) = freshTable()
    try {
      Warehouse.o12Commit(base, 0, docs().repartition(16),
        keepLayout = true)
      val before = dataFiles(fs, base, 0)
        .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      assert(before.length > 1, "fragmentation did not materialize")

      val v0 = Snapshot.read(spark, base, 0)
      val bound = graft.sink.Compact.targetFileCount(
        dataFiles(fs, base, 0).map(_.getLen).sum, Warehouse.O15TargetBytes)
      Warehouse.o12Commit(base, 1,
        v0.repartitionByRange(bound, col("doc_id"))
          .sortWithinPartitions("doc_id"), keepLayout = true)

      // content identity under the rewrite
      val a = Snapshot.read(spark, base, 0)
      val b = Snapshot.read(spark, base, 1)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "optimize changed table content")
      // the fragmented version is untouched: same files, sizes, mtimes
      val after = dataFiles(fs, base, 0)
        .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      assert(after.toSeq.sorted == before.toSeq.sorted,
        "optimize touched the old version's files")
      // the new layout meets the bin-pack bound and actually shrank
      val optimized = dataFiles(fs, base, 1)
      assert(optimized.length <= bound && optimized.length < before.length,
        s"files ${before.length} -> ${optimized.length}, bound $bound")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("an optimized version's id burns like any commit") {
    val (base, _) = freshTable()
    try {
      Warehouse.o12Commit(base, 0, docs().repartition(4), keepLayout = true)
      Warehouse.o12Commit(base, 1,
        Snapshot.read(spark, base, 0).coalesce(1),
        keepLayout = true)
      val e = intercept[IllegalArgumentException] {
        Warehouse.o12Commit(base, 1, docs())
      }
      assert(e.getMessage.contains("high-water mark"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("retention composes: vacuum expires the fragmented version, the optimized one serves") {
    val (base, _) = freshTable()
    try {
      Warehouse.o12Commit(base, 0, docs().repartition(4), keepLayout = true)
      val n0 = Snapshot.read(spark, base, 0).count()
      Warehouse.o12Commit(base, 1,
        Snapshot.read(spark, base, 0).coalesce(1),
        keepLayout = true)
      val (expired, _) = Warehouse.vacuum(base, retain = 1)
      assert(expired == Seq(0))
      assert(Snapshot.read(spark, base, 1).count() == n0)
      val e = intercept[IllegalArgumentException] {
        Snapshot.read(spark, base, 0)
      }
      assert(e.getMessage.contains("not committed"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(base))
  }

  test("the registered query's two versions hash to the same per-version content") {
    val got = Warehouse.o15OptimizeSnapshot(spark, sf)
    val n = docs().count()
    val per = got.groupBy("version").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(per == Map(0 -> n, 1 -> n))
  }
}
