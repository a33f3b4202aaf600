package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** o30 — file-level conflict classification (o25's next rung, the
  * Delta ConflictChecker shape at file granularity). The registered
  * query drives the corpus ladder; this spec pins the three-way
  * interleave on a controlled two-file table, naming which writer
  * re-derives in each case:
  *
  *  - disjoint files → the losing DELETER rebases (2 CAS attempts,
  *    staged delta untouched);
  *  - delete commits first → the stale OPTIMIZE re-derives;
  *  - optimize commits first → the stale DELETER re-derives (its
  *    addresses are orphaned — applying them would delete nothing).
  */
class FileConflictSpec extends SparkSpecBase {

  // two files: file A holds k in 1..4, file B holds k in 11..14
  private def stage(base: String): Unit = {
    import spark.implicits._
    Seq(1L, 2L, 3L, 4L).toDF("k").withColumn("v", lit("a"))
      .coalesce(1).write.mode("append").parquet(s"$base/data-w0")
    Seq(11L, 12L, 13L, 14L).toDF("k").withColumn("v", lit("b"))
      .coalesce(1).write.mode("append").parquet(s"$base/data-w0")
    assert(Snapshot.commit(base, 1, Snapshot.Manifest("w0")))
  }

  private def stageDelta(base: String, pred: org.apache.spark.sql.Column,
      tok: String, atV: Int): Unit =
    Snapshot.read(spark, base, atV, addresses = true).filter(pred)
      .select(col("__dv_file").as("file_path"), col("__dv_pos").as("pos"))
      .coalesce(1).write.parquet(s"$base/dvdelta-$tok")

  private def ks(v: Int, base: String): Seq[Long] =
    Snapshot.read(spark, base, v).orderBy("k")
      .collect().map(_.getLong(0)).toSeq

  test("disjoint files: the losing deleter rebases without re-deriving") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o30s_")
    val base = dir.toString
    try {
      stage(base)
      stageDelta(base, col("k") === 2, "d1", 1)   // file A
      stageDelta(base, col("k") === 12, "d2", 1)  // file B
      assert(WarehouseSafety.o30CommitDvDelta(spark, base, 1, "d1")
        == Right((2, 1)))
      assert(WarehouseSafety.o30CommitDvDelta(spark, base, 1, "d2")
        == Right((3, 2)), "other-file delete must rebase in 2 attempts")
      assert(ks(3, base) == Seq(1L, 3L, 4L, 11L, 13L, 14L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("same file: the losing deleter classifies a conflict and re-derives") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o30s_")
    val base = dir.toString
    try {
      stage(base)
      stageDelta(base, col("k") === 2, "d1", 1)
      stageDelta(base, col("k") === 3, "d2", 1)   // SAME file as d1
      assert(WarehouseSafety.o30CommitDvDelta(spark, base, 1, "d1")
        == Right((2, 1)))
      assert(WarehouseSafety.o30CommitDvDelta(spark, base, 1, "d2")
        == Left(Seq(2)),
        "a same-file concurrent delete is a conflict (Delta's rule: " +
          "both would rewrite that file's vector)")
      // re-derive against v2 and commit cleanly
      assert(Warehouse.o22Delete(spark, base, col("k") === 3, "d2b") == 3)
      assert(ks(3, base) == Seq(1L, 4L, 11L, 12L, 13L, 14L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("an optimize losing to an APPEND re-derives: the appended rows would vanish") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o30s_")
    val base = dir.toString
    try {
      import spark.implicits._
      stage(base)
      // an optimize stages at v1; an append commits v2 first
      Warehouse.o16Stage(base, "wStale",
        Snapshot.read(spark, base, 1).coalesce(1))
      Seq(21L -> "x").toDF("k", "v").write.parquet(s"$base/data-a1")
      val m1 = Snapshot.manifestOf(base, 1)
      assert(Snapshot.commit(base, 2, m1.copy(adds = m1.adds :+ "a1")))
      // the append invalidated nothing, but the stale materialization
      // does not CARRY it — blind-committing would silently drop row 21
      assert(WarehouseSafety.o30CommitOptimize(spark, base, 1, "wStale")
        == Left(Seq(2)))
      Warehouse.o16Stage(base, "w1",
        Snapshot.read(spark, base, 2).coalesce(1))
      assert(WarehouseSafety.o30CommitOptimize(spark, base, 2, "w1")
        == Right((3, 1)))
      assert(ks(3, base) == Seq(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L, 21L),
        "the re-derived rewrite must carry the appended row")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("delete first: the stale optimize re-derives; optimize first: the stale deleter does") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o30s_")
    val base = dir.toString
    try {
      stage(base)
      // delete commits first
      assert(Warehouse.o22Delete(spark, base, col("k") === 2, "dA") == 2)
      Warehouse.o16Stage(base, "wStale",
        Snapshot.read(spark, base, 1).coalesce(1))
      assert(WarehouseSafety.o30CommitOptimize(spark, base, 1, "wStale")
        == Left(Seq(2)), "the optimize folded a file the delete " +
          "invalidated — it must re-derive")
      Warehouse.o16Stage(base, "w1",
        Snapshot.read(spark, base, 2).coalesce(1))
      assert(WarehouseSafety.o30CommitOptimize(spark, base, 2, "w1")
        == Right((3, 1)))
      // optimize commits first: a delta derived pre-rewrite is orphaned
      stageDelta(base, col("k") === 12, "dB", 2)
      assert(WarehouseSafety.o30CommitDvDelta(spark, base, 2, "dB")
        == Left(Seq(3)), "the rewrite invalidated every file the " +
          "stale addresses point into")
      val stale = spark.read.parquet(s"$base/dvdelta-dB")
      val scan = Snapshot.read(spark, base, 3, addresses = true)
      assert(scan.join(stale,
          scan("__dv_file") === stale("file_path") &&
            scan("__dv_pos") === stale("pos"), "left_semi").isEmpty,
        "applying the stale delta would silently delete NOTHING — the " +
          "lost update the classification prevents")
      assert(Warehouse.o22Delete(spark, base, col("k") === 12, "dBb") == 4)
      assert(ks(4, base) == Seq(1L, 3L, 4L, 11L, 13L, 14L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
