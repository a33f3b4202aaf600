package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** o31 — row tracking. The registered row drives the corpus ladder;
  * this spec pins the id algebra on a controlled table: virtual ids at
  * ingest (per-file base + position, no global sort), materialization
  * on the first rewrite, stability across TWO OPTIMIZE generations and
  * a row-tracked update, and the rid-paired CDF with no business key. */
class RowTrackingSpec extends SparkSpecBase {

  private def table(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def pairs(base: String, v: Int): Set[(Long, Long)] =
    RowTracking.o31Masked(spark, base, v).select("__rid", "k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ids are virtual at ingest, materialize on rewrite, survive two generations") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o31s_")
    val base = dir.toString
    try {
      RowTracking.o31Ingest(spark, base, "t0",
        table(Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
          .repartition(2))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      // no physical id column; the sidecar + position derive them
      assert(!spark.read.parquet(s"$base/data-t0").columns.contains("__rid"))
      val v1 = pairs(base, 1)
      assert(v1.size == 4 && v1.map(_._1).size == 4, "unique, one per row")
      assert(Warehouse.o22Delete(spark, base, col("k") === 2, "dv0") == 2)
      val v2 = pairs(base, 2)
      assert(v2 == v1.filterNot(_._2 == 2L))
      // generation 1: rows move, ids don't; the column materializes
      assert(RowTracking.o31Optimize(spark, base, "t1") == 3)
      assert(spark.read.parquet(s"$base/data-t1").columns.contains("__rid"))
      assert(pairs(base, 3) == v2)
      // a row-tracked update keeps the victim's id
      assert(RowTracking.o31Update(spark, base, col("k") === 3,
        "v" -> lit("C!"), "m1", "dv1") == 4)
      assert(pairs(base, 4) == v2)
      // generation 2: a rewrite OF a rewrite (incl. the updated row's
      // third physical location) still changes no id
      assert(RowTracking.o31Optimize(spark, base, "t2") == 5)
      assert(pairs(base, 5) == v2)
      val updated = RowTracking.o31Masked(spark, base, 5)
        .filter(col("k") === 3).select("v")
        .collect().map(_.getString(0)).toSeq
      assert(updated == Seq("C!"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the rid-paired CDF classifies updates with no business key") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o31s_")
    val base = dir.toString
    try {
      RowTracking.o31Ingest(spark, base, "t0",
        table(Seq(1L -> "a", 2L -> "b", 3L -> "c")))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      assert(RowTracking.o31Update(spark, base, col("k") === 2,
        "v" -> lit("B!"), "m1", "dv0") == 2)
      val feed = RowTracking.o31FeedOf(spark, base, 1, Seq("k", "v"))
        .orderBy("k", "change_type")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSeq
      assert(feed == Seq((2L, "B!", "update_postimage"),
        (2L, "b", "update_preimage")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
