package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.queries.Warehouse
import graft.table.Snapshot

/** st27 — streaming the deletion-vector change feed. The registered
  * query drives the checkpointed two-run restart on the corpus; this
  * spec pins the single-run mechanics on a table small enough to
  * enumerate:
  *
  *  - a whole commit ladder (append, two DV deletes, OPTIMIZE) arriving
  *    in ONE stream run feeds version-by-version in commit order;
  *  - the feed rows are exactly: every row as a v1 insert, each delete
  *    commit's victims, nothing for OPTIMIZE;
  *  - folding the feed over empty reproduces the final masked read.
  */
class DvFeedStreamSpec extends SparkSpecBase {

  test("a full ladder in one run feeds in order: inserts, per-commit deletes, nothing for optimize") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_st27s_")
    val table = root.resolve("table")
    java.nio.file.Files.createDirectory(table)
    val base = table.toString
    val feedDir = root.resolve("feed").toString
    try {
      Warehouse.o16Stage(base, "t0",
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
          .toDF("k", "v").repartition(2))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      assert(Warehouse.o22Delete(spark, base, col("k") % 2 === 0, "dv0") == 2)
      assert(Warehouse.o22Delete(spark, base, col("v") === "c", "dv1") == 3)
      assert(Warehouse.o22Optimize(spark, base, "t1") == 4)
      (1 to 4).foreach { v =>
        java.nio.file.Files.setLastModifiedTime(
          java.nio.file.Paths.get(base, s"manifest-$v"),
          java.nio.file.attribute.FileTime.fromMillis(1000000L + v * 60000L))
      }
      val cols = Seq("k", "v")
      val q = spark.readStream
        .option("pathGlobFilter", "manifest-*")
        .option("maxFilesPerTrigger", "1")
        .text(base)
        .select(col("_metadata.file_path").as("path"))
        .writeStream
        .foreachBatch { (bdf: DataFrame, _: Long) =>
          bdf.collect().map(_.getString(0)
            .replaceAll(".*manifest-", "").toInt).distinct.sorted.foreach { v =>
            val feed =
              if (v == 1) Snapshot.read(spark, base, 1)
                .withColumn("change_type", lit("insert"))
              else Warehouse.o24FeedOf(spark, base, v - 1, cols)
            feed.withColumn("version", lit(v))
              .write.mode("append").parquet(feedDir)
          }
          ()
        }
        .option("checkpointLocation", root.resolve("cp").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val feed = spark.read.parquet(feedDir)
      val rows = feed.select("version", "k", "change_type")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(rows == Seq(
        (1, 1L, "insert"), (1, 2L, "insert"), (1, 3L, "insert"),
        (1, 4L, "insert"),
        (2, 2L, "delete"), (2, 4L, "delete"),
        (3, 3L, "delete")))
      // fold over empty == final masked read
      val applied = (1 to 4).foldLeft(
          feed.limit(0).select(cols.map(col): _*)) { (acc, v) =>
        val fv = feed.filter(col("version") === v)
        acc.join(fv.filter(col("change_type") === "delete").select("k"),
            Seq("k"), "left_anti")
          .unionByName(fv.filter(col("change_type") === "insert")
            .select(cols.map(col): _*))
      }
      val latest = Snapshot.read(spark, base, 4)
      assert(applied.join(latest, cols, "left_anti").isEmpty &&
        latest.join(applied, cols, "left_anti").isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
