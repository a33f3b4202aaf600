package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** o24 — change feed derived from deletion-vector commit metadata (the
  * o20×o22 composition). The registered query pins metadata-feed ≡
  * o20-snapshot-diff over the corpus ladder; this spec pins the
  * mechanism edges in isolation:
  *
  *  - a DV-only commit's feed is exactly the NEW mask positions' rows
  *    (the vector DIFFERENCE — earlier victims never re-emit);
  *  - the OPTIMIZE commit feeds nothing, from metadata alone (zero
  *    scans of either snapshot);
  *  - a token-changing commit that still carries a vector is refused
  *    loudly (not a metadata-readable step — the o20 join is the
  *    fallback, and guessing would fabricate a feed);
  *  - the delete-side plan is a BROADCAST semi-join: the data side
  *    never shuffles for the feed.
  */
class DvChangeFeedSpec extends SparkSpecBase {

  private def table(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def ladder(base: String): Unit = {
    Warehouse.o16Stage(base, "t0",
      table(Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"))
        .repartition(2))
    assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
    assert(Warehouse.o22Delete(spark, base, col("k") % 2 === 0, "dv0") == 2)
    assert(Warehouse.o22Delete(spark, base, col("v") === "e", "dv1") == 3)
  }

  test("DV-only commits feed exactly the vector delta; optimize feeds nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o24s_")
    val base = dir.toString
    try {
      ladder(base)
      assert(Warehouse.o22Optimize(spark, base, "t1") == 4)
      val f1 = Warehouse.o24FeedOf(spark, base, 1, Seq("k", "v"))
        .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
      assert(f1.toSeq == Seq(2L -> "b", 4L -> "d"))
      // the step-2 feed carries ONLY the new victim — the cumulative
      // vector's earlier positions must not re-emit
      val f2 = Warehouse.o24FeedOf(spark, base, 2, Seq("k", "v"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(f2.toSeq == Seq(5L -> "e"))
      assert(f1.forall { case (k, _) => !f2.exists(_._1 == k) })
      // OPTIMIZE: empty feed, and every feed row is change_type=delete
      assert(Warehouse.o24FeedOf(spark, base, 3, Seq("k", "v")).isEmpty)
      val types = Warehouse.o24FeedOf(spark, base, 1, Seq("k", "v"))
        .select("change_type").distinct().collect().map(_.getString(0))
      assert(types.toSeq == Seq("delete"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("metadata feed equals the o20 snapshot diff on every readable step") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o24s_")
    val base = dir.toString
    try {
      ladder(base)
      (1 to 2).foreach { v =>
        val feed = Warehouse.o24FeedOf(spark, base, v, Seq("k", "v"))
        val diff = Warehouse.o20Diff(
          Snapshot.read(spark, base, v),
          Snapshot.read(spark, base, v + 1), "k", Seq("v"))
        assert(feed.join(diff, Seq("k", "v", "change_type"),
            "left_anti").isEmpty &&
          diff.join(feed, Seq("k", "v", "change_type"),
            "left_anti").isEmpty,
          s"step $v->${v + 1}: metadata feed != o20 diff")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a token-changing commit carrying a vector is refused, not guessed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o24s_")
    val base = dir.toString
    try {
      ladder(base)
      // forge a non-metadata-readable step: fresh token AND a vector
      Warehouse.o16Stage(base, "t9",
        table(Seq(7L -> "z")).repartition(1))
      assert(Snapshot.commit(base, 4, Snapshot.Manifest("t9", Some("dv1"))))
      intercept[IllegalArgumentException] {
        Warehouse.o24FeedOf(spark, base, 3, Seq("k", "v")).collect()
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the feed's delete derivation broadcasts the delta — no data-side shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o24s_")
    val base = dir.toString
    try {
      ladder(base)
      val plan = Warehouse.o24FeedOf(spark, base, 1, Seq("k", "v"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"expected a broadcast semi-join in:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"the data side must not shuffle for the mask delta:\n$plan")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
