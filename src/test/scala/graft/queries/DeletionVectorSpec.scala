package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** o22 — row-level deletes via deletion vectors (the Delta
  * deletion-vector / Iceberg positional-delete mechanism). The
  * registered query drives the full version ladder on the corpus; this
  * spec pins the mechanism edges in isolation:
  *
  *  - a delete commits ONLY metadata — the data token's files are
  *    byte-identical before and after, the victims physically present;
  *  - time travel to pre-delete versions reads the victims forever;
  *  - deletes COMPOSE (the second predicate runs over the masked view,
  *    the vector accumulates);
  *  - OPTIMIZE materializes the mask and retires the vector;
  *  - the masked read is a BROADCAST anti-join — the data side never
  *    shuffles for the mask;
  *  - uncommitted reads fail loudly; a racing duplicate version commit
  *    loses the CAS.
  */
class DeletionVectorSpec extends SparkSpecBase {

  private def table(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def listing(dir: java.nio.file.Path): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.toString.contains("/data-") &&
        !p.getFileName.toString.startsWith("_"))
      .map(p => (p.toString, java.nio.file.Files.size(p)))
      .toSeq.sortBy(_._1)
  }

  test("a delete is metadata-only: bytes stay, reachability goes, history reads them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o22s_")
    val base = dir.toString
    try {
      Warehouse.o16Stage(base, "t0",
        table(Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
          .repartition(2))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      val before = listing(dir)
      val v2 = Warehouse.o22Delete(spark, base, col("k") % 2 === 0, "dv0")
      assert(v2 == 2)
      assert(listing(dir) == before,
        "a DV delete must not create, rewrite, or touch any data file")
      // physically present (raw scan), unreachable (masked read)
      assert(spark.read.parquet(s"$base/data-t0").count() == 4)
      assert(Snapshot.read(spark, base, 2).orderBy("k")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
      // time travel: v1 reads the victims forever
      assert(Snapshot.read(spark, base, 1).count() == 4)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("deletes compose cumulatively and OPTIMIZE retires the vector") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o22s_")
    val base = dir.toString
    try {
      Warehouse.o16Stage(base, "t0",
        table(Seq(1L -> "a", 2L -> "b", 3L -> "a", 4L -> "b", 5L -> "a")))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      Warehouse.o22Delete(spark, base, col("k") <= 2, "dv0")
      val v3 = Warehouse.o22Delete(spark, base, col("v") === "a", "dv1")
      // 1,2 gone at v2; of the REMAINING (3,4,5), the 'a' rows (3,5) go
      assert(Snapshot.read(spark, base, v3)
        .collect().map(_.getLong(0)).toSeq == Seq(4L),
        "the second delete must run over the already-masked view")
      // both deletes share the immutable token; the vector accumulated
      assert(Snapshot.manifestOf(base, 3).token == "t0")
      assert(spark.read.parquet(s"$base/dv-dv1").count() == 4,
        "the cumulative vector must carry ALL masked positions")
      val v4 = Warehouse.o22Optimize(spark, base, "t1")
      assert(Snapshot.manifestOf(base, v4).dv.isEmpty,
        "OPTIMIZE must commit without a vector")
      // materialized: the victims' bytes are genuinely gone from v4's
      // files, and the read is unchanged
      assert(spark.read.parquet(s"$base/data-t1")
        .collect().map(_.getLong(0)).toSeq == Seq(4L))
      assert(Snapshot.read(spark, base, v4)
        .collect().map(_.getLong(0)).toSeq == Seq(4L))
      // every earlier version still time-travels through its own mask
      assert(Snapshot.read(spark, base, 1).count() == 5)
      assert(Snapshot.read(spark, base, 2).count() == 3)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the mask applies as a broadcast anti-join — the data side never shuffles") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o22s_")
    val base = dir.toString
    try {
      Warehouse.o16Stage(base, "t0",
        table((1L to 50L).map(i => i -> s"v$i")))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      Warehouse.o22Delete(spark, base, col("k") % 5 === 0, "dv0")
      val plan = Snapshot.read(spark, base, 2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"the DV mask must be a broadcast anti-join, got:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        "the data side must not shuffle to apply a metadata-sized mask")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("read discipline: uncommitted versions fail loudly; duplicate commits lose the CAS") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o22s_")
    val base = dir.toString
    try {
      Warehouse.o16Stage(base, "t0", table(Seq(1L -> "a")))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      assertThrows[IllegalArgumentException] {
        Snapshot.read(spark, base, 7)
      }
      assert(!Snapshot.commit(base, 1, Snapshot.Manifest("t0", Some("dvX"))),
        "manifest create must be CAS, not last-writer-wins")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
