package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** o27 — equality deletes (the Iceberg v2 CDC delete path). The
  * registered query drives the ladder on the customer snapshot with the
  * real CDC change-set; this spec pins the mechanism edges in
  * isolation:
  *
  *  - a key delete commits ZERO table scans — proved physically by
  *    renaming the data directory away for the window — and touches no
  *    data byte;
  *  - equality and positional masks COMPOSE at one version;
  *  - the sequence rule: a data file committed AFTER an equality
  *    delete is never masked by it — a re-inserted key survives;
  *  - deletes of absent keys are no-ops (idempotent CDC);
  *  - the conversion ladder retires both delete shapes with the read
  *    preserved at every rung.
  */
class EqualityDeleteSpec extends SparkSpecBase {

  private def table(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def keysOf(ks: Long*) = {
    import spark.implicits._
    ks.toDF("k")
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

  private def ks(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.orderBy("k").collect().map(_.getLong(0)).toSeq

  test("a key delete scans nothing and moves no byte; masks compose") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o27s_")
    val base = dir.toString
    try {
      Warehouse.o16Stage(base, "t0",
        table(Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"))
          .repartition(2))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      // v2: positional delete of k=4 — a live vector to compose with
      assert(Warehouse.o22Delete(spark, base, col("k") === 4, "dv0") == 2)
      val before = listing(dir)
      // v3: equality delete of {2, 99} with the data dir RENAMED AWAY —
      // any scan inside the window fails loudly; 99 is absent (no-op)
      import java.nio.file.{Files, Paths}
      val keys = keysOf(2L, 99L).localCheckpoint()
      Files.move(Paths.get(base, "data-t0"), Paths.get(base, "gone-t0"))
      val v3 =
        try WarehouseDeletes.o27EqDelete(spark, base, keys, "eq0")
        finally Files.move(Paths.get(base, "gone-t0"),
          Paths.get(base, "data-t0"))
      assert(v3 == 3)
      assert(listing(dir) == before,
        "an equality delete must not create, rewrite, or touch any " +
          "data file")
      // both masks active in one read: 4 (positional) and 2 (equality)
      // gone, the absent key 99 a no-op
      assert(ks(Snapshot.read(spark, base, 3)) == Seq(1L, 3L, 5L))
      // time travel unaffected
      assert(ks(Snapshot.read(spark, base, 2)) == Seq(1L, 2L, 3L, 5L))
      assert(Snapshot.read(spark, base, 1).count() == 5)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("sequence rule: a file added after the eq delete is never masked by it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o27s_")
    val base = dir.toString
    try {
      Warehouse.o16Stage(base, "t0",
        table(Seq(1L -> "a", 2L -> "b", 3L -> "c")))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      assert(WarehouseDeletes.o27EqDelete(spark, base, keysOf(2L), "eq0") == 2)
      assert(ks(Snapshot.read(spark, base, 2)) == Seq(1L, 3L))
      // v3: k=2 RE-INSERTED via a delta file — the eq entry applies to
      // t0 only, so the new row survives while t0's original stays dead
      table(Seq(2L -> "b2")).write.parquet(s"$base/data-t1")
      val m2 = Snapshot.manifestOf(base, 2)
      assert(Snapshot.commit(base, 3, m2.copy(adds = m2.adds :+ "t1")))
      val v3 = Snapshot.read(spark, base, 3)
      assert(ks(v3) == Seq(1L, 2L, 3L))
      assert(v3.filter(col("k") === 2).collect().map(_.getString(1)).toSeq
          == Seq("b2"),
        "the surviving k=2 must be the re-inserted row, not t0's original")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the conversion ladder retires equality then everything, read preserved") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o27s_")
    val base = dir.toString
    try {
      Warehouse.o16Stage(base, "t0",
        table(Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      assert(Warehouse.o22Delete(spark, base, col("k") === 1, "dv0") == 2)
      assert(WarehouseDeletes.o27EqDelete(spark, base, keysOf(3L), "eq0") == 3)
      val before = listing(dir)
      // equality → positional: same token, eq retired, read identical
      assert(WarehouseDeletes.o27ConvertEqToPos(spark, base, "dv1") == 4)
      val m4 = Snapshot.manifestOf(base, 4)
      assert(m4.token == "t0" && m4.eqs.isEmpty && m4.dv.contains("dv1"))
      assert(listing(dir) == before, "conversion must not touch data bytes")
      assert(ks(Snapshot.read(spark, base, 4)) == Seq(2L, 4L))
      // positional → materialized: fresh token, no masks, marker set
      assert(Warehouse.o22Optimize(spark, base, "t1") == 5)
      val m5 = Snapshot.manifestOf(base, 5)
      assert(m5.dv.isEmpty && m5.eqs.isEmpty && m5.rewriteOf.contains(4))
      assert(spark.read.parquet(s"$base/data-t1").count() == 2,
        "the materialized token must carry exactly the masked rows")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the o24 feed reads an eq commit from metadata") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o27s_")
    val base = dir.toString
    try {
      Warehouse.o16Stage(base, "t0",
        table(Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      assert(WarehouseDeletes.o27EqDelete(spark, base, keysOf(2L, 4L),
        "eq0") == 2)
      val feed = Warehouse.o24FeedOf(spark, base, 1, Seq("k", "v"))
      assert(feed.orderBy("k").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
          == Seq((2L, "b", "delete"), (4L, "d", "delete")))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
