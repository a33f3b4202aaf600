package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** o26 — [[Warehouse.vacuum]] over shared-token (DV) tables. The
  * registered query drives the corpus ladder; this spec pins the
  * mechanism edges in isolation:
  *
  *  - SHARED-TOKEN SURVIVAL: expiring versions that reference a token
  *    a retained version still names must NOT delete it (the exact
  *    case o13's per-version unlink gets wrong);
  *  - crash between manifest expiry and file deletion: the debris
  *    survives the crash and a re-run completes the delete, while the
  *    expired version already fails loudly (manifests-first ordering);
  *  - retention window edges: retain ≥ #versions is a no-op; retain=1
  *    frees everything the last version doesn't name;
  *  - the age floor: unreferenced `dv-`/`eq-` tokens younger than
  *    `minAgeMs` (a concurrent writer's staging) survive, aged debris
  *    goes.
  */
class DvVacuumSpec extends SparkSpecBase {

  private def ladder(base: String): Unit = {
    import spark.implicits._
    Warehouse.o16Stage(base, "t0",
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
        .toDF("k", "v").repartition(2))
    assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
    assert(Warehouse.o22Delete(spark, base, col("k") % 2 === 0, "dv0") == 2)
    assert(Warehouse.o22Optimize(spark, base, "t1") == 3)
  }

  test("a token named by a retained version survives its siblings' expiry") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o26s_")
    val base = dir.toString
    try {
      ladder(base)
      // retain {2,3}: v1 expires but v2 still names t0 — t0 must live
      val (expired, debris) = Warehouse.vacuum(base, 2)
      assert(expired == Seq(1) && debris == Seq())
      assert(java.nio.file.Files.isDirectory(dir.resolve("data-t0")))
      assert(Snapshot.read(spark, base, 2).orderBy("k")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
      // retain {3}: now t0 AND dv0 are unreferenced
      val (e2, d2) = Warehouse.vacuum(base, 1)
      assert(e2 == Seq(2) && d2 == Seq("data-t0", "dv-dv0"))
      assert(Snapshot.read(spark, base, 3).count() == 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("crash between expiry and deletion: reads already fail, re-run completes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o26s_")
    val base = dir.toString
    try {
      ladder(base)
      // simulate the crash window: manifests 1 and 2 unlinked, bytes
      // still on disk (step 1 ran, step 2 did not)
      java.nio.file.Files.delete(dir.resolve("manifest-1"))
      java.nio.file.Files.delete(dir.resolve("manifest-2"))
      assert(java.nio.file.Files.isDirectory(dir.resolve("data-t0")))
      assert(scala.util.Try(Snapshot.read(spark, base, 2)).isFailure,
        "an expired version must fail loudly even before bytes move")
      // the re-run finds no manifests to expire but completes the delete
      val (expired, debris) = Warehouse.vacuum(base, 1)
      assert(expired == Seq() && debris == Seq("data-t0", "dv-dv0"))
      assert(!java.nio.file.Files.exists(dir.resolve("data-t0")))
      assert(Snapshot.read(spark, base, 3).count() == 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("retain >= versions is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o26s_")
    val base = dir.toString
    try {
      ladder(base)
      assert(Warehouse.vacuum(base, 5) == ((Seq(), Seq())))
      (1 to 3).foreach(v =>
        assert(scala.util.Try(Snapshot.read(spark, base, v)).isSuccess))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the age floor keeps fresh unreferenced dv- and eq- tokens, deletes aged debris") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_o26s_")
    val base = dir.toString
    try {
      ladder(base)
      // a concurrent deleter's staged vector and equality-key file: no
      // manifest names them yet, and they are fresh
      Seq(("f", 0L)).toDF("file_path", "pos").write
        .parquet(s"$base/dv-fresh")
      Seq(Tuple1(1L)).toDF("k").write.parquet(s"$base/eq-fresh")
      // an orphan past the floor, and the tokens v1/v2 stop naming
      Warehouse.o16Stage(base, "orphan", Seq(Tuple1(9L)).toDF("k"))
      val old = System.currentTimeMillis() - 120000L
      Seq("data-t0", "dv-dv0", "data-orphan")
        .foreach(n => dir.resolve(n).toFile.setLastModified(old))
      val (expired, debris) = Warehouse.vacuum(base, 1, minAgeMs = 60000L)
      assert(expired == Seq(1, 2))
      assert(debris == Seq("data-orphan", "data-t0", "dv-dv0"))
      assert(java.nio.file.Files.isDirectory(dir.resolve("dv-fresh")) &&
        java.nio.file.Files.isDirectory(dir.resolve("eq-fresh")),
        "a fresh unreferenced token must survive the sweep")
      assert(Snapshot.read(spark, base, 3).count() == 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
