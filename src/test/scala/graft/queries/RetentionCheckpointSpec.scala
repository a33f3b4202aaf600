package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.{Snapshot, TableLog}

/** o29 — [[Warehouse.vacuum]] over a checkpointed log (the o26×o23
  * composition). The registered query drives the 17-append / vacuum /
  * 3-append ladder; this spec pins the ordering and crash edges on a
  * controlled log:
  *
  *  - after a vacuum NO resolution path (pointer, checkpoint, listing)
  *    names an expired version, and checkpoint-read ≡ listing-read;
  *  - the checkpoint rewrite happens BEFORE manifests unlink — a
  *    reader mid-vacuum never resolves a version whose data is gone;
  *  - a vacuum that expires nothing is a no-op;
  *  - a vacuum before the first fold leaves the retained chain
  *    resolvable, so no expired id is committed again;
  *  - the log keeps appending and checkpointing after a vacuum.
  */
class RetentionCheckpointSpec extends SparkSpecBase {

  private def slice(i: Int) = {
    import spark.implicits._
    Seq((i.toLong, s"row$i")).toDF("k", "v")
  }

  test("vacuum rewrites the checkpoint before anything becomes unreadable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o29s_")
    val base = dir.toString
    try {
      import java.nio.file.{Files, Paths}
      // 7 appends: checkpoint folds at 5 (O23Interval)
      (1 to 7).foreach(i =>
        assert(Warehouse.o23Append(base, s"t$i", slice(i)) == i))
      assert(Files.readString(Paths.get(base, "_last_checkpoint")).trim
        == "5")
      val (expired, debris) = Warehouse.vacuum(base, 3)
      assert(expired == Seq(1, 2, 3, 4))
      assert(debris.toSet == Set("data-t1", "data-t2", "data-t3", "data-t4"))
      // the one remaining checkpoint covers exactly the retained chain
      assert(Option(new java.io.File(base).list()).toSeq.flatten
        .filter(_.startsWith("checkpoint-")).toSeq == Seq("checkpoint-7"))
      assert(Files.readString(Paths.get(base, "_last_checkpoint")).trim
        == "7")
      val opens = new Warehouse.O23Opens
      val chain = Warehouse.o23Versions(base, opens)
      assert(chain == Seq(5 -> "t5", 6 -> "t6", 7 -> "t7"))
      assert(chain == Warehouse.o23VersionsByListing(base))
      assert(opens.n == 3, "pointer + checkpoint + the probe miss")
      // expired fails loudly; repeat vacuum is a no-op
      assert(scala.util.Try(Snapshot.read(spark, base, 2)).isFailure)
      assert(Warehouse.vacuum(base, 3)
        == ((Seq(), Seq())))
      // the log lives on: append 8, 9, 10 — fold lands checkpoint-10
      (8 to 10).foreach(i =>
        assert(Warehouse.o23Append(base, s"t$i", slice(i)) == i))
      assert(Files.readString(Paths.get(base, "_last_checkpoint")).trim
        == "10")
      assert(Files.readString(Paths.get(base, "checkpoint-10"))
        .linesIterator.toSeq.map(_.takeWhile(_ != ':').toInt)
        == (5 to 10))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a vacuum before the first fold keeps the retained chain resolvable and its ids unreused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o29s_")
    val base = dir.toString
    try {
      // 3 appends: below O23Interval, so no checkpoint and no pointer
      (1 to 3).foreach(i =>
        assert(Warehouse.o23Append(base, s"t$i", slice(i)) == i))
      assert(graft.table.TableLog.checkpoints(base).isEmpty)
      val (expired, debris) = Warehouse.vacuum(base, 1)
      assert(expired == Seq(1, 2))
      assert(debris.toSet == Set("data-t1", "data-t2"))
      // manifest-1 is gone: the reader must still find the retained
      // chain, and the next append must not re-commit an expired id
      assert(Warehouse.o23Versions(base) == Seq(3 -> "t3"))
      assert(Warehouse.o23Versions(base) ==
        Warehouse.o23VersionsByListing(base))
      Warehouse.o16Stage(base, "t4", slice(4))
      assert(Warehouse.o23Publish(base, "t4") == 4)
      assert(Warehouse.o23VersionsByListing(base)
        == Seq(3 -> "t3", 4 -> "t4"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("vacuum during a staged-but-uncommitted append: the age floor protects the staging (r20 verdict #1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o29s_")
    val base = dir.toString
    try {
      import java.nio.file.{Files, Paths}
      (1 to 7).foreach(i =>
        assert(Warehouse.o23Append(base, s"t$i", slice(i)) == i))
      // an in-flight o23Append: token STAGED (o23Append stages before
      // its CAS — Warehouse.scala o16Stage-then-publish), no manifest
      // names it yet. To the sweep it is indistinguishable from debris
      // except by AGE.
      Warehouse.o16Stage(base, "inflight", slice(99))
      // real debris, old by definition: age the expired tokens and one
      // orphan past the retention floor
      Warehouse.o16Stage(base, "orphan", slice(98))
      val old = System.currentTimeMillis() - 120000L
      Seq("data-t1", "data-t2", "data-t3", "data-t4", "data-orphan")
        .foreach(n => Paths.get(base, n).toFile.setLastModified(old))
      val (expired, debris) =
        Warehouse.vacuum(base, 3, minAgeMs = 60000L)
      assert(expired == Seq(1, 2, 3, 4))
      // old unreferenced tokens sweep; the fresh staging survives
      assert(debris.toSet == Set("data-t1", "data-t2", "data-t3",
        "data-t4", "data-orphan"))
      assert(Files.isDirectory(Paths.get(base, "data-inflight")),
        "the staged-but-uncommitted token must survive the sweep")
      // ... and the append still commits readable after the vacuum
      assert(Snapshot.commit(base, 8, Snapshot.Manifest("inflight")))
      assert(Snapshot.read(spark, base, 8).count() == 1)
      assert(Warehouse.o23VersionsByListing(base).last == (8 -> "inflight"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("vacuum never moves the pointer backward nor retires a fresh concurrent fold") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o29s_")
    val base = dir.toString
    try {
      import java.nio.file.{Files, Paths}
      (1 to 7).foreach(i =>
        assert(Warehouse.o23Append(base, s"t$i", slice(i)) == i))
      // a concurrent appender's fold wins the pointer first (the
      // single-threaded spec pins the guard piecewise: pointer already
      // past the vacuum's own fold target)
      Files.writeString(Paths.get(base, "_last_checkpoint"), "11")
      // checkpoint-5 is old (a stale fold); a hypothetical fresh fold
      // file must survive retirement while the stale one goes
      Paths.get(base, "checkpoint-5").toFile
        .setLastModified(System.currentTimeMillis() - 120000L)
      Files.writeString(Paths.get(base, "checkpoint-11"),
        (1 to 7).map(v => s"$v:t$v").mkString("\n"))
      val (expired, _) =
        Warehouse.vacuum(base, 5, minAgeMs = 60000L)
      assert(expired == Seq(1, 2))
      assert(Files.readString(Paths.get(base, "_last_checkpoint")).trim
        == "11", "the pointer swap must be monotone")
      assert(Files.exists(Paths.get(base, "checkpoint-11")),
        "a fresh concurrent fold must survive retirement")
      assert(!Files.exists(Paths.get(base, "checkpoint-5")),
        "the stale fold must still retire")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a stranded stale checkpoint would have resolved expired versions — o29 retires it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o29s_")
    val base = dir.toString
    try {
      (1 to 6).foreach(i =>
        assert(Warehouse.o23Append(base, s"t$i", slice(i)) == i))
      // the hazard o26-style vacuuming would leave: checkpoint-5 folds
      // 1..5; naive manifest-only expiry of 1..4 leaves it naming them
      val cp5 = java.nio.file.Files.readString(
        java.nio.file.Paths.get(base, "checkpoint-5"))
      assert(cp5.linesIterator.toSeq.map(_.takeWhile(_ != ':').toInt)
        == (1 to 5), "precondition: the fold covers versions 1..5")
      Warehouse.vacuum(base, 2)
      // checkpoint-5 is gone; the new checkpoint names retained only
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(base, "checkpoint-5")))
      assert(java.nio.file.Files.readString(
          java.nio.file.Paths.get(base, "checkpoint-6"))
        .linesIterator.toSeq.map(_.takeWhile(_ != ':').toInt)
        == Seq(5, 6))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
