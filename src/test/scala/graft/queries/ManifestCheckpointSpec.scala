package graft.queries

import graft.SparkSpecBase
import graft.table.Snapshot

/** o23 — manifest-log checkpointing. The registered query drives the
  * 17-commit ladder with counted opens; this spec pins the mechanism
  * edges in isolation:
  *
  *  - checkpoint-read ≡ full-replay-read at EVERY version, not just
  *    the head;
  *  - a crash between the checkpoint write and the pointer swap
  *    recovers (reader probes forward from the stale pointer; the next
  *    checkpoint repairs it);
  *  - reader opens are O(1) past the checkpoint — a fixed count,
  *    however many commits the checkpoint folded;
  *  - the pointer is monotone (a stale checkpointer never moves it
  *    backward);
  *  - a brand-new table (no pointer) resolves by forward probing from
  *    its oldest manifest.
  */
class ManifestCheckpointSpec extends SparkSpecBase {

  private def batch(i: Int) = {
    import spark.implicits._
    Seq((i.toLong, s"b$i")).toDF("k", "v")
  }

  test("checkpoint-read equals full-replay-read at every version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o23s_")
    val base = dir.toString
    try {
      (1 to 12).foreach(i => Warehouse.o23Append(base, s"t$i", batch(i)))
      val byCp = Warehouse.o23Versions(base)
      val byListing = Warehouse.o23VersionsByListing(base)
      assert(byCp == byListing, "head resolution must match the listing")
      // every PREFIX agrees too — a checkpoint can never rewrite history
      (1 to 12).foreach { v =>
        assert(byCp.takeWhile(_._1 <= v) == byListing.takeWhile(_._1 <= v),
          s"version chain up to $v diverged")
      }
      assert(byCp.map(_._1) == (1 to 12) &&
        byCp.map(_._2) == (1 to 12).map(i => s"t$i"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a crash between checkpoint write and pointer swap recovers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o23s_")
    val base = dir.toString
    try {
      (1 to 10).foreach(i => Warehouse.o23Append(base, s"t$i", batch(i)))
      import java.nio.file.{Files, Paths}
      assert(Files.readString(Paths.get(base, "_last_checkpoint")).trim == "10")
      // 5 more commits, but the cp-15 checkpointer crashes BEFORE the
      // pointer swap — checkpoint-15 exists, pointer still says 10
      (11 to 14).foreach(i => Warehouse.o23Append(base, s"t$i", batch(i)))
      Warehouse.o16Stage(base, "t15", batch(15))
      assert(Snapshot.commit(base, 15, Snapshot.Manifest("t15")))
      Warehouse.o23Checkpoint(base, 15, crashBeforePointer = true)
      assert(Files.exists(Paths.get(base, "checkpoint-15")))
      assert(Files.readString(Paths.get(base, "_last_checkpoint")).trim == "10",
        "the injected crash must leave the pointer stale")
      // the reader recovers: stale pointer + forward probes = full chain
      val chain = Warehouse.o23Versions(base)
      assert(chain == Warehouse.o23VersionsByListing(base),
        "a stale pointer must only lengthen the probe, never lose commits")
      assert(chain.map(_._1) == (1 to 15))
      // re-running the checkpoint (idempotent createLink twin) repairs
      // the pointer
      Warehouse.o23Checkpoint(base, 15)
      assert(Files.readString(Paths.get(base, "_last_checkpoint")).trim == "15")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("reader opens are a fixed count past the checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o23s_")
    val base = dir.toString
    try {
      (1 to 12).foreach(i => Warehouse.o23Append(base, s"t$i", batch(i)))
      // checkpoint at 10, tail = {11, 12}: pointer + checkpoint +
      // 2 tail reads + 1 final miss = 5 opens — the same 5 whether the
      // checkpoint folded 10 commits or a million
      val opens = new Warehouse.O23Opens
      Warehouse.o23Versions(base, opens)
      assert(opens.n == 5, s"expected 5 metadata opens, counted ${opens.n}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the pointer is monotone and a fresh table resolves without one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o23s_")
    val base = dir.toString
    try {
      // fresh table, no pointer: pure forward probing still works
      (1 to 3).foreach(i => Warehouse.o23Append(base, s"t$i", batch(i)))
      import java.nio.file.{Files, Paths}
      assert(!Files.exists(Paths.get(base, "_last_checkpoint")))
      assert(Warehouse.o23Versions(base).map(_._1) == (1 to 3))
      (4 to 10).foreach(i => Warehouse.o23Append(base, s"t$i", batch(i)))
      assert(Files.readString(Paths.get(base, "_last_checkpoint")).trim == "10")
      // a STALE checkpointer folding version 5 must not move the
      // pointer backward
      Warehouse.o23Checkpoint(base, 5)
      assert(Files.readString(Paths.get(base, "_last_checkpoint")).trim == "10",
        "a stale checkpoint must never regress the pointer")
      assert(Warehouse.o23Versions(base).map(_._1) == (1 to 10))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
