package graft.table

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  CountDownLatch}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Warehouse

/** The table family's metadata-file primitive under real contention:
  * N threads released together race one name with DIFFERENT bodies,
  * round after round, so a lucky serialization cannot green a broken
  * primitive. Each round must end with exactly one winner, the file
  * holding exactly the winner's body, and no scratch file left behind.
  * The same race then runs through the family committers that build on
  * [[TableLog.create]] (o19, o21, o23).
  */
class TableLogSpec extends AnyFunSuite {

  private val rounds = 50
  private val racers = 4

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_tablelog_")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def race[A](attempt: Int => A): Map[Int, A] =
    TableLogSpec.race(racers)(attempt)

  private def scratchLeft(dir: Path): Seq[String] =
    graft.Tables.listDir(dir).map(_.getFileName.toString)
      .filter(_.startsWith("."))

  private def onlyWinner(round: Int, wins: Map[Int, Boolean]): Int = {
    val winners = wins.collect { case (i, true) => i }.toSeq
    assert(winners.size == 1, s"round $round: winners $winners")
    winners.head
  }

  test("create: exactly one racer wins, the file is its body, no scratch left") {
    withDir { dir =>
      val base = dir.toString
      (1 to rounds).foreach { r =>
        val name = TableLog.manifest(r)
        val wins = race(i => TableLog.create(base, name, s"body-$r-$i\n" * 64))
        val w = onlyWinner(r, wins)
        assert(TableLog.read(base, name) == s"body-$r-$w\n" * 64,
          s"round $r: the file does not hold the winner's body")
      }
      assert(scratchLeft(dir).isEmpty, s"scratch left: ${scratchLeft(dir)}")
      assert(TableLog.versions(base) == (1 to rounds))
    }
  }

  test("o19Commit: racing layouts, one winner whose segments the version resolves to") {
    withDir { dir =>
      val base = dir.toString
      (1 to rounds).foreach { r =>
        val segs = (i: Int) => Seq(s"t$i" -> "lang", s"u$i" -> "source")
        val w = onlyWinner(r, race(i => Warehouse.o19Commit(base, r, segs(i))))
        assert(Warehouse.o19Segments(base, r) == segs(w),
          s"round $r: layout-$r does not hold the winner's segments")
      }
      assert(scratchLeft(dir).isEmpty, s"scratch left: ${scratchLeft(dir)}")
    }
  }

  test("o21ShallowCloneOf: racing clones of different versions, one winner") {
    withDir { src =>
      val srcBase = src.toString
      (1 to racers).foreach(v =>
        assert(Snapshot.commit(srcBase, v, Snapshot.Manifest(s"a$v"))))
      (1 to rounds).foreach { r =>
        val dst = Files.createDirectory(src.resolve(s"clone-$r"))
        val w = onlyWinner(r, race(i =>
          Warehouse.o21ShallowCloneOf(srcBase, i + 1, dst.toString)))
        assert(TableLog.read(dst.toString, TableLog.manifest(1)) ==
          s"$srcBase/data-a${w + 1}",
          s"round $r: the clone does not name the winner's source version")
        assert(scratchLeft(dst).isEmpty, s"scratch left: ${scratchLeft(dst)}")
      }
    }
  }

  test("o23Checkpoint: racing folds of one version leave one complete checkpoint") {
    (1 to rounds).foreach { r =>
      withDir { dir =>
        val base = dir.toString
        (1 to 5).foreach(v =>
          assert(Snapshot.commit(base, v, Snapshot.Manifest(s"t$v"))))
        race(_ => Warehouse.o23Checkpoint(base, 5))
        assert(TableLog.read(base, "checkpoint-5") ==
          (1 to 5).map(v => s"$v:t$v").mkString("\n"))
        assert(TableLog.read(base, TableLog.LastCheckpoint) == "5")
        assert(Warehouse.o23Versions(base) ==
          Warehouse.o23VersionsByListing(base))
        assert(scratchLeft(dir).isEmpty,
          s"round $r: scratch left: ${scratchLeft(dir)}")
      }
    }
  }

  test("a create whose body write throws leaves no scratch file and no target") {
    withDir { dir =>
      // a lone surrogate cannot be encoded: the write fails after the
      // scratch file was opened
      intercept[java.nio.charset.CharacterCodingException](
        TableLog.create(dir.toString, TableLog.manifest(1), "x\uD800y"))
      assert(graft.Tables.listDir(dir).isEmpty,
        s"left behind: ${graft.Tables.listDir(dir)}")
      assert(TableLog.get(dir.toString, TableLog.manifest(1)).isEmpty)
    }
  }

  test("read names the uncommitted version; get and the listing skip it") {
    withDir { dir =>
      val base = dir.toString
      assert(TableLog.versions(base).isEmpty && TableLog.latest(base) == 0)
      assert(TableLog.create(base, TableLog.manifest(2), "t2"))
      assert(!TableLog.create(base, TableLog.manifest(2), "other"))
      val e = intercept[IllegalArgumentException](
        TableLog.read(base, TableLog.manifest(3)))
      assert(e.getMessage.contains("version 3 is not committed (no manifest-3)"))
      assert(TableLog.get(base, TableLog.manifest(3)).isEmpty)
      assert(TableLog.versions(base) == Seq(2) && TableLog.latest(base) == 2)
      assert(TableLog.versions(dir.resolve("absent").toString).isEmpty)
    }
  }

  test("advancePointer never moves the pointer backward") {
    withDir { dir =>
      val base = dir.toString
      assert(TableLog.advancePointer(base, 10) == 10)
      assert(TableLog.advancePointer(base, 5) == 10)
      assert(TableLog.read(base, TableLog.LastCheckpoint) == "10")
      assert(TableLog.advancePointer(base, 15) == 15)
      assert(scratchLeft(dir).isEmpty)
    }
  }
}

object TableLogSpec extends org.scalatest.Assertions {

  /** Run `attempt(i)` for racers 0..n-1 on their own threads, released
    * at once; returns each racer's result. A racer that throws fails
    * the test (wrap an attempt that is meant to fail in a `Try`). */
  def race[A](racers: Int)(attempt: Int => A): Map[Int, A] = {
    val gate = new CountDownLatch(1)
    val results = new ConcurrentHashMap[Int, A]()
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until racers).map { i =>
      new Thread(() => {
        try { gate.await(); results.put(i, attempt(i)) }
        catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join(30000))
    assert(failures.isEmpty, s"a racer threw: ${failures.peek()}")
    assert(results.size == racers)
    (0 until racers).map(i => i -> results.get(i)).toMap
  }
}
