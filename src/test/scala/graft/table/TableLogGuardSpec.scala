package graft.table

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the table family's metadata-file I/O behind [[TableLog]] and
  * its retention behind the one vacuum: no source under
  * `graft/queries`, and none of the five streaming consumers of the
  * table format, may
  *
  *  - create-if-absent (`createLink`), swap (`ATOMIC_MOVE`) or list
  *    numbered manifests or checkpoints by hand;
  *  - unlink a manifest or checkpoint anywhere but inside
  *    `Warehouse.vacuum` (a second vacuum);
  *  - list a directory with `java.io.File` (`listFiles`/`list()`): a
  *    table base is listed through `TableLog` or `Tables.listDir`.
  *    `Layout.scala` is exempt: a13 compacts live directories, not
  *    tables.
  *
  * (EventWindows' producer-rename simulation is not table code and is
  * not scanned.)
  */
class TableLogGuardSpec extends AnyFunSuite {

  private val forbidden = Seq("createLink(", "ATOMIC_MOVE",
    "startsWith(\"manifest-\")", "startsWith(\"checkpoint-\")")

  private val fileListings = Seq("listFiles(", ".list()")

  private val consumers = Seq("CasSink", "CdfStream", "DvFeedStream",
    "CdcEqDelete", "FeedRetention")

  /** A delete call on a line that names a manifest or a checkpoint. */
  private def unlinksMetadata(line: String): Boolean =
    Seq("delete(", "deleteIfExists(").exists(line.contains) &&
      Seq("manifest", "checkpoint").exists(line.contains)

  /** An object member's header (two-space indent), naming the member
    * that the lines below it belong to. */
  private val Member =
    """  (?:private(?:\[\w+\])? |final |lazy )*(?:def|val|var) (\w+).*""".r

  /** `file:line: text` for every forbidden use in `src`. */
  private def violations(file: String, src: String): Seq[String] = {
    val inVacuum = (member: String) =>
      file.endsWith("queries/Warehouse.scala") && member == "vacuum"
    val listingExempt = file.endsWith("queries/Layout.scala")
    var member = ""
    src.linesIterator.zipWithIndex.flatMap { case (line, i) =>
      line match { case Member(m) => member = m; case _ => }
      val hit = forbidden.exists(line.contains) ||
        (unlinksMetadata(line) && !inVacuum(member)) ||
        (fileListings.exists(line.contains) && !listingExempt)
      if (hit) Some(s"$file:${i + 1}: ${line.trim}") else None
    }.toSeq
  }

  private def scanned: Seq[Path] = {
    val queries = Paths.get("src/main/scala/graft/queries")
    graft.Tables.listDir(queries).filter(_.toString.endsWith(".scala")) ++
      consumers.map(c => Paths.get(s"src/main/scala/graft/streaming/$c.scala"))
  }

  test("the scanner flags each forbidden use") {
    forbidden.foreach { f =>
      assert(violations("X.scala", s"ok\n  val x = $f").size == 1, f)
    }
    assert(violations("X.scala", "TableLog.create(base, name, body)").isEmpty)
  }

  test("the scanner flags a hand-written manifest or checkpoint unlink outside the one vacuum") {
    val unlinks = Seq(
      "Files.deleteIfExists(Paths.get(base, TableLog.manifest(v)))",
      "java.nio.file.Files.delete(dir.resolve(\"manifest-1\"))",
      "Paths.get(base, TableLog.checkpoint(c)).toFile.delete()")
    def in(member: String, line: String) =
      s"  private[graft] def $member(base: String): Unit = {\n    $line\n  }"
    unlinks.foreach { u =>
      assert(violations("src/main/scala/graft/queries/X.scala",
        in("vacuum", u)).size == 1, u)
      assert(violations("src/main/scala/graft/queries/Warehouse.scala",
        in("secondVacuum", u)).size == 1, u)
      assert(violations("src/main/scala/graft/queries/Warehouse.scala",
        in("vacuum", u)).isEmpty, u)
    }
    // a nested helper inside the vacuum is still the vacuum
    assert(violations("src/main/scala/graft/queries/Warehouse.scala",
      in("vacuum", "def gone(v: Int) = Files.delete(TableLog.manifest(v))"))
      .isEmpty)
    // deleting data dirs or naming a manifest without deleting is fine
    assert(violations("src/main/scala/graft/queries/X.scala",
      in("o22Delete", "FileUtils.deleteDirectory(dataDir.toFile)") + "\n" +
        in("o16Read", "TableLog.read(base, TableLog.manifest(v))")).isEmpty)
  }

  test("the scanner flags a java.io.File listing of a table base outside Layout") {
    Seq("Option(new java.io.File(base).listFiles()).toSeq.flatten",
        "Option(new java.io.File(base).list()).toSeq.flatten").foreach { l =>
      assert(violations("src/main/scala/graft/queries/Warehouse.scala",
        s"    val xs = $l").size == 1, l)
      assert(violations("src/main/scala/graft/streaming/CasSink.scala",
        s"    val xs = $l").size == 1, l)
      assert(violations("src/main/scala/graft/queries/Layout.scala",
        s"    val xs = $l").isEmpty, l)
    }
  }

  test("table code commits, swaps and lists manifests only through TableLog") {
    val files = scanned
    assert(files.size > consumers.size && files.forall(Files.isRegularFile(_)),
      s"scan set is wrong: $files")
    assert(files.exists(_.toString.endsWith("queries/Warehouse.scala")) &&
      files.exists(_.toString.endsWith("queries/WarehouseSafety.scala")))
    val found = files.flatMap(p => violations(p.toString, Files.readString(p)))
    assert(found.isEmpty,
      "metadata-file I/O outside graft.table.TableLog:\n" + found.mkString("\n"))
  }
}
