package graft.table

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the table family's metadata-file I/O behind [[TableLog]]: no
  * source under `graft/queries`, and none of the five streaming
  * consumers of the table format, may create-if-absent
  * (`createLink`), swap (`ATOMIC_MOVE`) or list numbered manifests by
  * hand. (EventWindows' producer-rename simulation is not table code
  * and is not scanned.)
  */
class TableLogGuardSpec extends AnyFunSuite {

  private val forbidden = Seq("createLink(", "ATOMIC_MOVE",
    "startsWith(\"manifest-\")")

  private val consumers = Seq("CasSink", "CdfStream", "DvFeedStream",
    "CdcEqDelete", "FeedRetention")

  /** `file:line: text` for every forbidden use in `src`. */
  private def violations(file: String, src: String): Seq[String] =
    src.linesIterator.zipWithIndex.collect {
      case (line, i) if forbidden.exists(line.contains) =>
        s"$file:${i + 1}: ${line.trim}"
    }.toSeq

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

  test("table code commits, swaps and lists manifests only through TableLog") {
    val files = scanned
    assert(files.size > consumers.size && files.forall(Files.isRegularFile(_)),
      s"scan set is wrong: $files")
    val found = files.flatMap(p => violations(p.toString, Files.readString(p)))
    assert(found.isEmpty,
      "metadata-file I/O outside graft.table.TableLog:\n" + found.mkString("\n"))
  }
}
