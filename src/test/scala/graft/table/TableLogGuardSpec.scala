package graft.table

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
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
  * And no main source outside `graft/table` may read, probe, create or
  * swap a `manifest-N` or `checkpoint-N` body through `TableLog`
  * itself: bodies are encoded, decoded and read only in [[Snapshot]].
  * The bodies kept outside that grammar on purpose are named, with
  * their reason, in `ownGrammar`.
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

  /** The members that keep a body grammar of their own under a
    * `manifest-N` name, and why: (file suffix, member) -> reason. */
  private val ownGrammar: Map[(String, String), String] = Map(
    ("queries/Warehouse.scala", "o25Commit") ->
      ("o25's touched-set plus partition→token map: a partition-mapped " +
        "table that no snapshot reader opens"),
    ("queries/Warehouse.scala", "o25SnapshotOf") ->
      "decodes o25's own partition-map body",
    ("queries/Similarity.scala", "s28IvfCellSplit") ->
      ("s28's `cell:dir:rows` index entries, routed by cell, never read " +
        "as a table version"),
    ("queries/WarehouseSafety.scala", "o32ProtocolGate") ->
      ("parses a manifest with the legacy grammar and forges a " +
        "future-protocol body, to show what an old reader sees"))

  private val BodyCall = """TableLog\.(read|get|create|replace)\(""".r

  private val metadataNames =
    Seq("manifest(", "checkpoint(", "\"manifest-", "\"checkpoint-")

  /** `file:line: text` for every `TableLog` body call on a manifest or
    * checkpoint name (on the call's line or the next) outside the
    * `ownGrammar` members. */
  private def bodyAccesses(file: String, src: String): Seq[String] = {
    val lines = src.linesIterator.toVector
    var member = ""
    lines.indices.flatMap { i =>
      lines(i) match { case Member(m) => member = m; case _ => }
      val call = lines(i) + lines.lift(i + 1).getOrElse("")
      val own = ownGrammar.keys.exists { case (f, m) =>
        file.endsWith(f) && m == member }
      if (BodyCall.findFirstIn(lines(i)).isDefined &&
          metadataNames.exists(call.contains) && !own)
        Some(s"$file:${i + 1}: ${lines(i).trim}")
      else None
    }
  }

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

  test("the scanner flags a manifest or checkpoint body read or written outside Snapshot") {
    val calls = Seq(
      "val t = TableLog.read(base, TableLog.manifest(v)).trim",
      "TableLog.get(base, TableLog.manifest(v)).isDefined",
      "TableLog.create(base, TableLog.manifest(v), token)",
      "TableLog.replace(base, TableLog.checkpoint(v), body)",
      "TableLog.read(base, \"checkpoint-17\")",
      "require(TableLog.create(base,\n      TableLog.manifest(1), body))")
    def in(member: String, line: String) =
      s"  private[graft] def $member(base: String): Unit = {\n    $line\n  }"
    calls.foreach { c =>
      assert(bodyAccesses("src/main/scala/graft/queries/X.scala",
        in("readTable", c)).size == 1, c)
      assert(bodyAccesses("src/main/scala/graft/streaming/CasSink.scala",
        in("committed", c)).size == 1, c)
      // the named own-grammar members only, and only in their file
      assert(bodyAccesses("src/main/scala/graft/queries/Warehouse.scala",
        in("o25SnapshotOf", c)).isEmpty, c)
      assert(bodyAccesses("src/main/scala/graft/queries/Warehouse.scala",
        in("s28IvfCellSplit", c)).size == 1, c)
    }
    // the pointer, a schema/layout body and the listings are not bodies
    // of the chain
    Seq("TableLog.read(base, TableLog.LastCheckpoint).trim",
        "TableLog.create(base, s\"schema-$v\", body)",
        "TableLog.versions(base)", "TableLog.checkpoints(base)",
        "Snapshot.manifestOf(base, v).token").foreach { c =>
      assert(bodyAccesses("src/main/scala/graft/queries/X.scala",
        in("readTable", c)).isEmpty, c)
    }
  }

  test("manifest and checkpoint bodies are encoded, decoded and read only in Snapshot") {
    val main = Paths.get("src/main/scala")
    val walk = Files.walk(main)
    val files = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.startsWith(main.resolve("graft/table")))
      .toVector finally walk.close()
    assert(files.exists(_.toString.endsWith("streaming/CasSink.scala")) &&
      files.exists(_.toString.endsWith("queries/Similarity.scala")) &&
      !files.exists(_.toString.endsWith("table/Snapshot.scala")),
      s"scan set is wrong: $files")
    val found = files.flatMap(p => bodyAccesses(p.toString, Files.readString(p)))
    assert(found.isEmpty,
      "manifest/checkpoint bodies handled outside graft.table.Snapshot:\n" +
        found.mkString("\n"))
    // every allowlisted member still exists where it is named
    ownGrammar.keys.foreach { case (f, m) =>
      val src = Files.readString(main.resolve(s"graft/$f"))
      assert(src.linesIterator.exists {
        case Member(`m`) => true; case _ => false }, s"$f has no member $m")
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
