package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps every session setting in one module: `GraftSession.local`
  * holds the session-wide constants and `GraftSession.withConf` scopes
  * a setting to one query on a clone. No other source under
  * `src/main/scala` may write a session's conf, so no query can change
  * the settings of a query that runs beside it.
  */
class SessionConfGuardSpec extends AnyFunSuite {

  private val writes = Seq(".conf.set(", ".conf.unset(", ".setConf(",
    ".setConfString(")

  private val owners = Set("GraftSession.scala", "GraftSessions.scala")

  /** `file:line: text` for every conf write in `src`. */
  private def violations(file: String, src: String): Seq[String] =
    if (owners(Paths.get(file).getFileName.toString)) Nil
    else src.linesIterator.zipWithIndex.collect {
      case (line, i) if writes.exists(line.contains) =>
        s"$file:${i + 1}: ${line.trim}"
    }.toSeq

  private def sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  test("the scanner flags each conf write and exempts only the session module") {
    writes.foreach { w =>
      val line = s"    s$w\"spark.sql.shuffle.partitions\", \"8\")"
      assert(violations("src/main/scala/graft/queries/X.scala",
        s"ok\n$line").size == 1, w)
      assert(violations("src/main/scala/graft/streaming/StreamRun.scala",
        line).size == 1, w)
      assert(violations("src/main/scala/graft/GraftSession.scala", line).isEmpty, w)
      assert(violations("src/main/scala/org/apache/spark/sql/GraftSessions.scala",
        line).isEmpty, w)
    }
    // reading a setting, and Hadoop's own Configuration, are fine
    assert(violations("X.scala",
      "s.conf.get(\"spark.sql.shuffle.partitions\")\n" +
        "hadoopConf.set(\"fs.defaultFS\", \"file:///\")").isEmpty)
  }

  test("no source under src/main/scala writes a session's conf outside GraftSession") {
    val files = sources
    assert(files.exists(_.toString.endsWith("graft/GraftSession.scala")) &&
      files.exists(_.toString.endsWith("graft/queries/Joins.scala")),
      s"scan set is wrong: ${files.take(5)}")
    val found = files.flatMap(p => violations(p.toString, Files.readString(p)))
    assert(found.isEmpty,
      "session conf written outside GraftSession.local / withConf:\n" +
        found.mkString("\n"))
  }
}
