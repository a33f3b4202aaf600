package graft.queries

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the vector family's shared steps written once: no Scala source
  * under `src/main` may
  *
  *  - rank neighbors with `graft_topk(<score>, vec_id, …)` outside
  *    [[Similarity.topKOf]] (a centroid or code argmax keyed on
  *    `cent_id`/`code` is a different step and is not matched);
  *  - run a PQ Lloyd step, `pqRefit(`, outside [[Similarity.pqTrain]]
  *    (and `pqRefit`'s own definition).
  *
  * Comments and triple-quoted literals are skipped: the oracle SQL
  * lives in the latter and keeps its own text on purpose. One-line
  * literals are scanned, since the Spark expression strings handed to
  * `expr` are program code.
  */
class VectorKernelGuardSpec extends AnyFunSuite {

  private val NeighborTopK = """graft_topk\(\s*[^,()]+,\s*vec_id\s*,""".r
  private val PqRefit = """\bpqRefit\(""".r

  /** (file suffix, member) → the one pattern that member may hold. */
  private val owners: Map[(String, String), scala.util.matching.Regex] = Map(
    ("queries/Similarity.scala", "topKOf") -> NeighborTopK,
    ("queries/Similarity.scala", "pqTrain") -> PqRefit,
    ("queries/Similarity.scala", "pqRefit") -> PqRefit)

  /** An object member's header (two-space indent), naming the member
    * that the lines below it belong to. */
  private val Member =
    """  (?:private(?:\[\w+\])? |final |lazy |override )*(?:def|val|var) (\w+).*""".r

  /** `src` with every comment and triple-quoted literal blanked to
    * spaces, newlines kept, so line numbers still match the file. */
  private[queries] def codeOf(src: String): String = {
    val out = new StringBuilder(src.length)
    def blank(c: Char): Char = if (c == '\n') '\n' else ' '
    var i = 0
    var depth = 0 // block-comment nesting
    var triple = false
    var line = false
    var single = false
    while (i < src.length) {
      val c = src(i)
      def at(s: String) = src.startsWith(s, i)
      if (line) {
        if (c == '\n') line = false
        out += blank(c); i += 1
      } else if (depth > 0) {
        if (at("/*")) { depth += 1; out ++= "  "; i += 2 }
        else if (at("*/")) { depth -= 1; out ++= "  "; i += 2 }
        else { out += blank(c); i += 1 }
      } else if (triple) {
        if (at("\"\"\"")) {
          // a run of more than three quotes closes on its last three
          while (src.startsWith("\"\"\"\"", i)) { out += ' '; i += 1 }
          triple = false; out ++= "   "; i += 3
        } else { out += blank(c); i += 1 }
      } else if (single) {
        if (c == '\\' && i + 1 < src.length) { out += c += src(i + 1); i += 2 }
        else {
          if (c == '"' || c == '\n') single = false
          out += c; i += 1
        }
      } else if (at("\"\"\"")) { triple = true; out ++= "   "; i += 3 }
      else if (c == '"') { single = true; out += c; i += 1 }
      else if (at("//")) { line = true; out ++= "  "; i += 2 }
      else if (at("/*")) { depth = 1; out ++= "  "; i += 2 }
      else if (c == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3); i += 3 // a char literal like '"'
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** `file:line: text` for every match outside the member that owns it. */
  private[queries] def copies(file: String, src: String): Seq[String] = {
    var member = ""
    codeOf(src).linesIterator.zipWithIndex.flatMap { case (line, i) =>
      line match { case Member(m) => member = m; case _ => }
      Seq(NeighborTopK, PqRefit).filter(_.findFirstIn(line).isDefined)
        .filterNot(p => owners.exists { case ((f, m), q) =>
          file.endsWith(f) && m == member && (q eq p) })
        .map(_ => s"$file:${i + 1}: ${line.trim}")
    }.toSeq
  }

  private def in(member: String, body: String): String =
    s"object X {\n  private[graft] def $member(e: DataFrame): DataFrame = {\n" +
      s"    $body\n  }\n}\n"

  private val sim = "src/main/scala/graft/queries/Similarity.scala"
  private val topK = """.agg(expr(s"graft_topk(cos, vec_id, $k)").as("top"))"""
  private val refit = "val cb = pqRefit(subs, pqAssign(subs, seed))"

  test("the scanner flags a neighbor top-k or a PQ Lloyd step outside its owner") {
    Seq(topK, """.agg(expr("graft_topk(acos, vec_id, 5)").as("top"))""",
        refit).foreach { c =>
      assert(copies(sim, in("s99Copy", c)).size == 1, c)
      assert(copies("src/main/scala/graft/queries/Dedup.scala",
        in("d99Copy", c)).size == 1, c)
    }
    // each owner holds only its own step, and only in Similarity.scala
    assert(copies(sim, in("topKOf", topK)).isEmpty)
    assert(copies(sim, in("pqTrain", refit)).isEmpty)
    assert(copies(sim, in("topKOf", refit)).size == 1)
    assert(copies(sim, in("pqTrain", topK)).size == 1)
    assert(copies("src/main/scala/graft/queries/Dedup.scala",
      in("topKOf", topK)).size == 1)
    // an argmax keyed on a centroid or a code is another step
    assert(copies(sim, in("s99", """expr("graft_topk(ccos, cent_id, 1)")""")).isEmpty)
    assert(copies(sim, in("s99", """expr("graft_topk(score, code, 1)")""")).isEmpty)
    // a nested helper inside a member still belongs to the member
    assert(copies(sim, in("topKOf", s"def go() = 1\n    $topK")).isEmpty)
  }

  test("the scanner skips comments and triple-quoted oracle SQL, and keeps line numbers") {
    val skipped = Seq(
      s"// $topK", s"/* $refit */", s"/* a /* nested */ $refit */",
      "val sql = s\"\"\"SELECT graft_topk(cos, vec_id, 5)\n  |FROM t\"\"\"",
      "val sql = \"\"\"x\"\"\"\" + \"\"\"\n  pqRefit(a, b)\"\"\"")
    skipped.foreach(c => assert(copies(sim, in("s99", c)).isEmpty, c))
    // a quote or a comment marker inside a one-line literal is not a
    // literal or comment boundary for the code after it
    assert(copies(sim, in("s99",
      "val u = \"http://x\"; val c = '\"'; " + refit)).size == 1)
    val found = copies(sim,
      in("s99", "val sql = \"\"\"a\n  |b\n  |c\"\"\"\n    " + refit))
    assert(found.size == 1 && found.head.startsWith(s"$sim:6: "), found)
  }

  test("neighbor top-k and PQ training are each written once in src/main") {
    val main = Paths.get("src/main/scala")
    val walk = Files.walk(main)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector finally walk.close()
    assert(files.exists(_.toString.endsWith("queries/Similarity.scala")) &&
      files.exists(_.toString.endsWith("queries/Dedup.scala")),
      s"scan set is wrong: $files")
    val found = files.flatMap(p => copies(p.toString, Files.readString(p)))
    assert(found.isEmpty,
      "vector steps copied outside their shared function:\n" +
        found.mkString("\n"))
    // every owner still exists and still holds its step
    owners.foreach { case ((f, m), p) =>
      val src = codeOf(Files.readString(main.resolve(s"graft/$f")))
      var member = ""
      val held = src.linesIterator.exists { line =>
        line match { case Member(x) => member = x; case _ => }
        member == m && p.findFirstIn(line).isDefined
      }
      assert(held, s"$f has no member $m holding ${p.regex}")
    }
  }
}
