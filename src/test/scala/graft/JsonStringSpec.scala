package graft

import graft.sink.Sinks
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

class JsonStringSpec extends SparkSpecBase {
  import spark.implicits._

  private val nasty = Seq(
    "plain",
    "",
    "say \"hi\"",
    "C:\\dir\\file \\\" \\\\n",
    "tab\there\r\nnext line",
    (0 until 0x20).map(_.toChar).mkString,
    "é ñ ü — “quoted” 中文 🏀 Ωmega",
    "\u007f del and \u2028 line sep")

  test("quote round-trips quotes, backslashes, control chars, non-ASCII") {
    val dir = Files.createTempDirectory("graft-json")
    val lines = nasty.zipWithIndex.map { case (v, i) =>
      s"""{"i":$i,"v":${JsonString.quote(v)}}""" }
    lines.foreach(l => assert(!l.exists(_ < ' '), l))
    Files.write(dir.resolve("lines.json"), lines.mkString("\n").getBytes(UTF_8))
    val back = spark.read.schema("i INT, v STRING").json(dir.toString)
      .as[(Int, String)].collect().sortBy(_._1).map(_._2).toSeq
    assert(back == nasty)
  }

  test("writeEnveloped's _meta sidecar round-trips the same strings") {
    val df = Seq((1, "x")).toDF("id", "s")
    nasty.foreach { v =>
      val path = Files.createTempDirectory("graft-json-meta").toString
      Sinks.writeEnveloped(df, path, source = v, runTimestamp = v)
      val meta = spark.read.json(s"$path/_meta").head()
      assert(meta.getAs[String]("source") == v)
      assert(meta.getAs[String]("scraped_at") == v)
      assert(meta.getAs[Long]("record_count") == 1L)
    }
  }
}
