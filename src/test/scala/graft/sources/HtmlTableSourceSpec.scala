package graft.sources

import graft.{GraftSession, SparkSpecBase}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

/** DSv2 behaviors of the HTML page source: normalized schema, source-side
  * column pruning, pages packed into file splits, and page-filter file
  * pruning (the partition-pruning analog at the crawl layer).
  */
class HtmlTableSourceSpec extends SparkSpecBase {

  private def fixturePath: String =
    getClass.getResource("/fixtures/team_page.html").getPath

  private def load(tableId: String) = spark.read
    .format("graft.sources.HtmlTableSource")
    .option("path", fixturePath)
    .option("tableId", tableId)
    .load()

  test("schema = meta + normalized headers (canonical rename + dedup suffix)") {
    assert(load("Per_100").schema.fieldNames.toSeq == Seq(
      "page", "from_comment", "row_idx",
      "Rk", "Player", "Offense PTS", "FG_pct", "Defense PTS", "FG_pct_1"))
  }

  test("rows surface with page/from_comment/row_idx metadata") {
    val rows = load("Roster").orderBy("row_idx").collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getString(0) == "team_page"))
    assert(rows.forall(!_.getBoolean(1)))
    assert(rows.map(_.getLong(2)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows.map(r => r.getString(r.fieldIndex("Player"))).toSeq ==
      Seq("Jayson Tatum", "Jaylen Brown", "Kristaps Porziņģis", "Texas A&M Guy"))
  }

  test("comment-embedded table reads with from_comment=true") {
    val rows = load("Shooting").orderBy("row_idx").collect()
    assert(rows.length == 2 && rows.forall(_.getBoolean(1)))
    assert(rows(1).isNullAt(rows(1).fieldIndex("3PA")))
  }

  test("column pruning is pushed into the source scan") {
    val pruned = load("Roster").select("Player", "row_idx")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scans.nonEmpty, "no BatchScanExec found")
    assert(scans.head.schema.fieldNames.toSet == Set("Player", "row_idx"),
      s"scan not pruned: ${scans.head.schema.fieldNames.mkString(",")}")
  }

  test("tableId=* long mode agrees cell-for-cell with the wide reads") {
    val long = load("*")
      .select("table_id", "row_idx", "col", "value")
      .collect().map(_.toSeq).toSet
    val wide = Seq("Roster", "Unidentified_Table_1", "Per_100", "Shooting")
      .flatMap { t =>
        val df = load(t)
        val dataCols = df.columns
          .filterNot(Set("page", "from_comment", "row_idx")).toSeq
        df.collect().flatMap { r =>
          dataCols.map(c =>
            Seq[Any](t, r.getLong(r.fieldIndex("row_idx")), c,
              r.get(r.fieldIndex(c))))
        }
      }.toSet
    assert(long == wide)
    // the long schema is the uniform cell relation
    assert(load("*").schema.fieldNames.toSeq == Seq(
      "page", "table_id", "from_comment", "row_idx", "col", "value"))
  }

  private def writePage(dir: java.nio.file.Path, name: String,
      html: String): Unit =
    java.nio.file.Files.writeString(dir.resolve(name), html)

  private def inTempDir[A](f: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_html_src")
    try f(dir)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .foreach(java.nio.file.Files.delete)
      java.nio.file.Files.delete(dir)
    }
  }

  test("duplicate friendly name: LAST table wins (reference dict-overwrite)") {
    inTempDir { dir =>
      // advanced and advanced_stats both map to Advanced; the reference's
      // dict assignment keeps the later one
      writePage(dir, "bos.html",
        """<table id="advanced"><tr><th>A</th></tr><tr><td>old</td></tr></table>
          |<table id="advanced_stats"><tr><th>A</th></tr><tr><td>new</td></tr>
          |</table>""".stripMargin)
      val df = spark.read.format("graft.sources.HtmlTableSource")
        .option("path", dir.toString).option("tableId", "Advanced").load()
      assert(df.select("A").collect().map(_.getString(0)).toSeq == Seq("new"))
    }
  }

  test("headerless table surfaces under positional col_i names (long and wide)") {
    inTempDir { dir =>
      writePage(dir, "bos.html",
        """<table id="notes"><tr><td>Arena</td><td>TD Garden</td></tr>
          |<tr><td>Coach</td><td>Joe Mazzulla</td></tr></table>""".stripMargin)
      val wide = spark.read.format("graft.sources.HtmlTableSource")
        .option("path", dir.toString).option("tableId", "notes").load()
      assert(wide.schema.fieldNames.toSeq ==
        Seq("page", "from_comment", "row_idx", "col_0", "col_1"))
      assert(wide.orderBy("row_idx").select("col_0", "col_1").collect()
        .map(_.toSeq).toSeq ==
        Seq(Seq("Arena", "TD Garden"), Seq("Coach", "Joe Mazzulla")))
      val long = spark.read.format("graft.sources.HtmlTableSource")
        .option("path", dir.toString).option("tableId", "*").load()
        .filter(col("table_id") === "notes")
      assert(long.count() == 4) // 2 rows x 2 cells — no silent drop
    }
  }

  test("a nested widget table reads as its own table; the host keeps its cells") {
    inTempDir { dir =>
      // a stats table whose last cell hosts a nested "widget" table —
      // the parity shape read_html produces two frames for; through the
      // DSv2 source BOTH must be addressable by tableId, the host's
      // rows unshifted and free of widget content
      writePage(dir, "bos.html",
        """<table id="roster"><tr><th>Player</th><th>Note</th></tr>
          |<tr><td>Tatum</td><td>star
          |<table id="widget"><tr><td>w1</td><td>w2</td></tr></table>
          |</td></tr></table>""".stripMargin)
      val host = spark.read.format("graft.sources.HtmlTableSource")
        .option("path", dir.toString).option("tableId", "Roster").load()
      assert(host.select("Player", "Note").collect().map(_.toSeq).toSeq ==
        Seq(Seq("Tatum", "star")))
      val widget = spark.read.format("graft.sources.HtmlTableSource")
        .option("path", dir.toString).option("tableId", "widget").load()
      assert(widget.schema.fieldNames.toSeq ==
        Seq("page", "from_comment", "row_idx", "col_0", "col_1"))
      assert(widget.select("col_0", "col_1").collect().map(_.toSeq).toSeq ==
        Seq(Seq("w1", "w2")))
    }
  }

  test("schema drift across pages fails loudly with the page name") {
    inTempDir { dir =>
      writePage(dir, "a_first.html",
        """<table id="roster"><tr><th>Rk</th><th>Name</th></tr>
          |<tr><td>1</td><td>Tatum</td></tr></table>""".stripMargin)
      writePage(dir, "b_drifted.html",
        """<table id="roster"><tr><th>Rk</th><th>FullName</th></tr>
          |<tr><td>1</td><td>James</td></tr></table>""".stripMargin)
      val df = spark.read.format("graft.sources.HtmlTableSource")
        .option("path", dir.toString).option("tableId", "Roster").load()
      val e = intercept[org.apache.spark.SparkException] { df.collect() }
      val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
      assert(msg.contains("b_drifted") && msg.contains("drifted headers"),
        s"unexpected message: $msg")
    }
  }

  /** `body` on a clone whose split settings pack pages by their own
    * bytes: a page costs its length + 1, and the split size is the
    * listing's total over `minPartitionNum`. The scan plans its splits
    * with the settings of the session that built it, so every read and
    * collect happens on the clone. */
  private def packing[A](minPartitionNum: Int)(body: SparkSession => A): A =
    GraftSession.withConf(spark, Seq(
      "spark.sql.files.openCostInBytes" -> "1",
      "spark.sql.files.minPartitionNum" -> minPartitionNum.toString))(body)

  private def splitsOf(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.inputPartitions)
      .map(_.asInstanceOf[HtmlPageSplit].files.map(f =>
        new java.io.File(f).getName))

  test("pages pack next-fit into splits, rows in page order") {
    inTempDir { dir =>
      val src = java.nio.file.Paths.get(fixturePath)
      val pages = Seq("bos", "chi", "den", "mil", "nyk")
      pages.foreach(p => java.nio.file.Files.copy(src, dir.resolve(s"$p.html")))
      packing(minPartitionNum = 2) { c =>
        val all = c.read.format("graft.sources.HtmlTableSource")
          .option("path", dir.toString).option("tableId", "Roster").load()
        // 5 equal pages, split size 2.5 pages: two pages fit, a third
        // would not
        assert(splitsOf(all) == Seq(Seq("bos.html", "chi.html"),
          Seq("den.html", "mil.html"), Seq("nyk.html")))
        assert(all.rdd.getNumPartitions == 3)
        val rows = all.select("page", "row_idx", "Player").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
        val players = Seq("Jayson Tatum", "Jaylen Brown",
          "Kristaps Porziņģis", "Texas A&M Guy")
        assert(rows == pages.flatMap(p =>
          players.zipWithIndex.map { case (n, i) => (p, i.toLong, n) }))

        val one = all.filter(col("page") === "mil")
        val plan = one.queryExecution.executedPlan
        assert(plan.toString.contains("EqualTo(page,mil)"),
          s"page filter not pushed:\n$plan")
        // whole-file pruning: only the matching page's file is planned
        assert(splitsOf(one) == Seq(Seq("mil.html")))
        assert(one.count() == 4)
      }
    }
  }

  test("a drifted page fails by name in a shared split") {
    inTempDir { dir =>
      writePage(dir, "a_first.html",
        """<table id="roster"><tr><th>Rk</th><th>Name</th></tr>
          |<tr><td>1</td><td>Tatum</td></tr></table>""".stripMargin)
      writePage(dir, "b_drifted.html",
        """<table id="roster"><tr><th>Rk</th><th>FullName</th></tr>
          |<tr><td>1</td><td>James</td></tr></table>""".stripMargin)
      packing(minPartitionNum = 1) { c =>
        val df = c.read.format("graft.sources.HtmlTableSource")
          .option("path", dir.toString).option("tableId", "Roster").load()
        assert(splitsOf(df) == Seq(Seq("a_first.html", "b_drifted.html")))
        val e = intercept[org.apache.spark.SparkException] { df.collect() }
        val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
        assert(msg.contains("b_drifted") && msg.contains("drifted headers"),
          s"unexpected message: $msg")
      }
    }
  }
}
