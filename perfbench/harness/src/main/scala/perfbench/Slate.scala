package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.clean.Clean
import graft.enrich.Teams
import graft.extract.{Extract, Insights}
import graft.ingest.Readers
import graft.normalize.Columns
import graft.plans.GraftExtensions
import graft.sink.Sinks
import graft.validate.Validate

/** The nightly lifecycle over one seeded slate, one call per layer:
  * sources → ingest → normalize → clean → enrich → validate → extract →
  * functions → sink. Every output is published as JSON under the pass
  * directory; the Python checker reads it back against the planted
  * answers. */
object Slate extends Harness.Workload {
  private val runTs = "2026-01-01T00:00:00"
  private val timeframes = Seq("2025-26", "Last 7", "Last 15", "Last 30")

  def run(spark: SparkSession, in: String, p: Harness.Pass): Unit = {
    import spark.implicits._
    val out = p.dir

    // one parse per page, every table (visible and comment-wrapped)
    val long = p.op("sources", "html_tables") {
      val df = p.boundary(spark.read.format("graft.sources.HtmlTableSource")
        .option("path", s"$in/pages").option("tableId", "*").load(), keep = true)
      p.countLater("sources.pages")(df.select("page").distinct().count())
      df
    }

    val ing = p.op("ingest", "readers") {
      (p.boundary(Readers.csvTable(spark, s"$in/league.csv")),
        p.boundary(Readers.dvpRaw(spark, s"$in/dvp.json")),
        p.boundary(spark.read.schema("match_id string, text string")
          .json(s"$in/props.json")),
        p.boundary(spark.read.schema("card_idx long, text string, url string")
          .json(s"$in/cards.json")))
    }

    // long cells → one wide relation over every table's columns (a
    // table's rows leave the others' columns null), canonically named
    val wide = p.op("normalize", "columns") {
      val cols = long.get.select("col").distinct().collect()
        .map(_.getString(0)).sorted.toSeq
      (p.boundary(Columns.normalize(long.get
          .groupBy("page", "table_id", "row_idx").pivot("col", cols)
          .agg(first("value")))),
        p.boundary(Columns.normalize(ing.get._1)))
    }

    val cleaned = p.op("clean", "clean") {
      val kept = Clean.dropRepeatedHeaderRows(wide.get._1)
      val candidates = kept.columns.toSeq
        .filterNot(Set("page", "table_id", "row_idx", "Player"))
      val stats = p.boundary(Clean.guardedNumericCoercion(kept, candidates))
      p.countLater("clean.rows_in")(wide.get._1.count().toDouble)
      p.countLater("clean.rows_kept")(stats.count().toDouble)
      (stats,
        p.boundary(Clean.guardedNumericCoercion(wide.get._2, Seq("W", "L", "PTS"))),
        p.boundary(ing.get._2.withColumn("team_raw", Clean.normWs(col("team_raw")))))
    }

    val enriched = p.op("enrich", "teams") {
      val pages = p.boundary(Teams.canonicalize(long.get.select("page").distinct()
        .withColumn("team", substring_index(col("page"), "_", 1)),
        "team", Seq("page"), "page"))
      val dvp = p.boundary(Teams.canonicalize(cleaned.get._3, "team_raw"))
      val league = p.boundary(Teams.canonicalize(
        cleaned.get._2.withColumn("row_idx", monotonically_increasing_id()),
        "Team", Seq.empty))
      p.countLater("enrich.unmatched")(Seq(dvp, league, pages)
        .map(_.filter(col("canonical").isNull).count()).sum.toDouble)
      (p.boundary(cleaned.get._1.join(broadcast(pages), Seq("page"))), dvp, league)
    }

    val validated = p.op("validate", "validate") {
      val viol = p.boundary(Validate.groupsWithWrongDistinctCount(
        enriched.get._2, Seq("position", "timeframe"), "canonical", 30))
      val missing = p.boundary(Validate.missingKeys(
        Teams.canonicalTeams.toDF("canonical"), enriched.get._3,
        "canonical", "canonical"))
      p.countLater("validate.violations")((viol.count() + missing.count()).toDouble)
      viol
    }

    val extracted = p.op("extract", "props_insights") {
      val props = p.boundary(Extract.lineScan(ing.get._3, "match_id", "text"))
      p.countLater("extract.props")(props.count().toDouble)
      (props, p.boundary(Insights.parse(ing.get._4)))
    }

    // the odds board: every line through the one-pass prop-line parser
    val odds = p.op("functions", "parse_prop_line") {
      GraftExtensions.ensureRegistered(spark)
      val df = p.boundary(ing.get._3
        .select(col("match_id"),
          posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
        .withColumn("pp", expr("graft_parse_prop_line(line)"))
        .filter(size(col("pp.odds")) > 0)
        .select(col("match_id"), col("line_no"), col("line"),
          col("pp.line").as("prop_line"), col("pp.over_odds").as("over_odds"),
          col("pp.under_odds").as("under_odds")))
      p.countLater("functions.odds_lines")(df.count().toDouble)
      df
    }

    p.op("sink", "publish") {
      Sinks.writePartitioned(enriched.get._1, s"$out/stats", Seq("team", "page"), "json")
      Sinks.writePartitioned(extracted.get._1, s"$out/props", Seq("match_id"), "json")
      Sinks.writePartitioned(odds.get, s"$out/odds", Seq("match_id"), "json")
      val cube = enriched.get._2
        .join(validated.get, Seq("position", "timeframe"), "left_anti")
        .filter(col("canonical").isNotNull)
        .groupBy("canonical", "position").pivot("timeframe", timeframes)
        .agg(first(col("pts")))
      Sinks.writeEnveloped(cube, s"$out/dvp", "dvp", runTs, "json")
      Sinks.writeEnveloped(validated.get, s"$out/dvp_violations", "dvp_validation",
        runTs, "json")
      Sinks.writeEnveloped(enriched.get._3, s"$out/league", "league_csv", runTs, "json")
      Sinks.writeEnveloped(extracted.get._2, s"$out/insights", "insight_cards",
        runTs, "json")
    }

    p.op("sink", "run_summary") {
      Sinks.writeRunSummary(p.ledger.toSeq.toDF("step", "status"), "status",
        s"$out/summary")
    }
  }
}
