package graft.tools

import org.apache.spark.sql.functions._
import graft.clean.Clean
import graft.enrich.Teams
import graft.extract.Extract
import graft.ingest.Readers
import graft.sink.Sinks
import graft.validate.Validate

/** Full reference replay: every lifecycle from SURVEY §3 composed into
  * one batch job over the committed fixtures, ending in the reference's
  * actual output contract — partitioned, metadata-enveloped documents
  * plus a run summary (S8-S11).
  *
  * Usage: sbt "runMain graft.tools.ReplayPipeline /tmp/replay_out"
  * A user of the reference gets the same artifacts (per-team stats docs,
  * validated DvP cube, parsed props per match) from one Spark job
  * instead of seven scrapers.
  */
object ReplayPipeline {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/replay_out")
    val runTs = sys.env.getOrElse("GRAFT_RUN_TS", "2026-01-01T00:00:00")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val fixtures = "src/test/resources/fixtures"
    val ledger = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

    def step(name: String)(body: => Unit): Unit =
      try { body; ledger += name -> "done" }
      catch { case e: Exception =>
        System.err.println(s"[$name] ${e.getMessage}")
        ledger += name -> "error"
      }

    // §3.2 — scraped stats table: ingest → normalize → clean → sink
    step("bref_roster") {
      val cleaned = Clean.guardedNumericCoercion(
        Clean.dropRepeatedHeaderRows(
          Readers.rawTable(spark, s"$fixtures/raw_table.json", "roster")),
        Seq("Rk", "Totals PTS", "FG_pct", "FG_pct_1"))
        .withColumn("Birth_Date", Clean.reformatDateUs(col("Birth_Date")))
        .withColumn("Birth", Clean.repairCountry(col("Birth")))
      Sinks.writePartitioned(cleaned, s"$outDir/stats", Seq("team", "page"))
    }

    // §3.3 — DvP: ingest → canonicalize → validate (fail-fast) → cube
    step("dvp_cube") {
      val canon = Teams.canonicalize(
        Readers.dvpRaw(spark, s"$fixtures/dvp_raw.json"), "team_raw")
      Validate.requireEmpty(
        Validate.groupsWithWrongDistinctCount(
          canon, Seq("position", "timeframe"), "canonical", 30),
        "30-team contract")
      val cube = canon.groupBy(col("canonical"), col("position"))
        .pivot("timeframe", Seq("2025-26", "Last 7"))
        .agg(first(col("pts")))
      Sinks.writeEnveloped(cube, s"$outDir/dvp", "bettingpros_dvp", runTs)
    }

    // §3.1-shape — props page text: line scan → typed → partitioned sink
    step("props") {
      import spark.implicits._
      val pages = Seq(
        ("Celtics vs Lakers",
          "Jayson Tatum\nPoints\nO 27.5 -110 +100\nRebounds\nO 8.5 +120"),
        ("Mavs vs Suns",
          "Luka Doncic\nPoints\nO 32.5 -120 +105")).toDF("match_id", "text")
      Sinks.writePartitioned(Extract.lineScan(pages, "match_id", "text"),
        s"$outDir/props", Seq("match_id"))
    }

    // S11 — run summary over the step ledger
    step("run_summary") {
      import spark.implicits._
      Sinks.writeRunSummary(
        ledger.toSeq.toDF("step", "status"), "status", s"$outDir/summary")
    }

    println(s"replay complete: ${ledger.map { case (s, st) => s"$s=$st" }.mkString(", ")}")
    spark.stop()
  }
}
