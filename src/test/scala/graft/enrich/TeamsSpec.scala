package graft.enrich

import graft.SparkSpecBase
import graft.validate.Validate
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

class TeamsSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def canon(raws: (String, Long)*): Map[Long, String] = {
    val df = raws.toSeq.toDF("team_raw", "row_idx")
      .withColumn("position", lit("PG"))
      .withColumn("timeframe", lit("2025-26"))
    Teams.canonicalize(df, "team_raw")
      .collect()
      .map(r => r.getAs[Long]("row_idx") ->
        Option(r.getAs[String]("canonical")).orNull)
      .toMap
  }

  test("alias classes: full, city, abbreviation, mascot, record suffix, periods") {
    val r = canon(
      "BOSTON CELTICS" -> 0L, "Golden State" -> 1L, "PHX" -> 2L,
      "SIXERS" -> 3L, "Chicago Bulls (14-3)" -> 4L, "L.A.C" -> 5L,
      "Milwaukee" -> 6L)
    assert(r(0L) == "Boston Celtics")
    assert(r(1L) == "Golden State Warriors")
    assert(r(2L) == "Phoenix Suns")
    assert(r(3L) == "Philadelphia 76ers")
    assert(r(4L) == "Chicago Bulls")
    assert(r(5L) == "LA Clippers") // periods stripped → LAC
    assert(r(6L) == "Milwaukee Bucks")
  }

  test("mascot-strip retry resolves trailing-junk names; unknowns stay null") {
    val r = canon("CLEVELAND CAVALIERS FANS" -> 0L, "ZZZ UNKNOWN" -> 1L)
    assert(r(0L) == "Cleveland Cavaliers")
    assert(r(1L) == null)
  }

  private def laRows = Seq(
    ("LOS ANGELES", 0L, "PG", "2025-26"),
    ("BOS", 1L, "PG", "2025-26"),
    ("LOS ANGELES", 2L, "PG", "2025-26"),
    ("LOS ANGELES", 3L, "PG", "2025-26"), // a third: past the pair
    ("LOS ANGELES (10-4)", 0L, "SG", "2025-26"), // suffix stripped first
    ("LOS ANGELES", 1L, "SG", "2025-26"),
  ).toDF("team_raw", "row_idx", "position", "timeframe")

  test("LA disambiguation is occurrence-ordered per (position, timeframe)") {
    val out = Teams.canonicalize(laRows, "team_raw").collect()
      .map(r => (r.getAs[String]("position"), r.getAs[Long]("row_idx")) ->
        r.getAs[String]("canonical")).toMap
    assert(out(("PG", 0L)) == "LA Lakers")
    assert(out(("PG", 2L)) == "LA Clippers")
    assert(out(("SG", 0L)) == "LA Lakers") // counter resets per partition
    assert(out(("SG", 1L)) == "LA Clippers")
    assert(out(("PG", 1L)) == "Boston Celtics")
    assert(out(("PG", 3L)) == "LA Clippers")
  }

  test("per-cell validation reuses the LA window's partitioning: one shuffle") {
    val viol = Validate.groupsWithWrongDistinctCount(
      Teams.canonicalize(laRows, "team_raw"), Seq("position", "timeframe"),
      "canonical", 30)
    assert(viol.collect().map(_.getAs[Long]("n_distinct")).sorted.toSeq == Seq(2L, 3L))
    val plan = viol.queryExecution.executedPlan
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.size == 1, s"executed plan shuffles ${shuffles.size} times:\n$plan")
  }

  test("alias keys are unique, so the lookup map keeps every alias") {
    val dupes = Teams.aliases.groupBy(_._1).collect {
      case (k, vs) if vs.size > 1 => k -> vs.map(_._2)
    }
    assert(dupes.isEmpty, s"duplicate alias keys: $dupes")
  }

  test("the lookup is an expression: no join planned, no broadcast run") {
    val df = Seq(("BOSTON CELTICS", 0L), ("CLEVELAND CAVALIERS FANS", 1L),
      ("LOS ANGELES", 2L)).toDF("team_raw", "row_idx")
      .withColumn("position", lit("PG"))
      .withColumn("timeframe", lit("2025-26"))
    val out = Teams.canonicalize(df, "team_raw")
    val joins = out.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.isEmpty, s"optimized plan joins:\n${out.queryExecution.optimizedPlan}")
    assert(out.collect().length == 3)
    val plan = out.queryExecution.executedPlan
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty,
      s"executed plan broadcasts:\n$plan")
  }
}
