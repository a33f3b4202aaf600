package graft.queries

import graft.{GraftSession, SparkSpecBase, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** a19 aggregate pushdown: the pushed plan must return exactly the
  * classically-computed values while its file scan emits per-row-group
  * PARTIALS instead of the table's rows — the metadata-only contract.
  */
class AggPushdownSpec extends SparkSpecBase {

  private def v2ScanRows(plan: SparkPlan): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan) ++ walk(q.plan)
      case other => Seq(other) ++ other.children.flatMap(walk)
    }
    walk(plan).collect { case b: BatchScanExec =>
      b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  test("a19 pushed stats equal the classic scan, from row-group partials") {
    val li = Tables.lineitem(spark, sf)
    val nRows = li.count()
    val classic = li.agg(count(col("l_orderkey")),
      min(col("l_orderkey")), max(col("l_orderkey"))).head()
    val pushedRow = GraftSession.withConf(spark, Seq(
      "spark.sql.sources.useV1SourceList" -> "avro,csv,json,kafka,orc,text",
      "spark.sql.parquet.aggregatePushdown" -> "true")) { c =>
      val q = c.read.parquet(s"$sf/lineitem.parquet")
        .agg(count(col("l_orderkey")).as("n"),
          min(col("l_orderkey")).as("mn"), max(col("l_orderkey")).as("mx"))
      assert(q.queryExecution.sparkPlan.toString
        .contains("PushedAggregation: [COUNT(l_orderkey)"))
      // collect(), not head(): head() executes a separate limit-rewritten
      // QueryExecution, leaving this plan's scan metrics untouched
      val row = q.collect().head
      val scanRows = v2ScanRows(q.queryExecution.executedPlan)
      assert(scanRows < nRows / 10 && scanRows >= 1,
        s"pushed scan must emit row-group partials, not data rows: " +
          s"emitted $scanRows of a $nRows-row table")
      row
    }
    assert(pushedRow.getLong(0) === classic.getLong(0))
    assert(pushedRow.getLong(1) === classic.getLong(1))
    assert(pushedRow.getLong(2) === classic.getLong(2))
  }

  test("a19 operator output matches the relational replay end-to-end") {
    val out = Layout.a19AggPushdown(spark, sf)
    val global = out.filter(col("scope") === "lineitem:total").head()
    val li = Tables.lineitem(spark, sf)
    val direct = li.agg(count(col("l_orderkey")),
      min(col("l_orderkey")), max(col("l_orderkey"))).head()
    assert(global.getLong(1) === direct.getLong(0))
    assert(global.getLong(2) === direct.getLong(1))
    assert(global.getLong(3) === direct.getLong(2))
    // per-day rows cover every day exactly once and sum to the corpus
    val days = out.filter(col("scope").startsWith("events:"))
    assert(days.count() ===
      Tables.events(spark, sf)
        .select(date_format(col("ts"), "yyyy-MM-dd")).distinct().count())
    assert(days.agg(sum(col("n_rows"))).head().getLong(0) ===
      Tables.events(spark, sf).count())
  }
}
