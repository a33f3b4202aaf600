package graft.queries

import graft.{GraftSession, SparkSpecBase, Tables}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** The co-located-join contract behind j4: two tables bucketed by the
  * join key into the same bucket count scan back hash-partitioned, so
  * the sort-merge join plans with ZERO shuffle exchanges — the layout
  * that turns a repeated fact×fact join's two corpus-sized shuffles
  * into none. Broadcast is disabled for the plan pin (at spec SF the
  * optimizer would otherwise broadcast the small side and hide the
  * property under test).
  */
class BucketedJoinSpec extends SparkSpecBase {

  test("bucketed tables co-locate the join: no shuffle exchange, answer unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-j4spec")
    val t1 = "j4spec_li"
    val t2 = "j4spec_ord"
    try GraftSession.withConf(spark,
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) { c =>
      val li = Joins.writeBucketed(c,
        Tables.lineitem(c, sf).select("l_orderkey", "l_quantity"),
        "l_orderkey", 8, t1, dir.resolve("li").toString)
      val ord = Joins.writeBucketed(c,
        Tables.orders(c, sf).select("o_orderkey", "o_orderpriority"),
        "o_orderkey", 8, t2, dir.resolve("ord").toString)
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))

      // the non-adaptive physical plan shows the exchanges EnsureRequirements
      // would insert; bucketed scans must satisfy the join's distribution
      val plan = joined.queryExecution.sparkPlan
      assert(plan.collect { case s: SortMergeJoinExec => s }.nonEmpty,
        s"expected a sort-merge join, got:\n$plan")
      val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        s"bucketed join still shuffles (${shuffles.length} exchanges):\n$plan")

      // and the co-located plan computes the same relation as a plain join
      val expected = Tables.lineitem(c, sf)
        .select("l_orderkey", "l_quantity")
        .join(Tables.orders(c, sf).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
      assert(joined.count() == expected.count())
      assert(joined.exceptAll(expected).isEmpty &&
        expected.exceptAll(joined).isEmpty)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t1")
      spark.sql(s"DROP TABLE IF EXISTS $t2")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
