package graft.sink

import graft.{GraftSession, SparkSpecBase, Tables}
import org.apache.spark.sql.functions._

/** Co-located joins via bucketing: pre-bucketing both join sides on the
  * key lets the sort-merge join run with NO shuffle exchange — the
  * single biggest lever for repeated large-fact joins at 100 TB (pay the
  * shuffle once at write time, never again per query).
  */
class BucketingSpec extends SparkSpecBase {

  test("bucketed join plans without Exchange on either side") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // disable broadcast so the join type is genuinely size-driven SMJ
    try GraftSession.withConf(spark,
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) { c =>
      Tables.orders(c, sf)
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
      Tables.lineitem(c, sf)
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")

      val joined = c.table("b_lineitem")
        .join(c.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(Tables.dsum(col("l_extendedprice")).as("total"))

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      // the join inputs read pre-bucketed data: no shuffle before the join
      val joinSection = plan.substring(plan.indexOf("Join"))
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")

      // and it computes the right thing vs the unbucketed plan
      val expected = Tables.lineitem(c, sf)
        .join(Tables.orders(c, sf), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(Tables.dsum(col("l_extendedprice")).as("total"))
        .orderBy("o_orderpriority").collect().toSeq
      assert(joined.orderBy("o_orderpriority").collect().toSeq == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
