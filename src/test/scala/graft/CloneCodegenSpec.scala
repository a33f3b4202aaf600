package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A `GraftSession.withConf` clone compiles nothing its parent already
  * compiled: `GraftSession.local` turns off Spark 4's per-session
  * artifact isolation, under which each session's tasks ran under a
  * class loader of their own and a fresh clone compiled its first
  * query's classes again. */
class CloneCodegenSpec extends SparkSpecBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def join(s: SparkSession): Seq[org.apache.spark.sql.Row] =
    Tables.orders(s, sf)
      .join(Tables.customer(s, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))
      .orderBy("c_mktsegment")
      .collect().toSeq

  test("a withConf clone runs its parent's join without compiling a class") {
    val expected = join(spark)
    val warm = compiles
    assert(join(spark) == expected)
    assert(compiles == warm, "the join compiled again on its own session")
    val onClone = GraftSession.withConf(spark, Nil) { c =>
      assert(c ne spark)
      join(c)
    }
    assert(onClone == expected)
    assert(compiles == warm,
      s"the clone compiled ${compiles - warm} classes its parent had")
  }
}
