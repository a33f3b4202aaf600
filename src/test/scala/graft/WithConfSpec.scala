package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, GraftSessions, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import graft.queries.Joins

/** A setting scoped with `GraftSession.withConf` applies to what its
  * clone plans and to nothing else: frames cross between the caller
  * and the clone without changing their rows, and the caller's conf
  * reads the same before, during and after the scope, also from
  * another thread.
  */
class WithConfSpec extends SparkSpecBase {

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def joinsOf(df: DataFrame): (Int, Int) = {
    val plan: SparkPlan = df.queryExecution.sparkPlan
    (plan.collect { case j: BroadcastHashJoinExec => j }.size,
      plan.collect { case j: SortMergeJoinExec => j }.size)
  }

  test("a caller's frame joins a clone-built frame on the clone; re-homed back, the rows are the caller's") {
    val before = spark.conf.getAll
    assert(spark.conf.get(threshold) != "-1")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    def cust(s: SparkSession) =
      Tables.customer(s, sf).select("c_custkey", "c_mktsegment")
    val onCaller = ord.join(cust(spark), col("o_custkey") === col("c_custkey"))
    val expected = onCaller.orderBy("o_orderkey").collect().toSeq
    assert(expected.nonEmpty)

    val back = GraftSession.withConf(spark, Seq(threshold -> "-1")) { c =>
      assert(c ne spark)
      assert(c.conf.get(threshold) == "-1")
      val joined = GraftSessions.rehome(c, ord)
        .join(cust(c), col("o_custkey") === col("c_custkey"))
      assert(joinsOf(joined) == (0, 1), "the clone plans under its own setting")
      assert(spark.conf.getAll == before, "the scope wrote the caller's conf")
      GraftSessions.rehome(spark, joined)
    }
    assert(back.sparkSession eq spark)
    assert(joinsOf(back) == joinsOf(onCaller),
      "a re-homed frame is planned under the caller's settings")
    assert(back.orderBy("o_orderkey").collect().toSeq == expected)
    assert(spark.conf.getAll == before)
  }

  test("a join planned while j6's scope is held open keeps the caller's broadcast threshold") {
    val before = spark.conf.getAll
    assert(spark.conf.get(threshold) != "-1")
    WithConfSpec.entered = new CountDownLatch(1)
    WithConfSpec.release = new CountDownLatch(1)
    // holds j6's body inside its scope, at the first fact row it reads
    val gate = udf { (k: Long) =>
      WithConfSpec.entered.countDown()
      WithConfSpec.release.await(120, TimeUnit.SECONDS)
      k
    }.asNondeterministic()
    val factM = spark.range(0, 200, 1, 1).select(
      gate(col("id") % 5).as("cust_id"), col("id").as("event_id"),
      col("id").cast("double").as("value"))
    val dim = spark.range(0, 5).select(col("id").as("cust_id"),
      (col("id") % 2).cast("string").as("segment"))
    val scoped = Future(Joins.runAqeSkewJoinWithPlan(spark, factM, dim,
      skewEnabled = false)._1.collect())(ExecutionContext.global)
    try {
      assert(WithConfSpec.entered.await(120, TimeUnit.SECONDS),
        "j6's scope never ran its body")
      val during = spark.conf.getAll
      val small = spark.range(1000)
        .join(spark.range(10).withColumnRenamed("id", "k"), col("id") === col("k"))
      assert(joinsOf(small)._1 == 1,
        s"caller's join lost its broadcast:\n${small.queryExecution.sparkPlan}")
      assert(during == before, "j6's scope wrote the caller's conf")
    } finally WithConfSpec.release.countDown()
    assert(Await.result(scoped, 5.minutes).length == 2)
    assert(spark.conf.getAll == before)
  }
}

object WithConfSpec {
  @volatile var entered = new CountDownLatch(0)
  @volatile var release = new CountDownLatch(0)
}
