package graft.sink

import graft.SparkSpecBase
import graft.tools.DumpPlans.executionsOf
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-sink").toString

  test("writePartitioned: dynamic overwrite replaces only touched partitions") {
    val path = tmpDir()
    val v1 = Seq(("t1", "a", 1), ("t2", "b", 2)).toDF("team", "page", "v")
    Sinks.writePartitioned(v1, path, Seq("team"))
    // rerun for t1 only, with new data; t2 must survive
    val v2 = Seq(("t1", "a", 99)).toDF("team", "page", "v")
    Sinks.writePartitioned(v2, path, Seq("team"))
    val back = spark.read.parquet(path)
      .select("team", "v").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(back == Map("t1" -> 99, "t2" -> 2))
  }

  test("writePartitioned: dynamic per write, session conf left as it was") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    // its own session, so the explicit static setting cannot leak
    val session = spark.newSession()
    session.conf.set(key, "static")
    val path = tmpDir()
    def rows(xs: (String, Int)*) = session.createDataFrame(xs).toDF("team", "v")
    Sinks.writePartitioned(rows("t1" -> 1, "t2" -> 2), path, Seq("team"))
    Sinks.writePartitioned(rows("t1" -> 99), path, Seq("team"))
    assert(session.conf.get(key) == "static")
    val back = session.read.parquet(path)
      .collect().map(r => r.getAs[String]("team") -> r.getAs[Int]("v")).toMap
    assert(back == Map("t1" -> 99, "t2" -> 2))
  }

  test("writeEnveloped: parallel data files + sidecar metadata") {
    val path = tmpDir()
    val df = Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "s")
    Sinks.writeEnveloped(df, path, source = "unit-test",
      runTimestamp = "2026-01-01T00:00:00")
    assert(spark.read.parquet(s"$path/data").count() == 3)
    val meta = spark.read.json(s"$path/_meta").head()
    assert(meta.getAs[Long]("record_count") == 3)
    assert(meta.getAs[String]("source") == "unit-test")
    assert(meta.getAs[String]("scraped_at") == "2026-01-01T00:00:00")
    assert(meta.getAs[String]("columns") == "id,s")
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_meta/part-00000.json")), "UTF-8") ==
      """{"record_count":3,"source":"unit-test",""" +
      """"scraped_at":"2026-01-01T00:00:00","columns":"id,s"}""" + "\n")
  }

  test("writeRunSummary + partitionExists") {
    val path = tmpDir()
    val ledger = Seq("done", "done", "error", "skipped").toDF("status")
    Sinks.writeRunSummary(ledger, "status", path)
    val back = spark.read.json(path)
      .collect().map(r => r.getAs[String]("status") -> r.getAs[Long]("n")).toMap
    assert(back == Map("done" -> 2L, "error" -> 1L, "skipped" -> 1L))
    assert(Sinks.partitionExists(ledger, path))
    assert(!Sinks.partitionExists(ledger, path + "/nope"))
  }

  test("writeRunSummary tallies a driver-held ledger on one partition; a scanned one in parallel") {
    val statuses = Seq("done", "error", "done", "skipped", "done")
    val held = statuses.toDF("status") // a LocalRelation, scanned in 4 partitions
    val scanned = spark.sparkContext.parallelize(statuses, 3).toDF("status")
    for ((ledger, shuffles) <- Seq(held -> 0, scanned -> 2)) {
      val path = tmpDir()
      val (_, ran) = executionsOf(spark) {
        Sinks.writeRunSummary(ledger, "status", path)
        ledger
      }
      val plans = ran.map(_.executedPlan)
      assert(plans.nonEmpty)
      assert(plans.flatMap(p => collect(p) { case e: ShuffleExchangeExec => e }).size ==
        shuffles, s"run summary plans:\n${plans.mkString("\n")}")
      val back = spark.read.json(path).collect()
        .map(r => r.getAs[String]("status") -> r.getAs[Long]("n")).toSeq
      assert(back == Seq("done" -> 3L, "error" -> 1L, "skipped" -> 1L))
    }
  }
}
