package graft.queries

import graft.{GraftSession, SparkSpecBase}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Pins the a15 dynamic-partition-pruning proof: over the
  * day-partitioned fact layout, the dim-filtered join's fact scan reads
  * ONLY the qualifying partitions' rows (the day set arrives at runtime
  * via the broadcast), while the identical query with DPP disabled scans
  * every partition — and both return identical rows, so runtime pruning
  * loses nothing.
  */
class DynamicPruneSpec extends SparkSpecBase {

  private def factScanRows(df: DataFrame): Long =
    ScanMetrics.scanOutputRows(df, _.contains("/fact"))

  test("dim-filtered join prunes fact partitions at runtime; DPP-off control scans all") {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_dppspec_" +
      java.util.UUID.randomUUID().toString.take(8)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Layout.writeDayPartitionedLayout(spark, sf, base)
      val total = spark.read.parquet(s"$base/fact").count()
      val matching = Layout.dppQuery(spark, base)
        .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
      // 5 qualifying days of ~30: the slice must be genuinely selective
      assert(matching > 0 && matching < total / 3,
        s"qualifying slice must be selective: $matching of $total")

      val prunedScan = factScanRows(Layout.dppQuery(spark, base))
      assert(prunedScan == matching,
        s"DPP should scan exactly the qualifying partitions: " +
          s"$prunedScan vs $matching")

      val key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
      val a = GraftSession.withConf(spark, Seq(key -> "false")) { c =>
        val controlScan = factScanRows(Layout.dppQuery(c, base))
        assert(controlScan == total,
          s"without DPP the join must scan every partition: " +
            s"$controlScan vs $total")
        Layout.dppQuery(c, base).orderBy("event_type").collect().toSeq
      }
      // pruning changes the schedule, never the result
      val b = GraftSession.withConf(spark, Seq(key -> "true")) { c =>
        Layout.dppQuery(c, base).orderBy("event_type").collect().toSeq
      }
      assert(a == b)

      // the mechanism marker the in-query require pins
      val plan = Layout.dppQuery(spark, base)
        .queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"))
    } finally fs.delete(new Path(base), true)
  }
}
