package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder every entry point, tool and spec
  * uses, so their settings cannot drift apart. */
object GraftSession {

  /** `local[cpus]` with:
    *  - `cpus` shuffle partitions;
    *  - UTC session time zone: the events TIMESTAMP_NTZ→TIMESTAMP
    *    normalization (`Tables.normalizeTs`) is value-identity only in
    *    UTC;
    *  - FileOutputCommitter v2 (public MR/Spark setting): task commits
    *    rename straight to the destination instead of through the job
    *    commit's single-threaded driver merge. The many-partition
    *    fan-out writes (a23's ~240 day×bucket dirs) otherwise serialize
    *    their commit on the driver; v2's tradeoff (partial task output
    *    visible on job failure) is irrelevant for these scratch-dir
    *    stagings and the standard choice for HDFS-like stores (object
    *    stores use dedicated committers instead);
    *  - no UI.
    * `extra` settings are applied last and win.
    */
  def local(cpus: Int, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        "2")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
