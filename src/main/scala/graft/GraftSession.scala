package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder every entry point, tool and spec
  * uses, so their settings cannot drift apart. */
object GraftSession {

  /** Spark's generated-class cache size (`spark.sql.codegen.cache.maxEntries`,
    * default 100): a JVM-wide static, read once from the active
    * session's conf when the first class compiles. Entries are keyed by
    * class loader and code, so a class compiled on the driver and in
    * tasks takes two. One pass over all registered rows (`count()`,
    * sf0.01) compiles 4,316 distinct classes and a second pass 1,083
    * more (plans that embed per-run values); under 100 entries the
    * second pass compiled 5,781 again. This size holds a whole pass
    * plus its churn, at about 45 KB of heap per entry. */
  val CodegenCacheEntries = 8192

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
    *  - a generated-class cache of [[CodegenCacheEntries]] entries;
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
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
