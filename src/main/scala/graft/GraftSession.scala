package graft

import org.apache.spark.sql.{GraftSessions, SparkSession}

/** The one place that decides session settings: [[local]], the one
  * session builder every entry point, tool and spec uses, holds the
  * session-wide constants, and [[withConf]] scopes a setting to one
  * query. No query writes a session's conf itself. */
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
    *  - no per-session artifact isolation: Spark 4 runs each session's
    *    tasks under a class loader of its own, and the generated-class
    *    cache is keyed by loader, so a [[withConf]] clone (every
    *    `StreamRun` row, j6, j7, a17, a19) compiled its first query's
    *    classes again — 16 classes, ~0.4 s for j6 at sf0.1. Isolation
    *    exists to keep artifacts added to one session (Spark Connect
    *    jars, REPL classes) from others; nothing here adds any;
    *  - `nanosAsLong`: `events.ts` has shipped as parquet
    *    TIMESTAMP(NANOS), which Spark 4 refuses as a timestamp; this
    *    reads it as a raw long for `Tables.normalizeTs` (a no-op for
    *    µs files). Spark reads it at schema inference and again at scan
    *    planning, so it is set for every session, not in a scope;
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
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Run `body` on a clone of `s` that differs only in `kv`, the one
    * way a query scopes a setting: `s`'s conf is never written, so
    * queries planned on `s` meanwhile keep its settings. The body
    * builds its frames on the clone (a frame of `s` enters through
    * `GraftSessions.rehome`) and re-homes a frame it returns onto `s`,
    * where it is planned again under `s`'s settings: materialize it
    * first when the scoped setting must shape its execution. A scan
    * keeps reading file-split settings from the session that built it.
    */
  def withConf[A](s: SparkSession, kv: Seq[(String, String)])(
      body: SparkSession => A): A = {
    val scoped = GraftSessions.cloneOf(s)
    kv.foreach { case (k, v) => scoped.conf.set(k, v) }
    body(scoped)
  }
}
