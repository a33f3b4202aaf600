package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.JsonString.quote

/** Sink layer (SURVEY §2.1 S8-S13): partitioned directory layout,
  * metadata-envelope outputs, run summaries, overwrite-or-create
  * semantics.
  *
  * Design divergence from the reference, on purpose: the reference nests
  * whole tables inside one JSON document (`{"metadata": ..., "data":
  * [...]}`), which serializes the entire dataset through one writer. Here
  * data files stay partition-parallel (parquet/json per partition) and the
  * envelope metadata is written as a tiny sidecar aggregate — same
  * information, no parallelism loss at 100 TB.
  */
object Sinks {

  /** S9/S10 — partitioned write with overwrite-or-create per partition:
    * only partitions present in `df` are replaced (dynamic overwrite),
    * mirroring the reference's same-filename-per-(team,page) replacement.
    *
    * `compact` (default) clusters rows by the partition columns before
    * writing, so each output partition gets one file instead of one per
    * upstream task — without it, N shuffle partitions × P values emit up
    * to N×P tiny files, the classic 100 TB small-files failure. Disable
    * it for heavily skewed partition values, where per-partition write
    * parallelism matters more than file count (or pre-salt upstream).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      format: String = "parquet", compact: Boolean = true): Unit = {
    val out = if (compact) df.repartition(partitionCols.map(col): _*) else df
    // Per-write option, not the session conf: other writes in the
    // session keep their own overwrite semantics.
    out.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .format(format)
      .save(path)
  }

  /** S8 — metadata-envelope output: data files written partition-parallel
    * under `path/data`, metadata (row count + caller-supplied context +
    * a parameterized timestamp for reproducible runs, SURVEY §7.5 #7)
    * as a single small JSON under `path/_meta`.
    *
    * ONE-PASS contract (r4 verdict #4): the record count is collected by
    * an [[org.apache.spark.sql.Observation]] riding the write job itself —
    * the envelope never re-reads what was just written, so at 100 TB the
    * sidecar costs one tiny driver-built row, not a second full scan.
    */
  def writeEnveloped(df: DataFrame, path: String,
      source: String, runTimestamp: String,
      format: String = "parquet"): Unit = {
    val spark = df.sparkSession
    val obs = org.apache.spark.sql.Observation(
      "graft_envelope_" + java.util.UUID.randomUUID().toString.take(8))
    df.observe(obs, count(lit(1)).as("record_count"))
      .write.mode(SaveMode.Overwrite).format(format).save(s"$path/data")
    // save() is the action the observation rides; get blocks until its
    // listener fires (immediately after the job above).
    val recordCount = obs.get("record_count").asInstanceOf[Long]
    // The sidecar is ONE row whose every value is already a driver
    // value (the observed count + caller-supplied strings) — write it
    // from the driver like a table-format commit log, instead of
    // scheduling a whole Spark job (plan + task + commit) to emit one
    // JSON line. Hadoop FS, not java.nio, so the sink stays
    // FS-agnostic. Same line a single-row Spark JSON write produced;
    // readers (schema-supplied or inferred) see an identical relation.
    val line = s"""{"record_count":$recordCount,"source":${quote(source)},""" +
      s""""scraped_at":${quote(runTimestamp)},""" +
      s""""columns":${quote(df.columns.mkString(","))}}""" + "\n"
    val metaDir = new org.apache.hadoop.fs.Path(s"$path/_meta")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(metaDir, true) // SaveMode.Overwrite semantics, kept
    fs.mkdirs(metaDir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(metaDir, "part-00000.json"), true)
    try out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** S11 — run-summary sink: per-status tallies of an operation ledger,
    * written as one file. A ledger whose rows the plan already holds on
    * the driver (a `LocalRelation` once optimized, as a run's own ledger
    * of one row per operation is) is tallied on one partition, with no
    * exchange; a scanned ledger keeps its partition-parallel tally.
    */
  def writeRunSummary(statusDf: DataFrame, statusCol: String, path: String): Unit = {
    val onDriver = statusDf.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
    (if (onDriver) statusDf.coalesce(1) else statusDf)
      .groupBy(col(statusCol))
      .agg(count(lit(1)).as("n"))
      .orderBy(statusCol)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).json(path)
  }

  /** S13 — incremental skip-if-exists: true iff the partition directory
    * already exists at `path` (job-level gate, not a per-row filter).
    */
  def partitionExists(df: DataFrame, path: String): Boolean = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    fs.exists(hadoopPath)
  }
}
