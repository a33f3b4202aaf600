package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact dedup — the D1 content-hash dedup as a crawl-stream
  * operator, registered under the oracle with a REAL streaming
  * execution (the st5 pattern).
  *
  * A training pipeline ingesting a crawl does not get its corpus as one
  * batch scan; it gets files arriving over time, and re-scraped
  * duplicates must be dropped ON INGEST with state that does not grow
  * forever. Spark's operator for exactly this is
  * `dropDuplicatesWithinWatermark`: each content hash is remembered
  * only until the watermark passes its event time + delay, so state is
  * bounded by (horizon × arrival rate) on an infinite stream —
  * `StreamingDedupSpec` pins the expiry/re-admission semantics on a
  * MemoryStream timeline.
  *
  * The registered query stages the dup-injected corpus (the c1b corpus
  * — the base corpus has no exact dups by construction) as ONE parquet
  * file, streams it back with `Trigger.AvailableNow`, and emits the
  * surviving content-hash set: every injected clone must be deduped
  * against its original, so the terminal key set equals DuckDB's
  * `SELECT DISTINCT md5(text)` over the same injected relation. One
  * staged file ⇒ one micro-batch ⇒ the intra-batch dedup decision is
  * deterministic (only the KEY SET is emitted, never a representative
  * row, so which duplicate won can't leak into the hash).
  */
object StreamDedup {

  def st6StreamDedup(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st6") { run =>
      val s = run.session
      val injected = graft.Tables.documents(s, d).select("doc_id", "text")
        .unionByName(
          graft.Tables.documents(s, d).select("doc_id", "text")
            .filter(col("doc_id") % 20 === 0)
            .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
      val stage = run.dir.resolve("stage").toString
      // ONE staged file -> one micro-batch (see determinism note above)
      injected.coalesce(1).write.parquet(stage)
      val stream = s.readStream
        .schema(s.read.parquet(stage).schema)
        .parquet(stage)
        // event time = ingest order (doc_id seconds); the horizon only
        // bounds state ACROSS batches — within the single batch every
        // key is live, so all clones dedup against their originals
        .withColumn("ts", timestamp_seconds(col("doc_id")))
        .withColumn("text_hash", md5(col("text")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("text_hash")
        .select(col("text_hash"))
      run.snapshot(run.memory(stream, "append")).orderBy("text_hash")
    }

  val st6Sql: String =
    """SELECT DISTINCT md5(text) AS text_hash
      |FROM (
      |  SELECT text FROM documents
      |  UNION ALL
      |  SELECT text FROM documents WHERE doc_id % 20 = 0)
      |ORDER BY text_hash""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st6_stream_dedup" -> st6StreamDedup,
  )

  val oracle: Map[String, String] = Map(
    "st6_stream_dedup" -> st6Sql,
  )
}
