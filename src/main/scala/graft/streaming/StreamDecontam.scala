package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ST21 — streaming benchmark decontamination: c11's exact
  * [[graft.queries.Curation.C11K]]-gram collision gate executed as a
  * real stream over the crawl. A training-data pipeline does not
  * decontaminate once at the end — it gates documents AS THEY ARRIVE
  * against a fixed eval-set gram index. The bench gram set is built
  * ONCE from the batch side (eval sets don't grow with the crawl) and
  * broadcast into every micro-batch; each arriving document is
  * gram-exploded map-side and counted against the broadcast membership
  * set. Flagged documents (≥1 colliding gram ⇒ ≥1 verbatim
  * [[graft.queries.Curation.C11K]]-token run) land in the sink with
  * their collision count.
  *
  * The streaming part is deliberately STATELESS: a document's grams
  * are confined to its own micro-batch, so the per-doc count is
  * batch-local (foreachBatch = per-batch exact aggregation, the st16
  * discipline), the bench side is a broadcast constant, and no state
  * store exists to size, checkpoint, or evict — result identity under
  * ANY batching is structural, and `StreamDecontamSpec` pins it
  * against the batch twin. Restart cost is zero (the st18 index
  * lesson: state in files, not stream state — here there is no state
  * at all).
  *
  * Scale shape per batch: [[gateRelation]]'s map-side plan, the same
  * at any history length — the contrast with c11's batch run is WHEN
  * the gate runs, not what it costs. At production eval-set sizes the
  * broadcast gram set is the d14 note's 64-bit fingerprint.
  */
object StreamDecontam {

  def st21StreamDecontam(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st21") { run =>
      val s = run.session
      // the fixed eval side, built once up front; the train stream is
      // read once, by the staging write
      val (bench, train) = graft.queries.Curation.c11Sides(s, d)

      val inDir = run.dir.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      val sinkDir = run.dir.resolve("flagged").toString
      // two mtime-ordered arrival waves in ONE clustered staging job;
      // the split is id-parity so both waves carry planted contaminated
      // docs
      run.stageTagged(train,
        when(col("doc_id") % 2 === 0, lit("a_even")).otherwise(lit("b_odd")),
        Seq("a_even", "b_odd"), inDir)

      val stream = s.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      val q = run.catchUp(stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          gateBatch(s, bench.gramSet, sinkDir, batch)
        })
      require(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "st21: the staged waves collapsed into one micro-batch — the " +
          "cross-batch claim would be untested")
      s.read.parquet(sinkDir).localCheckpoint().orderBy("train_doc")
    }

  /** The foreachBatch body, factored for `StreamDecontamSpec`: explode
    * the batch's grams map-side, count collisions against the broadcast
    * bench membership set per document, append flagged docs to the
    * sink. */
  private[graft] def gateBatch(s: SparkSession, benchGrams: DataFrame,
      sinkDir: String, batch: DataFrame): Unit =
    gateRelation(benchGrams, batch)
      .write.mode("append").parquet(sinkDir)

  /** The per-batch gate as a relation (the plan `DumpPlans` renders):
    * map-side gram explosion → broadcast bench semi-join → doc-keyed
    * map-side-combinable count. */
  private[graft] def gateRelation(benchGrams: DataFrame,
      batch: DataFrame): DataFrame =
    graft.queries.Curation.c11GramsOf(batch)
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .groupBy(col("doc_id").as("train_doc"))
      .agg(count(lit(1)).as("n_hit_grams"))

  val st21Sql: String =
    s"""${graft.queries.Curation.c11CorpusGramsSqlCtes},
      |bg AS (SELECT DISTINCT gram FROM grams
      |       WHERE doc_id % 25 = 0 AND doc_id < 1000000),
      |tg AS (SELECT doc_id AS train_doc, gram FROM grams
      |       WHERE NOT (doc_id % 25 = 0 AND doc_id < 1000000))
      |SELECT train_doc, CAST(count(*) AS BIGINT) AS n_hit_grams
      |FROM tg JOIN bg USING (gram)
      |GROUP BY train_doc ORDER BY train_doc""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st21_stream_decontam" -> st21StreamDecontam,
  )

  val oracle: Map[String, String] = Map(
    "st21_stream_decontam" -> st21Sql,
  )
}
