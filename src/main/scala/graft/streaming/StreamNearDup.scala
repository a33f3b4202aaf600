package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Dedup

/** ST18 — streaming NEAR-dup admission against a persisted MinHash
  * index: the d10 incremental-LSH shape executed as a real stream. A
  * crawl pipeline admits documents batch-by-batch; each micro-batch is
  * minhash-signed, candidate-matched (banded LSH equi-join — never
  * all-pairs) against (a) the index of everything PREVIOUSLY admitted
  * and (b) lower-id docs in the same batch, and a doc whose best match
  * agrees on ≥ [[Dedup.St18AgreeMin]] of 16 minhashes is rejected.
  * Admitted docs — and only those — append their signatures and band
  * keys to the index, so rejected near-dups never become index entries
  * a later doc could be rejected against (the oracle pins exactly this:
  * batch-1 docs are checked against batch 0's ADMITTED set).
  *
  * Within-batch the rule is pessimistic-deterministic: any ≥-threshold
  * match to a LOWER-id batch doc rejects, whether or not that doc was
  * itself admitted — no sequential scan, plain joins, replayable in
  * SQL without recursion. (A greedy chain rule would admit the third
  * doc of an A~B~C chain when B rejects; at crawl scale the difference
  * is a sliver of borderline chains, and pessimism errs toward
  * cleaner corpora.)
  *
  * Scale shape per batch: signature cost is batch-sized; the index
  * probe is a band-keyed equi-join against a 2-col index scan (the d10
  * contract); index growth is admitted-docs only. State lives in the
  * index files, NOT in stream state — restart cost is zero and the
  * index is shareable across pipelines. `StreamNearDupSpec` pins
  * cross-batch rejection, within-batch rejection, and that rejected
  * docs leave no index entries.
  */
object StreamNearDup {

  def st18StreamNearDup(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st18") { run =>
      val s = run.session
      val docs = graft.Tables.documents(s, d).select("doc_id", "text")
      val b0 = docs.filter(col("doc_id") < 250)
      val b1 = docs.filter(col("doc_id") >= 250)
        .unionByName(docs.filter(col("doc_id") % 20 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
      val inDir = run.dir.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      val indexRoot = run.dir.resolve("index").toString
      val sinkDir = run.dir.resolve("admitted").toString
      // both arrival batches staged in ONE clustered job (the batches
      // are not a predicate split of one frame — b1 carries minted
      // clone ids — so the tag rides the union)
      run.stageTagged(
        b0.withColumn("__tag", lit("a_batch0"))
          .unionByName(b1.withColumn("__tag", lit("b_batch1"))),
        col("__tag"), Seq("a_batch0", "b_batch1"), inDir)

      val stream = s.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      run.catchUp(stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          admitBatch(s, indexRoot, sinkDir, batch, batchId)
        })
      s.read.parquet(sinkDir).localCheckpoint().orderBy("doc_id")
    }

  /** The foreachBatch body, factored for `StreamNearDupSpec`: sign the
    * batch, reject against index ∪ lower-id batch docs, emit admissions
    * to the sink, append admitted signatures/bands to the index. */
  private[graft] def admitBatch(s: SparkSession, indexRoot: String,
      sinkDir: String, batch: DataFrame, batchId: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexRoot)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val haveIndex = fs.exists(
      new org.apache.hadoop.fs.Path(s"$indexRoot/sig"))
    val (sigB, bandsB) = Dedup.sigBandsOf(batch)

    val candIn = bandsB.as("a").join(bandsB.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
    val cand = if (haveIndex) {
      val idxBands = s.read.parquet(s"$indexRoot/bands")
      idxBands.as("a").join(bandsB.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .unionByName(candIn)
    } else candIn
    val saSide = if (haveIndex)
      s.read.parquet(s"$indexRoot/sig").unionByName(sigB) else sigB
    val rejected = cand.distinct()
      .join(saSide.as("sa"), col("da") === col("sa.doc_id"))
      .join(sigB.as("sb"), col("db") === col("sb.doc_id"))
      .filter(Dedup.sigAgreeCount >= lit(Dedup.St18AgreeMin))
      .select(col("db").as("doc_id")).distinct()

    val admitted = batch.join(rejected, Seq("doc_id"), "left_anti")
      .select(col("doc_id")).localCheckpoint()
    admitted.withColumn("batch", lit(batchId.toInt))
      .write.mode("append").parquet(sinkDir)
    sigB.join(admitted, Seq("doc_id"), "left_semi")
      .write.mode("append").parquet(s"$indexRoot/sig")
    bandsB.join(admitted, Seq("doc_id"), "left_semi")
      .write.mode("append").parquet(s"$indexRoot/bands")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st18_stream_neardup" -> st18StreamNearDup,
  )

  val oracle: Map[String, String] = Map(
    "st18_stream_neardup" -> Dedup.st18Sql,
  )
}
