package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** ST23 — the streaming DSIR gate: c13's discriminative importance-
  * weight selection run AS the crawl arrives, completing the streaming
  * quality triad (st21 = exact decontamination, st22 = generative
  * reference-LM fluency, st23 = discriminative distributional match).
  * Production DSIR is exactly this shape: the hashed-n-gram weight
  * table is estimated ONCE from a target corpus and a raw-crawl
  * calibration sample, the selection threshold is frozen with it, and
  * arriving documents are scored and gated per micro-batch — the model
  * never grows with the crawl (the t15/st22 freeze discipline applied
  * to the c13 likelihood ratio).
  *
  * Frozen artifacts, built up front from the CALIBRATION slice
  * (`doc_id % 2 = 0` — fixed by construction, appends never change it)
  * and broadcast into every batch: the 1024-row bucket weight table,
  * the smoothing constant, the score envelope, and the top-quintile
  * bin cut ([[graft.queries.Curation.c13Freeze]]). Freezing the CUT is
  * what makes the gate batching-invariant — c13's cut is a corpus
  * statistic, and recomputing it per batch would admit a document on
  * Tuesday that Monday would have rejected. A crawl doc can score
  * outside the calibration envelope; the bin clamps both ends
  * ([[graft.queries.Curation.c13Bin]]) — a doc better-matched to the
  * target than anything in calibration is selected, the right answer
  * by construction.
  *
  * Stateless per batch (the st21/st22 discipline): features are
  * doc-confined, the score is a batch-local doc-keyed aggregation, the
  * model is a broadcast constant; no state store. Result identity
  * under any batching is structural; `StreamDsirSpec` pins it against
  * the single-batch twin and the gate's selection semantics.
  *
  * Scale shape per batch: one map-side feature-hash pass (the
  * unbounded vocabulary collapses to 1024 buckets BEFORE any
  * exchange), a broadcast 1024-row join, one map-side-combinable
  * aggregation. Constant model tables at any crawl length; same
  * per-batch plan at any history length.
  */
object StreamDsir {
  import graft.queries.Curation

  def st23StreamDsirGate(caller: SparkSession, d: String): DataFrame =
    StreamRun(caller, "st23") { run =>
      val s = run.session
      val docs = documentsSpread(s, d)
        .select(col("doc_id"), col("lang"), col("text"))
      val isCalib = col("doc_id") % 2 === 0
      // frozen model: target + raw distributions, envelope, and cut all
      // from the calibration slice, never recomputed per batch
      val (model0, _) = Curation.c13Freeze(docs.filter(isCalib),
        col("lang") === "en")
      val model = model0.copy(weights = model0.weights.localCheckpoint())
      val crawl = docs.filter(!isCalib)

      val inDir = run.dir.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      val sinkDir = run.dir.resolve("gated").toString
      // two mtime-ordered arrival waves over the odd-id crawl in ONE
      // clustered staging job (parity is spent on the calibration
      // split, so waves split on doc_id%4)
      run.stageTagged(crawl,
        when(col("doc_id") % 4 === 1, lit("a_wave")).otherwise(lit("b_wave")),
        Seq("a_wave", "b_wave"), inDir)

      val stream = s.readStream.schema(crawl.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
      val q = run.catchUp(stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          gateBatch(model, sinkDir, batch)
        })
      require(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "st23: the staged waves collapsed into one micro-batch — the " +
          "cross-batch claim would be untested")
      s.read.parquet(sinkDir).localCheckpoint().orderBy("doc_id")
    }

  /** The foreachBatch body, factored for `StreamDsirSpec`'s batch
    * twin. */
  private[graft] def gateBatch(m: Curation.C13Model, sinkDir: String,
      batch: DataFrame): Unit =
    gateRelation(m, batch).write.mode("append").parquet(sinkDir)

  /** The per-batch gate as a relation (the plan `DumpPlans` renders):
    * map-side feature hash → broadcast weight join → doc-keyed score →
    * frozen-cut label. */
  private[graft] def gateRelation(m: Curation.C13Model,
      batch: DataFrame): DataFrame =
    Curation.c13LabelScored(Curation.c13ScoreUnder(batch, m), m)

  /** The batch twin: calibration-frozen weights/envelope/cut, odd-id
    * crawl scored in one pass. */
  val st23Sql: String = {
    import graft.queries.Curation.{C13Buckets, C13Bins, C13Frac}
    s"""WITH toksr AS (
      |  SELECT doc_id, lang, lang = 'en' AS is_target,
      |    list_filter(string_split_regex(trim(text), '\\s+'),
      |      x -> len(x) > 0) AS w
      |  FROM documents),
      |toks AS (SELECT * FROM toksr WHERE len(w) > 0),
      |uni AS (SELECT doc_id, lang, is_target, unnest(w) AS feat
      |        FROM toks),
      |big AS (SELECT doc_id, lang, is_target,
      |          w[i] || ' ' || w[i + 1] AS feat
      |        FROM toks,
      |          LATERAL (SELECT unnest(range(1, len(w))) AS i) t),
      |feats AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
      |fb AS MATERIALIZED (
      |  SELECT doc_id, lang, is_target,
      |    ('0x' || substr(md5('dsir:' || feat), 1, 8))::BIGINT
      |      % $C13Buckets AS bk
      |  FROM feats),
      |counts AS MATERIALIZED (
      |  SELECT bk, CAST(count(*) AS BIGINT) AS cr,
      |    CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ctg
      |  FROM fb WHERE doc_id % 2 = 0 GROUP BY bk),
      |wts AS (
      |  SELECT bk,
      |    CAST((len(bin(ctg + 1)) - 1)
      |      - (len(bin(cr + 1)) - 1) AS BIGINT) AS bits
      |  FROM counts),
      |tot AS (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) AS r,
      |    CAST(coalesce(sum(ctg), 0) AS BIGINT) AS t
      |  FROM counts),
      |nb AS (SELECT CAST((len(bin(r + $C13Buckets)) - 1)
      |    - (len(bin(t + $C13Buckets)) - 1) AS BIGINT) AS nbits
      |  FROM tot),
      |scored AS MATERIALIZED (
      |  SELECT f.doc_id, f.lang, CAST(count(*) AS BIGINT) AS n_feats,
      |    CAST(sum(coalesce(w.bits, 0)) AS BIGINT) AS sum_bits
      |  FROM fb f LEFT JOIN wts w USING (bk) GROUP BY f.doc_id, f.lang),
      |sc AS (
      |  SELECT doc_id, lang, n_feats,
      |    sum_bits + n_feats * (SELECT nbits FROM nb) AS logw_bits
      |  FROM scored),
      |r AS (SELECT min(logw_bits) AS qmin, max(logw_bits) AS qmax,
      |      count(*) AS n FROM sc WHERE doc_id % 2 = 0),
      |bcal AS (
      |  SELECT LEAST(${C13Bins - 1}, GREATEST(0, CAST(floor(
      |    (logw_bits - qmin) / (GREATEST(CAST(qmax - qmin AS DOUBLE),
      |      1e-9) / $C13Bins.0)) AS INT))) AS bin
      |  FROM sc CROSS JOIN r WHERE doc_id % 2 = 0),
      |hist AS (SELECT bin, count(*) AS cnt FROM bcal GROUP BY bin),
      |cumd AS (
      |  SELECT a.bin, CAST(sum(c.cnt) AS BIGINT) AS cum
      |  FROM hist a JOIN hist c ON c.bin >= a.bin GROUP BY a.bin),
      |cut AS (SELECT max(bin) AS c FROM cumd CROSS JOIN r
      |        WHERE cum >= CAST(ceil(n / $C13Frac.0) AS BIGINT)),
      |b AS (
      |  SELECT sc.*, LEAST(${C13Bins - 1}, GREATEST(0, CAST(floor(
      |    (logw_bits - qmin) / (GREATEST(CAST(qmax - qmin AS DOUBLE),
      |      1e-9) / $C13Bins.0)) AS INT))) AS bin
      |  FROM sc CROSS JOIN r WHERE doc_id % 2 = 1)
      |SELECT doc_id, lang, n_feats, logw_bits, bin,
      |  bin >= coalesce((SELECT c FROM cut), 0) AS selected
      |FROM b ORDER BY doc_id""".stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st23_stream_dsir" -> st23StreamDsirGate,
  )

  val oracle: Map[String, String] = Map(
    "st23_stream_dsir" -> st23Sql,
  )
}
