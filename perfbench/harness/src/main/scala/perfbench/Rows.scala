package perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Workloads made of registered query rows, each called through its
  * `SparkEntry.queries` function and fully materialized (`collect`:
  * every row and column, in the row's declared order). */
final class Rows(rows: Seq[(String, String)]) extends Harness.Workload {
  private val fns = rows.map { case (name, layer) =>
    (name, layer, SparkEntry.queries(name)) }

  def run(spark: SparkSession, in: String, pass: Harness.Pass): Unit =
    fns.foreach { case (name, layer, fn) =>
      pass.op(layer, name) {
        val df = fn(spark, in)
        pass.results += ((name, df, df.collect()))
      }
    }

  override def oracle: Map[String, String] =
    rows.map(_._1).map(n => n -> SparkEntry.oracleSql(n)).toMap
}

object Rows {
  /** LLM-data curation over a seeded documents/embeddings corpus, then
    * a commit protocol of the hand-built table format and a stream
    * consumer of that table. */
  val queryRows = new Rows(Seq(
    "e2e_dedup_pipeline" -> "queries.dedup",
    "t14_lm_quality_filter" -> "queries.text",
    "c12_contamination_report" -> "queries.curation",
    "o12_time_travel" -> "queries.warehouse",
    "st25_stream_cas_sink" -> "streaming"))
}
