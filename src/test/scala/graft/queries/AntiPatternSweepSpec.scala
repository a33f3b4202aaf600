package graft.queries

import graft.{SparkSpecBase, SparkEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
import org.apache.spark.sql.catalyst.plans.{Cross, InnerLike}
import org.apache.spark.sql.functions._

/** The round-audit "no scale-killers" claim as a CI contract: every
  * registered query's optimized logical plan is swept for the two
  * patterns that silently stop scaling long before they stop working —
  *
  *  - a WINDOW WITH NO PARTITION SPEC (global order): the whole input
  *    flows through one task; correct at sf0.01, dead at 100 TB;
  *  - a CONDITION-LESS INNER/CROSS JOIN whose build side is not one of
  *    the audited bounded relations: O(n·m) output.
  *
  * The cross-join allowlist is the audited set from the round reviews —
  * every entry is a broadcast of a bounded relation (1-row metadata
  * envelopes, a ≤k centroid/dim table, the A9 expected-grid dimension
  * pair) and each is asserted to STAY small by its own spec/oracle row.
  * A new query that introduces either pattern fails here with its name,
  * not in a cluster postmortem.
  *
  * Logical (not executed) plans: AQE wraps physical subtrees in
  * AdaptiveSparkPlanExec, which hides children from collect; the
  * optimized logical plan is fully traversable and is where both
  * patterns are decided anyway.
  *
  * EAGERLY-EXECUTING queries (r8 advice): queries that return a
  * `localCheckpoint`ed frame (their scratch files/memory sinks don't
  * outlive the call) present only a truncated checkpoint-scan plan
  * here, so sweeping them would (a) audit nothing real and (b) fully
  * execute their streaming jobs and file I/O inside a "planning" test.
  * They are EXCLUDED from the registered-query sweep; the second test
  * audits their inner batch transforms directly, and the map below
  * records where each one's real plan shape is certified.
  */
class AntiPatternSweepSpec extends SparkSpecBase {

  /** Queries with an AUDITED bounded cross join (see scaladoc). */
  private val boundedCrossJoins = Set(
    "s12_csv_to_json",        // 1-row _meta envelope, broadcast
    "s9_partitioned_roundtrip", // 1-row meta count, broadcast
    "s7_ann_recall",          // 1-row recall denominator, broadcast
    "k4_hist_quantiles",      // 1-row min/max/count range envelope, broadcast
    "s4_ivf_topk",            // bounded centroid/dim relation
    "s10_ivf_multiprobe",     // bounded centroids + 1-row count aggregates
    "s14_kmeans_refine",      // broadcast of k centroid rows per iteration
    "s21_maximin_refine",     // broadcast of ≤k seed/centroid rows per round
    "s15_scaled_nlist",       // broadcast of ≤32 centroid rows + 1-row count aggregates
    "s16_spherical_refine",   // broadcast of k centroid rows per refit variant
    "s19_ivfpq",              // broadcast 8-row centroid dim (query probe side)
    "s25_residual_pq",        // same probe + broadcast 8-row centroid dim in
                              // the qc/cc residual tables (5 queries × nlist)
    "s26_opq_permute",        // s25's probe twice (raw/permuted variants) —
                              // same broadcast 8-row centroid dims only
    "e2e_dvp_pipeline",       // 30-team dim grid + 1-row validation verdicts, broadcast
    "a9_completeness_grid",   // expected-grid dim × dim (SURVEY A9)
    "d12_semantic_dedup",     // broadcast of 8 centroid rows (flat path, k <= HierThreshold)
    "d15_semantic_pq",        // broadcast 8 centroids + m*ksub^2 code-pair table
    "s23_hier_assign",        // broadcast ⌈√k⌉ refit leaders + k grouped centroids (hierAssign)
    "t12_source_drift",       // 1-row corpus-total envelope, broadcast
    "c10_temperature_mix",    // 1-row budget/denominator census envelope, broadcast
    "s24_kmeans_parallel")    // broadcast 8 chosen-centroid rows (lloydAssign)

  /** Checkpoint-truncated queries → where the real plan shape IS
    * audited instead (inner-transform test below, a batch twin, or a
    * dedicated spec).
    */
  private val checkpointTruncated = Map(
    "st5_availablenow_catchup" -> "EventWindows.tumbling audited below",
    "st8_checkpoint_resume" -> "EventWindows.tumbling audited below",
    "st9_commit_protocol" -> "EventWindows.tumbling audited below",
    "st14_exactly_once" ->
      ("idempotent foreachBatch sink; the replay discipline is exercised " +
        "by the harness's own injected-crash requires, result is a " +
        "post-hoc per-type scan aggregate"),
    "st10_stream_static_enrich" ->
      ("broadcast-dim join + tumbling agg; batch twin audited below, " +
        "join shape in StreamStaticJoinSpec"),
    "st13_stream_histogram" ->
      ("complete-mode ≤128-bin groupBy (bounded sketch state); the " +
        "binning shape is k4's, swept there"),
    "st6_stream_dedup" ->
      ("streaming-only dropDuplicatesWithinWatermark; state bounded by " +
        "watermark horizon (StreamingDedupSpec)"),
    "st7_stream_sessionize" ->
      "batch twin st3_sessionize swept here; typed state in SessionizeSpec",
    "d6_neardup_clusters" ->
      "iterative star-contraction; per-round shape in ChainGraphSpec",
    "d8_incremental_dedup" -> "Dedup.d8Decide audited below",
    "j4_bucketed_join" ->
      ("real bucketed-table round trip (catalog + filesystem); the " +
        "no-shuffle co-located join shape is pinned in BucketedJoinSpec"),
    "s8_ivf_persisted" ->
      "probe plan identical to s4_ivf_topk (swept); build ≡ s4 assignment",
    "s17_ivf_incremental" ->
      ("same probe plan as s8; build/append are two s4-shaped assignment " +
        "passes against a frozen broadcast centroid set"),
    "s9_partitioned_roundtrip" ->
      "bounded broadcast(meta) cross join (allowlist); rest is scratch scan",
    "a1_fanout_layout" ->
      ("per-dir scan union + window PARTITIONED by source_dir " +
        "(a1Layout audited below)"),
    "s11_run_summary" ->
      ("pre-write side is one groupBy tally (Sinks.writeRunSummary); " +
        "result is a scratch scan"),
    "s12_csv_to_json" ->
      "bounded broadcast(_meta) cross join (allowlist); rest is scratch scan",
    "s13_skip_existing" ->
      ("existence probe loops over DISTINCT partition keys only (spec'd); " +
        "result is a scratch scan"),
    "i8_html_page_prune" ->
      ("DSv2 scan of staged fixture pages (pages packed into splits, " +
        "pruning pinned in HtmlTableSourceSpec); result is a scratch scan"),
    "st20_funnel_detect" ->
      ("flatMapGroupsWithState CEP pass; state bounds + semantics in " +
        "FunnelDetectSpec, relational twin is the st20 oracle itself " +
        "(two windowed max-joins)"),
    "o14_write_constraints" ->
      ("WAP staging/audit/publish harness (scratch writes); gate " +
        "predicates are scan-local expressions + one dim FK join, " +
        "reconciled row-by-row in WriteConstraintsSpec"),
    "o15_optimize_snapshot" ->
      ("commit/optimize protocol harness (scratch snapshot writes); " +
        "content identity + bin-pack bound required in-op, protocol " +
        "edges in OptimizeSpec"),
    "st21_stream_decontam" ->
      ("stateless foreachBatch broadcast-membership gate; the gram " +
        "scan + broadcast semi-join shape is c11's (swept/pinned " +
        "there), batch-twin identity in StreamDecontamSpec"),
    "i10_jsonl_quarantine" ->
      ("staged JSONL round-trip harness (scratch text + landed " +
        "parquet); the read is one permissive parse pass + per-row " +
        "projections, split sides reconciled in JsonlQuarantineSpec"))

  private def sweep(name: String, df: => DataFrame,
      failures: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    val plan =
      try df.queryExecution.optimizedPlan
      catch { case e: Throwable =>
        failures += s"$name: failed to plan (${e.getMessage})"
        null
      }
    if (plan != null) {
      val globalWindows = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (globalWindows.nonEmpty)
        failures += s"$name: window with empty partitionSpec (global order)"
      val bareCross = plan.collect {
        case j: Join if j.condition.isEmpty &&
          (j.joinType == Cross || j.joinType.isInstanceOf[InnerLike]) => j
      }
      if (bareCross.nonEmpty && !boundedCrossJoins(name))
        failures += s"$name: condition-less inner/cross join outside the audited set"
    }
  }

  test("no registered query plans a global-order window or unbounded cross join") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => checkpointTruncated.contains(name) }
      .foreach { case (name, fn) => sweep(name, fn(spark, sf), failures) }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("checkpoint-truncated queries: inner transforms pass the same sweep") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val ev = graft.Tables.events(spark, sf)

    // st5/st8/st9 run these exact transforms through readStream
    sweep("EventWindows.tumbling", graft.streaming.EventWindows.tumbling(ev),
      failures)
    sweep("EventWindows.sliding", graft.streaming.EventWindows.sliding(ev),
      failures)

    // st10's batch twin: broadcast-dim enrichment into the tumbling agg
    val dim = graft.Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))
    sweep("st10.enrichTumbling",
      ev.join(broadcast(dim), "user_id")
        .groupBy(window(col("ts"), "5 minutes"), col("segment"))
        .agg(count(lit(1)).as("n")), failures)

    // d8's decision join/window over batch-shaped inputs
    val docs = graft.Tables.documents(spark, sf)
    val batch = docs.select(col("doc_id"), md5(col("text")).as("text_hash"))
    val index = docs.limit(10)
      .select(md5(col("text")).as("text_hash"), col("doc_id").as("keeper_id"))
    sweep("Dedup.d8Decide", Dedup.d8Decide(batch, index), failures)

    // a1's read-back shape: per-key scan union + key-partitioned window
    val a1Layout = {
      import org.apache.spark.sql.expressions.Window
      docs.select(col("doc_id"), col("source").as("source_dir"))
        .withColumn("n_in_dir",
          count(lit(1)).over(Window.partitionBy(col("source_dir"))))
    }
    sweep("a1.layout", a1Layout, failures)

    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
