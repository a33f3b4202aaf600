package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import graft.streaming.EventWindows

/** Physical-plan contracts: the scale properties the queries are designed
  * around, locked in as assertions so a refactor that silently degrades a
  * plan (lost broadcast, lost pushdown, lost top-k pushthrough) fails CI,
  * not the cluster.
  */
class PlanSpec extends SparkSpecBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dimension joins broadcast (q2 star join, e1 alias dim, t1 lexicon)") {
    assert(plan(Relational.q2RevenueByNation(spark, sf))
      .contains("BroadcastHashJoin"))
    assert(plan(Enrich.e1AliasCanonicalize(spark, sf))
      .contains("BroadcastHashJoin"))
    assert(plan(TextAnalysis.t1LangId(spark, sf))
      .contains("BroadcastHashJoin"))
  }

  test("filters and pruned columns reach the parquet scan (q4)") {
    val p = plan(Relational.q4FilterTally(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("In(o_orderstatus"),
      s"expected o_orderstatus filter pushed to scan:\n$p")
    // projection pruned: lineitem-free query must not read more than the
    // 3 referenced orders columns
    assert(p.contains("ReadSchema") &&
      !p.contains("o_orderdate"), "column pruning lost")
  }

  test("top-k pushes through the sort (q3 TakeOrderedAndProject)") {
    assert(plan(Relational.q3TopOrders(spark, sf))
      .contains("TakeOrderedAndProject"))
  }

  test("t8 surprisal joins tokens to the vocab via broadcast (skew-proof hot keys)") {
    val p = plan(TextAnalysis.t8Surprisal(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token-side shuffle join would hot-spot on stopwords:\n$p")
  }

  test("t8 vocab over the broadcast ceiling falls back to a shuffle join") {
    // ceiling=0 forces the over-budget branch on the same data: the
    // guarded plan must drop the broadcast and go through the
    // AQE-skew-handled sort-merge shape (the SCALE.md powerlaw-proof
    // fallback), and the result must be row-identical to the broadcast
    // plan — the guard changes strategy, never semantics.
    val fallback = TextAnalysis.t8SurprisalGuarded(spark, sf, ceiling = 0L)
    val p = plan(fallback)
    assert(p.contains("SortMergeJoin"),
      s"over-ceiling vocab should shuffle-join:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"guard failed to suppress the broadcast:\n$p")
    val a = fallback.collect().map(_.toSeq)
    val b = TextAnalysis.t8Surprisal(spark, sf).collect().map(_.toSeq)
    assert(a.sameElements(b), "join strategies disagree on results")
  }

  test("t7 vocab cut is per-partition top-k, never a global sort") {
    val p = plan(TextAnalysis.t7VocabTopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"t7 lost the top-k pushthrough:\n$p")
  }

  test("similarity hot path uses graft_dot, not interpreted HOFs") {
    val p = plan(Similarity.s3EmbeddingNearDup(spark, sf))
    assert(p.contains("graft_dot"))
    // norms precomputed once per side, never per pair
    assert(p.contains("SQRT(graft_dot"))
    // no CodegenFallback HOF composition may reappear on this path
    assert(!p.contains("zip_with") && !p.contains("aggregate("),
      s"interpreted HOF found on similarity hot path:\n$p")
  }

  test("streaming aggregation plans with watermark state (tumbling)") {
    // batch plan: single shuffle on (window, event_type)
    val p = plan(EventWindows.st1Tumbling(spark, sf))
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
  }

  test("e5 full canonicalization: alias lookups probe a map, LA fix windows") {
    val p = plan(Enrich.e5TeamCanonicalize(spark, sf))
    // both lookups (whole name, then mascot-stripped) probe the bounded
    // alias map inside the projection: no join, so the fact side never
    // shuffles for them and the plan holds no broadcast relation
    assert(!p.contains("Join") && !p.contains("BroadcastExchange"),
      s"alias lookup planned as a join:\n$p")
    assert(p.split("element_at\\(map\\(").length == 3,
      s"expected 2 alias map probes:\n$p")
    assert(p.contains("row_number"), "LA disambiguation window lost")
  }

  test("s2 banded LSH joins on band+key, never a cartesian") {
    val p = plan(Similarity.s2LshNearDup(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"banded LSH degenerated to an unbanded product:\n$p")
    assert(p.contains("graft_dot"))
  }

  test("j2 range join plans as a bin equi-join, never a nested-loop product") {
    val p = plan(Joins.j2RangeJoin(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to a per-pair product:\n$p")
  }

  test("c2 split assignment and s6 quantization are shuffle-free projections") {
    for (df <- Seq(Curation.c2TrainSplit(spark, sf),
        Similarity.s6QuantizeInt8(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("Exchange hashpartitioning"),
        s"per-row operator gained a shuffle:\n$p")
    }
  }

  test("c6 mix joins its realized counts broadcast, never a source-keyed window") {
    // the per-domain count must come back as a broadcast join on the
    // bounded source key — a window over partitionBy(source) would
    // shuffle the whole mixed corpus onto #sources partitions (the
    // skew trap at scale); the only full-data exchange allowed is the
    // final range sort on the deterministic position key
    val p = plan(Curation.c6DomainMix(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"c6 counts join is not broadcast:\n$p")
    assert(!p.contains("Window"),
      s"c6 gained a window over the mixed corpus:\n$p")
  }

  test("f8/f21 scalar chains stay in one whole-stage codegen pass over orders") {
    // regex scalar derivations must not introduce shuffles before the
    // final sort: one scan, one projection chain
    val p = plan(Scalars.f8InsightScalars(spark, sf))
    // only the final sort's range exchange is allowed — a hash shuffle
    // would mean the scalar chain stopped being a pure projection
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in a per-row scalar query:\n$p")
  }

  test("k1 CMS probes the bounded counter table broadcast, top-K via heap") {
    // the sketch side is ≤ depth×width rows — it must be the broadcast
    // build side; the exact top-20 cut must push through the sort
    val p = plan(Sketches.k1CmsHeavyHitters(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"CMS counter probe not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K words lost the heap pushthrough:\n$p")
  }

  test("k4 resolves quantile targets against the broadcast histogram") {
    // both the 1-row range envelope and the ≤128-row cumulative
    // histogram are bounded relations: neither may shuffle the data side
    // beyond the two map-side-combined aggregations
    val p = plan(Sketches.k4HistQuantiles(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"k4 target resolution not against a broadcast:\n$p")
  }

  test("m4 candidates come from a band equi-join, never a cartesian") {
    val p = plan(Multimodal.m4PayloadNearDup(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"m4 pair generation degenerated to all-pairs:\n$p")
  }

  test("j5 salted join keys include the salt (the distribution fix is in the plan)") {
    val p = plan(Joins.j5SaltedSkewJoin(spark, sf))
    assert(p.contains("salt"),
      s"salt column missing from the join plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"j5 lost its equi-join:\n$p")
  }
}
