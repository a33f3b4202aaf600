package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** c12 per-bench-doc contamination coverage: the interval-union merge
  * (overlapping quotes from different training docs must not
  * double-count bench tokens), the all-clear contract (every bench doc
  * gets a row, zero coverage included), and per-bench-doc consistency
  * with c11's pair relation on the injected sf0.01 corpus; and the
  * plan shape: the corpus is scanned and gram-exploded once per call,
  * and the returned frame reaches no gram-keyed broadcast.
  */
class ContaminationReportSpec extends SparkSpecBase {
  import spark.implicits._

  private val benchPred =
    col("doc_id") % 25 === 0 && col("doc_id") < 1000000L

  private def uniq(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("overlapping runs from two train docs merge, not sum") {
    val bench = uniq("q", 30)
    val toks = bench.split(" ")
    // trainA quotes bench tokens 5..17 (13), trainB tokens 10..29 (20):
    // the union is tokens 5..29 = 25 covered, though run lengths sum 33
    val trainA = uniq("hostA", 40) + " " + toks.slice(4, 17).mkString(" ")
    val trainB = uniq("hostB", 40) + " " + toks.slice(9, 29).mkString(" ")
    val docs = Seq((0L, bench), (1L, trainA), (2L, trainB))
      .toDF("doc_id", "text")
    val got = Curation.c12Of(docs, benchPred).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((0L, 2L, 2L, 20L, 25L, 30L, 833333L)),
      s"got ${r.toSeq}")
  }

  test("disjoint runs sum their coverage") {
    val bench = uniq("q", 30)
    val toks = bench.split(" ")
    // tokens 1..13 and 17..29: no overlap, covered = 13 + 13 = 26
    val trainA = uniq("hostA", 40) + " " + toks.slice(0, 13).mkString(" ")
    val trainB = uniq("hostB", 40) + " " + toks.slice(16, 29).mkString(" ")
    val docs = Seq((0L, bench), (1L, trainA), (2L, trainB))
      .toDF("doc_id", "text")
    val r = Curation.c12Of(docs, benchPred).collect().head
    assert(r.getLong(4) == 26L && r.getLong(3) == 13L, s"got ${r.toSeq}")
  }

  test("an uncontaminated bench doc reports an all-clear row, not absence") {
    val docs = Seq(
      (0L, uniq("q", 30)),          // bench, quoted below
      (25L, uniq("clean", 20)),     // bench, nowhere quoted
      (1L, uniq("host", 40) + " " +
        uniq("q", 30).split(" ").slice(4, 17).mkString(" ")))
      .toDF("doc_id", "text")
    val got = Curation.c12Of(docs, benchPred)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(0L, 25L))
    val clean = got(25L)
    assert(Seq(1, 2, 3, 4, 6).forall(i => clean.getLong(i) == 0L),
      s"all-clear row must be zeros: ${clean.toSeq}")
    assert(clean.getLong(5) == 20L)
  }

  test("sf0.01: the report reconciles with c11's pair relation") {
    val corpus = Curation.c11Corpus(
      graft.Tables.documents(spark, "/root/testdata/sf0.01")
        .select("doc_id", "text")).persist()
    try {
      val report = Curation.c12Of(corpus, benchPred)
      val fromPairs = Curation.c11Of(corpus, benchPred)
        .groupBy("bench_doc")
        .agg(countDistinct(col("train_doc")).as("p_train"),
          sum(col("n_runs")).as("p_runs"), max(col("max_run")).as("p_max"))
      val joined = report.join(fromPairs, Seq("bench_doc"), "left").persist()
      try {
        assert(joined.filter(col("n_runs") > 0).count() > 0,
          "injection not data-reachable")
        assert(joined.filter(col("p_train").isNotNull &&
          (col("n_train_docs") =!= col("p_train") ||
            col("n_runs") =!= col("p_runs") ||
            col("max_run") =!= col("p_max"))).count() == 0,
          "report stats disagree with the c11 pair relation")
        assert(joined.filter(col("p_train").isNull &&
          col("n_runs") =!= 0).count() == 0)
        assert(joined.filter(col("covered_tokens") > col("bench_tokens"))
          .count() == 0, "coverage exceeded the doc")
        assert(joined.filter(col("n_runs") > 0 &&
          col("covered_tokens") < col("max_run")).count() == 0,
          "coverage below the longest single run")
      } finally joined.unpersist()
    } finally corpus.unpersist()
  }

  test("c12 runs the corpus once and its frame reaches no gram broadcast") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec,
      SparkPlan}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.tools.DumpPlans.{executionsOf, heldBy, nodesOf}
    val (df, ran) = executionsOf(spark) {
      val df = Curation.c12ContaminationReport(spark, sf)
      df.collect()
      df
    }
    def isDocScan(p: SparkPlan) = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("documents"))
      case _ => false
    }
    def isGramBroadcastJoin(p: SparkPlan) = p match {
      case j: BroadcastHashJoinExec =>
        j.leftKeys.exists(_.references.exists(_.name == "gram"))
      case _ => false
    }
    val nodes = ran.flatMap(qe => nodesOf(qe.executedPlan))
    val generates = nodes.collect { case g: GenerateExec => g }
    // one 13-gram explode over the eval-side bench docs, one over the
    // train stream (the corpus: base docs + two plant joins + the bench
    // docs' own scan = 6 documents scans, against 55 before)
    assert(generates.count(_.exists(isDocScan)) == 1,
      "the corpus gram stream is produced more than once")
    assert(generates.size == 2, s"${generates.size} gram explodes")
    assert(nodes.count(isDocScan) == 6, s"${nodes.count(isDocScan)} scans")
    // the semi-join and the hits join, each built once
    assert(nodes.count(isGramBroadcastJoin) == 2)

    // a collected frame keeps its whole plan alive: nothing corpus- or
    // gram-sized may be reachable from it, in its initial or final plan
    val held = heldBy(df)
    assert(!held.exists(isGramBroadcastJoin), "the frame holds a gram broadcast")
    assert(!held.exists(isDocScan) && !held.exists(_.isInstanceOf[GenerateExec]),
      s"the frame reaches the corpus plan: ${held.map(_.nodeName)}")
  }
}
