package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** The end-to-end curation decision — the query a training-data pipeline
  * actually ships: per document, the composed verdict of exact dedup
  * (d1), near-dup clustering (d6), language ID (t1), n-gram repetition
  * (t6), PII scanning (t5), and quality scoring (t2), cascaded into one
  * keep/drop decision with the first failing gate as the reason. Every
  * component is the SAME production operator the standalone queries
  * verify; this registers their composition under the oracle.
  *
  * Gate order: dedup first (exact, then near), then language, then the
  * hard content gates (repetition, PII) — a repetitive or PII-bearing
  * doc is dropped regardless of how well it scores — and the graded
  * quality threshold last. (The content gates sit before low_quality
  * rather than after it deliberately: they are categorical defects, and
  * on this corpus the post-quality pool is a handful of docs — too few
  * to ever exercise the added reasons at the verification scale.)
  *
  * Scale shape: six doc-keyed relations joined on doc_id — each
  * component keeps its own optimal plan (hash-group exact dedup,
  * contracted label propagation, broadcast lexicon vote, one doc-keyed
  * 2-gram aggregation, embarrassingly parallel regex/scoring), and the
  * final join is doc_id-partitioned all the way.
  */
object Curation {

  private val repThreshold = 0.08

  def c1CurationDecision(s: SparkSession, d: String): DataFrame =
    // the session-shared cluster relation (computed once per corpus per
    // session — the d6 query reads the same cache), unordered: the
    // cluster join must not pay d6's output sort
    decisionOf(documents(s, d), documentsSpread(s, d),
      Dedup.d6ClustersShared(s, d))

  /** The cascade over any (doc_id, text, lang, n_chars) corpus frame and
    * its cluster assignment — `spread` feeds the per-row compute-heavy
    * components. Both registered c1 variants (base corpus, dup-injected)
    * are THIS operator; they differ only in inputs.
    */
  private[graft] def decisionOf(docs: DataFrame, spread: DataFrame,
      clusters: DataFrame): DataFrame = {
    // exact keeper as a window min over the content hash: ONE shuffle on
    // md5(text), vs the groupBy + join-back formulation's two
    val ex = docs.select(col("doc_id"),
      min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text"))))
        .as("exact_keep_id"))
    val qual = TextAnalysis.withQualityCols(spread)
      .select(col("doc_id"), col("quality"))
    val lang = TextAnalysis.langPredictionsOf(spread, docs)
      .select(col("doc_id"), col("predicted_lang"))
    val clus = clusters
      .select(col("doc_id"), col("cluster_id"))
    // t6 has no row for docs with < 2 tokens (no 2-grams) — join left,
    // an absent metric means nothing repeats
    val rep = TextAnalysis.repetitionMetricsOf(spread)
      .select(col("doc_id"), col("dup_2gram_frac"))
    val pii = TextAnalysis.piiScanOf(spread)
      .select(col("doc_id"),
        (col("n_emails") + col("n_phones") + col("n_urls")).as("n_pii"))
    docs.select(col("doc_id"))
      .join(ex, "doc_id").join(qual, "doc_id")
      .join(lang, "doc_id").join(clus, "doc_id")
      .join(rep, Seq("doc_id"), "left").join(pii, "doc_id")
      .withColumn("dup_frac", coalesce(col("dup_2gram_frac"), lit(0.0)))
      .withColumn("reason",
        when(col("doc_id") =!= col("exact_keep_id"), "exact_dup")
          .when(col("doc_id") =!= col("cluster_id"), "near_dup")
          .when(col("predicted_lang") === "unknown", "lang")
          .when(col("dup_frac") >= repThreshold, "repetition")
          .when(col("n_pii") > 0, "pii")
          .when(col("quality") < 0.5, "low_quality")
          .otherwise("keep"))
      .withColumn("keep", col("reason") === "keep")
      .select(col("doc_id"), col("exact_keep_id"), col("quality"),
        col("predicted_lang"), col("cluster_id"), col("dup_frac"),
        col("n_pii"), col("reason"), col("keep"))
      .orderBy("doc_id")
  }

  /** The cascade's oracle SQL parameterized on the corpus relation name
    * (r7 advice #2): every embedded fragment takes the corpus through its
    * own `*SqlOver` form, so swapping the corpus for a derived CTE (c1b)
    * is plain composition — no post-hoc rewriting of composed SQL that a
    * future literal containing the word 'documents' could break.
    */
  private[queries] def c1SqlOver(corpus: String): String = {
    val lang = TextAnalysis.t1CoreSqlOver(corpus)
    val clusters = Dedup.d6CoreSqlOver(corpus)
    s"""SELECT *, (reason = 'keep') AS keep FROM (
      |SELECT d.doc_id, e.exact_keep_id, q.quality, l.predicted_lang,
      |  c.cluster_id,
      |  coalesce(r.dup_2gram_frac, 0.0) AS dup_frac,
      |  p.n_emails + p.n_phones + p.n_urls AS n_pii,
      |  CASE WHEN d.doc_id <> e.exact_keep_id THEN 'exact_dup'
      |       WHEN d.doc_id <> c.cluster_id THEN 'near_dup'
      |       WHEN l.predicted_lang = 'unknown' THEN 'lang'
      |       WHEN coalesce(r.dup_2gram_frac, 0.0) >= $repThreshold THEN 'repetition'
      |       WHEN p.n_emails + p.n_phones + p.n_urls > 0 THEN 'pii'
      |       WHEN q.quality < 0.5 THEN 'low_quality'
      |       ELSE 'keep' END AS reason
      |FROM $corpus d
      |JOIN (SELECT md5(text) AS h, min(doc_id) AS exact_keep_id
      |      FROM $corpus GROUP BY md5(text)) e ON md5(d.text) = e.h
      |JOIN (SELECT doc_id, ${TextAnalysis.qualityFormulaSql} AS quality
      |      FROM (
      |  ${TextAnalysis.qualityPartsSqlOver(corpus)})) q
      |  ON d.doc_id = q.doc_id
      |JOIN (SELECT doc_id, predicted_lang FROM ($lang) t) l
      |  ON d.doc_id = l.doc_id
      |JOIN (SELECT doc_id, cluster_id FROM ($clusters) t) c
      |  ON d.doc_id = c.doc_id
      |LEFT JOIN (SELECT doc_id, dup_2gram_frac FROM (${TextAnalysis.t6CoreSqlOver(corpus)}) t) r
      |  ON d.doc_id = r.doc_id
      |JOIN (SELECT doc_id, n_emails, n_phones, n_urls
      |      FROM (${TextAnalysis.t5CoreSqlOver(corpus)}) t) p
      |  ON d.doc_id = p.doc_id
      |) ORDER BY doc_id""".stripMargin
  }

  val c1Sql: String = c1SqlOver("documents")

  /** The dup-injected corpus: `documents` plus an exact clone (same
    * text, doc_id + 1,000,000) of every doc with doc_id % 20 == 0. The
    * fixture corpus has 500 distinct texts (its own md5s are all
    * distinct), so the base c1's `exact_dup` gate can never fire there;
    * this derived frame makes the cascade's FIRST gate data-reachable
    * under the oracle (r6 verdict #5). Reference semantics: the seen-set
    * dedup of `nba_props_scraper.py:189-205` / `run_scraper.py:124-134`
    * — drop re-scraped duplicates before anything downstream sees them.
    * The +1,000,000,000 offset keeps clone ids disjoint from real ids
    * AND from the enlargement tool's minted copies (ids +i*1e6, up to
    * ~99e6 at 100x - see tools/EnlargeTestdata; the d18 discipline) and ≡
    * base mod 4/20/50/1000, so the deterministic PII tails and shard
    * assignments of a clone match its source exactly.
    */
  private[queries] def dupInjected(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
    base.unionByName(
      base.filter(col("doc_id") % 20 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
  }

  /** C1b — the identical six-gate cascade over the dup-injected corpus:
    * every clone fails the first gate (`exact_dup`, keeper = min doc_id =
    * the original), and every original keeps its base-corpus decision.
    * Clusters are recomputed on the injected frame through the same d5+d6
    * operators (a clone is also simhash-identical to its source, but
    * exact_dup wins the cascade — gate ORDER is what this query pins).
    */
  def c1DupInject(s: SparkSession, d: String): DataFrame = {
    val injected = dupInjected(s, d)
    val spread = injected.repartition(
      s.sparkContext.defaultParallelism, col("doc_id"))
    // session-memoized like c1's base clusters (r7 verdict #5): the
    // injected corpus is deterministic per dataset, so bench reps and
    // composite re-runs must not re-cluster it
    decisionOf(injected, spread, Dedup.neardupClustersOfShared(injected))
  }

  /** The base cascade SQL composed over the dup-injected CTE — a
    * distinct relation NAME rather than a `documents` self-shadow, which
    * keeps the SQL valid no matter how the oracle runner registers the
    * base table (a CTE self-shadow needs schema-qualified references).
    */
  val c1DupSql: String =
    """WITH docs_dup AS (
      |  SELECT * FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS doc_id, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 20 = 0)
      |""".stripMargin +
      c1SqlOver("docs_dup")

  /** C2 — deterministic train/val/test split: hash-mod bucketing on a
    * salted doc key (98/1/1). Hash-based splits are the only kind that
    * stay stable under re-runs, re-partitioning, and incremental
    * appends — row_number()-based splits reshuffle docs between splits
    * whenever the corpus changes. Same md5-derived 32-bit hash the dedup
    * family uses, so DuckDB replays the assignment bit-for-bit.
    */
  def c2TrainSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        pmod(md5Hash32(concat(lit("split:"), col("doc_id"))), lit(100))
          .as("bucket"))
      .withColumn("split",
        when(col("bucket") < 98, "train")
          .when(col("bucket") === 98, "val")
          .otherwise("test"))
      .orderBy("doc_id")

  val c2Sql: String =
    """SELECT doc_id, bucket,
      |  CASE WHEN bucket < 98 THEN 'train'
      |       WHEN bucket = 98 THEN 'val' ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |        ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 100
      |          AS bucket
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  private[queries] val packBudget = 2048

  /** C3 — sequence packing: assign docs to token-budget packs for
    * pretraining batch assembly, sharded (doc_id mod 32) so each shard
    * packs independently with one running-sum window (one shuffle).
    *
    * Semantics — OFFSET packing, stated precisely: a doc belongs to the
    * pack its starting token offset falls in
    * (`pack_id = floor(preceding_sum / budget)`). Documents are never
    * split, so a doc straddling a budget boundary OVERFLOWS its pack —
    * the budget is the target fill for a downstream assembler that
    * chunks pack text into fixed windows, not a hard per-pack cap.
    * Hard-cap greedy ("close the pack before it would overflow") is a
    * sequential fold per shard — not expressible as a window function
    * and not DuckDB-replayable without recursion — and wastes the tail
    * of every pack; offset packing is the standard boundary-preserving
    * compromise and is exactly what both engines compute here.
    */
  def c3SequencePack(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documentsSpread(s, d)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(32)).as("shard"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    toks
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $packBudget").as("pack_id"))
      .orderBy("doc_id")
  }

  val c3Sql: String =
    s"""SELECT doc_id, shard, n_tokens,
      |  CAST((cum - n_tokens) // $packBudget AS BIGINT) AS pack_id
      |FROM (
      |  SELECT doc_id, doc_id % 32 AS shard,
      |    len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
      |    sum(len(string_split_regex(trim(text), '\\s+')))
      |      OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS cum
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Hard-cap greedy packing — the library companion to [[c3SequencePack]]
    * for assemblers that need a STRICT per-pack budget: close the pack
    * before it would overflow; docs larger than the budget get a pack of
    * their own. The greedy fold is inherently sequential per shard, which
    * is exactly the justified `mapPartitions` case: shards are
    * repartitioned to align partitions with shard boundaries and sorted
    * within, then each partition folds linearly. Not oracle-registered
    * (a recursive-CTE replay would dominate gate time); contract pinned
    * by `HardCapPackSpec` instead: budget respected, boundaries
    * preserved, deterministic.
    */
  def packHardCap(docs: DataFrame, budget: Int, shards: Int = 32): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(shards)).as("shard"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Long, Long, Int)]
      .mapPartitions { rows =>
        // a partition holds whole shards (hash-partitioned on shard);
        // track the fold per shard so co-located shards stay independent
        val state = scala.collection.mutable.Map[Long, (Long, Int)]() // shard -> (pack, fill)
        rows.map { case (docId, shard, n) =>
          val (pack, fill) = state.getOrElse(shard, (0L, 0))
          val (outPack, newFill) =
            if (fill > 0 && fill + n > budget) (pack + 1, n)
            else (pack, fill + n)
          state(shard) = (outPack, newFill)
          (docId, shard, n, outPack)
        }
      }
      .toDF("doc_id", "shard", "n_tokens", "pack_id")
  }

  /** C4 — benchmark decontamination: the pre-training hygiene pass that
    * flags training documents sharing n-gram content with a held-out
    * evaluation set (the first thing a real data pipeline runs after
    * dedup — eval leakage silently inflates benchmark scores). Semantics:
    * 3-word shingles on both sides; per (train_doc, bench_doc) pair,
    * `n_shared` distinct shared shingles and
    * `overlap = n_shared / |bench shingles|` (the standard
    * contamination metric is directional — the question is how much of
    * the BENCHMARK is present in the training doc); pairs with
    * `n_shared >= 2` surface, `overlap >= 0.5` is contaminated.
    *
    * The corpus is the dup-injected frame so exact leakage is
    * data-reachable (c1b's trick): bench docs are `doc_id % 100 = 0`
    * originals, whose clones (+1,000,000, % 100 = 0 too) stay on the
    * training side and MUST flag at overlap 1.0; the 25 natural d2
    * near-dup pairs contribute partial overlaps.
    *
    * Scale shape: the benchmark side is small by construction (eval
    * sets are thousands of docs, not billions) — explicitly
    * `broadcast()` — so the candidate join is map-side against the
    * exploded training shingles with NO train-side shuffle before the
    * (train_doc, bench_doc) partial-aggregated count. The d2 hot-
    * shingle guard applies on the training side (df <= 100): a
    * stopword shingle must not pair every training doc with every
    * bench doc that contains it.
    */
  def c4Decontaminate(s: SparkSession, d: String): DataFrame = {
    val injected = dupInjected(s, d)
    val sets = Dedup.shingleSetsOf(injected.repartition(
      s.sparkContext.defaultParallelism, col("doc_id")))
    decontaminateOf(sets,
        col("doc_id") % 100 === 0 && col("doc_id") < 1000000L)
      .orderBy("train_doc", "bench_doc")
  }

  /** The c4 overlap core over any (doc_id, shingles) frame and bench
    * predicate, unordered — used by the registered query and the
    * scale-headroom measurement.
    */
  def decontaminateOf(sets: DataFrame, isBench: Column): DataFrame = {
    val bench = sets.filter(isBench)
      .select(col("doc_id").as("bench_doc"),
        size(col("shingles")).as("bench_n"),
        explode(col("shingles")).as("sh"))
    val train = sets.filter(!isBench)
      .select(col("doc_id").as("train_doc"), explode(col("shingles")).as("sh"))
    // hot-shingle guard (d2 pattern): cap training-side df before pairing
    val kept = train.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 100).select("sh")
    train.join(kept, "sh")
      .join(broadcast(bench), "sh")
      .groupBy(col("train_doc"), col("bench_doc"), col("bench_n"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .withColumn("overlap", r6(col("n_shared") / col("bench_n")))
      .withColumn("contaminated", col("overlap") >= 0.5)
      .select(col("train_doc"), col("bench_doc"), col("n_shared"),
        col("bench_n"), col("overlap"), col("contaminated"))
  }

  val c4Sql: String =
    s"""WITH docs_dup AS (
      |  SELECT * FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS doc_id, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 20 = 0),
      |sets AS (
      |  SELECT doc_id, list_distinct(${ngramsSql("w", 3)}) AS shingles
      |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
      |        FROM docs_dup)
      |  WHERE len(w) >= 3),
      |bench AS (
      |  SELECT doc_id AS bench_doc, len(shingles) AS bench_n,
      |    unnest(shingles) AS sh
      |  FROM sets WHERE doc_id % 100 = 0 AND doc_id < 1000000),
      |train AS (
      |  SELECT doc_id AS train_doc, unnest(shingles) AS sh
      |  FROM sets WHERE NOT (doc_id % 100 = 0 AND doc_id < 1000000)),
      |kept AS (SELECT sh FROM train GROUP BY sh HAVING count(*) <= 100),
      |paired AS (
      |  SELECT train_doc, bench_doc, bench_n, count(*) AS n_shared
      |  FROM train JOIN kept USING (sh) JOIN bench USING (sh)
      |  GROUP BY 1, 2, 3)
      |SELECT train_doc, bench_doc, n_shared, bench_n,
      |  ${r6Sql("n_shared / bench_n")} AS overlap,
      |  ${r6Sql("n_shared / bench_n")} >= 0.5 AS contaminated
      |FROM paired WHERE n_shared >= 2
      |ORDER BY train_doc, bench_doc""".stripMargin

  // ---- C11: substring-collision benchmark decontamination -----------

  /** Collision gram length for c11 — the exact-overlap production
    * standard (GPT-3's 13-gram train-test filter; PaLM/Llama use the
    * same shape). Long enough that natural prose almost never collides
    * by chance, short enough that one quoted benchmark question always
    * does. */
  private[queries] val C11K = 13

  /** C11 — substring-collision benchmark decontamination, the
    * production complement to [[c4Decontaminate]]'s doc-level Jaccard:
    * flag every training document sharing a verbatim ≥[[C11K]]-token
    * run with a benchmark document, with the matched-run evidence
    * (longest run, run count, colliding gram positions). This is the
    * GPT-3/PaLM/Llama train-test overlap standard — exact N-gram
    * collision — and it catches the case c4's ratio provably misses: a
    * single benchmark question QUOTED inside a long unrelated document
    * moves `shared shingles / bench size` barely at all (the
    * denominator is the whole benchmark doc) but collides exactly on
    * the quote's 13-grams. `SubstringDecontamSpec` pins that miss on
    * injected data: c4 scores the quote pairs below its 0.5 threshold
    * while c11 flags every one.
    *
    * Data-reachability (the c1b/d16 injection discipline): bench docs
    * are `doc_id % 25 = 0` originals; every bench doc with ≥30 tokens
    * plants a 13-token slice of itself inside an unrelated host doc
    * (+2,000,000 — exactly one colliding gram, the minimal hit), and
    * every bench doc with ≥48 tokens additionally plants a 20-token
    * slice (+3,000,000 — 8 grams on one diagonal, exercising the run
    * stitching).
    *
    * Spark-first shape: d14's positional-gram machinery two-sided —
    * the eval side built once ([[C11Bench]]: eval sets are thousands of
    * docs, not billions), one K-gram pass over the train stream, a
    * broadcast SEMI-JOIN against the bench gram set FIRST (a train gram
    * absent from the bench side can never collide), then df-capped
    * TRAIN postings over the survivors (a boilerplate gram must not
    * pair every training doc with every bench doc containing it — the
    * d2 cap-and-forfeit discipline, here df = distinct training DOCS),
    * diagonal run stitching (gaps-and-islands per (train, bench, pt−pb)
    * — thousands of small window partitions, never a global sort).
    *
    * Scale shape: the FULL train gram stream is never shuffled — the
    * only exchanges key the semi-join survivors (df cap, run stitching,
    * per-pair aggregation). At 100 TB the gram string becomes a 64-bit
    * fingerprint (the d14 note — cross-engine-exact hashing is the
    * only reason the string survives here).
    */
  def c11SubstringDecontam(s: SparkSession, d: String): DataFrame = {
    val (bench, train) = c11Sides(s, d)
    c11Of(bench, train).orderBy("train_doc", "bench_doc")
  }

  private[graft] val C11IsBench =
    col("doc_id") % 25 === 0 && col("doc_id") < 1000000L

  /** The eval side and the train stream of the quote-injected corpus
    * over `d`'s documents. Plants carry ids ≥ 2,000,000, never bench,
    * so only the train stream runs [[c11Corpus]]'s plant joins. */
  private[graft] def c11Sides(s: SparkSession, d: String): (C11Bench, DataFrame) = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    (new C11Bench(docs.filter(C11IsBench)), c11Corpus(docs).filter(!C11IsBench))
  }

  /** The quote-injected corpus: base docs ∪ host-doc-plus-bench-quote
    * plants at +2M (13-token quote) and +3M (20-token quote). The host
    * is the bench doc's successor (`doc_id + 1` — never itself a bench
    * doc under the %25 predicate), so the quote sits inside a LONG
    * unrelated document, the exact shape c4's directional ratio
    * dilutes below threshold. */
  private[graft] def c11Corpus(docs: DataFrame): DataFrame = {
    val withToks = docs.select(col("doc_id"), col("text"),
      split(col("text"), "\\s+").as("w"))
    val hosts = docs.select((col("doc_id") - 1).as("bench_id"),
      col("text").as("host_text"))
    def planted(minToks: Int, quoteLen: Int, offset: Long): DataFrame =
      withToks.filter(col("doc_id") % 25 === 0 && size(col("w")) >= minToks)
        .join(hosts, col("doc_id") === col("bench_id"))
        .select((col("doc_id") + lit(offset)).as("doc_id"),
          concat(col("host_text"), lit(" "),
            array_join(slice(col("w"), 5, quoteLen), " ")).as("text"))
    docs.select("doc_id", "text")
      .unionByName(planted(30, C11K, 2000000L))
      .unionByName(planted(48, 20, 3000000L))
  }

  /** The eval side of the collision family, built eagerly and once:
    * the bench docs, their positional grams `(bench_doc, pb, gram)`
    * and the distinct gram set. Each is eval-set-sized, so each is a
    * small localCheckpoint, and a frame built on them reaches no plan
    * of the corpus. Shared by c11, c12 and st21's streaming gate. */
  private[graft] final class C11Bench(bench: DataFrame) {
    val docs: DataFrame = bench.select("doc_id", "text").localCheckpoint()
    val grams: DataFrame = c11GramsOf(docs)
      .select(col("doc_id").as("bench_doc"), col("pos").as("pb"), col("gram"))
      .localCheckpoint()
    val gramSet: DataFrame = grams.select("gram").distinct().localCheckpoint()
  }

  /** The c11 collision core over any (doc_id, text) corpus and bench
    * predicate — d14's diagonal stitching with the two-sided split. */
  private[graft] def c11Of(corpus: DataFrame, isBench: Column): DataFrame =
    c11Of(new C11Bench(corpus.filter(isBench)), corpus.filter(!isBench))

  private[graft] def c11Of(bench: C11Bench, train: DataFrame): DataFrame =
    c11RunsOf(c11CandOf(train, bench), bench)
      .groupBy("train_doc", "bench_doc")
      .agg(count(lit(1)).as("n_runs"), max(col("run_len")).as("max_run"),
        sum(col("run_len") - lit(C11K - 1)).cast("long").as("n_hits"))

  /** The positional [[C11K]]-gram generator alone — shared with st21's
    * streaming membership gate (one map-side pass, no exchange). */
  private[graft] def c11GramsOf(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      .filter(size(col("w")) >= C11K)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(w) - ${C11K - 1}), " +
          s"i -> array_join(slice(w, i, $C11K), ' '))"))
        .as(Seq("pos", "gram")))

  /** The collision candidates `(train_doc, pt, gram)`: the train gram
    * stream pruned map-side by the broadcast bench gram set. */
  private[graft] def c11CandOf(train: DataFrame, bench: C11Bench): DataFrame =
    c11GramsOf(train)
      .select(col("doc_id").as("train_doc"), col("pos").as("pt"), col("gram"))
      .join(broadcast(bench.gramSet), Seq("gram"), "left_semi")

  /** The stitched-run relation under c11's collision machinery: one row
    * per maximal shared ≥[[C11K]]-token run, with the run's length and
    * its starting gram position on the BENCH side (`pb_start` — what
    * [[c12Of]]'s coverage merge consumes; positions are engine-internal
    * 0-/1-based and only ever used shift-invariantly). */
  private[graft] def c11RunsOf(cand: DataFrame, bench: C11Bench): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the df cap counts only semi-join survivors: dropping grams that
    // appear in no bench doc cannot change any surviving gram's df
    val keep = cand.groupBy("gram")
      .agg(countDistinct(col("train_doc")).as("df"))
      .filter(col("df") <= 100).select("gram")
    cand.join(keep, "gram").join(broadcast(bench.grams), "gram")
      .withColumn("diag", col("pt") - col("pb"))
      .withColumn("grp", col("pt") - row_number().over(
        Window.partitionBy("train_doc", "bench_doc", "diag").orderBy("pt")))
      .groupBy("train_doc", "bench_doc", "diag", "grp")
      .agg((count(lit(1)) + lit(C11K - 1)).cast("long").as("run_len"),
        min(col("pb")).cast("long").as("pb_start"))
  }

  /** The injected corpus → positional K-grams oracle CTEs alone —
    * shared by c11/c12 (collision runs below) and st21's streaming
    * membership gate. */
  private[graft] val c11CorpusGramsSqlCtes: String = {
    val k = C11K
    s"""WITH base AS (SELECT doc_id, text FROM documents),
      |btoks AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w
      |          FROM base),
      |q13 AS (
      |  SELECT b.doc_id + 2000000 AS doc_id,
      |    h.text || ' ' || array_to_string(b.w[5:${4 + k}], ' ') AS text
      |  FROM btoks b JOIN base h ON h.doc_id = b.doc_id + 1
      |  WHERE b.doc_id % 25 = 0 AND len(b.w) >= 30),
      |q20 AS (
      |  SELECT b.doc_id + 3000000 AS doc_id,
      |    h.text || ' ' || array_to_string(b.w[5:24], ' ') AS text
      |  FROM btoks b JOIN base h ON h.doc_id = b.doc_id + 1
      |  WHERE b.doc_id % 25 = 0 AND len(b.w) >= 48),
      |corpus AS (SELECT * FROM base UNION ALL
      |           SELECT * FROM q13 UNION ALL SELECT * FROM q20),
      |ctoks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w
      |          FROM corpus),
      |grams AS (
      |  SELECT doc_id, i AS pos,
      |    array_to_string(w[i : i + ${k - 1}], ' ') AS gram
      |  FROM ctoks, LATERAL (SELECT unnest(range(1, len(w) - ${k - 2})) AS i)
      |  WHERE len(w) >= $k)""".stripMargin
  }

  /** The shared c11/c12 oracle CTE chain: injected corpus → positional
    * K-grams → df-capped train/bench collision → diagonal-stitched
    * `runs` (one row per maximal shared run, with bench-side start).
    * MATERIALIZED so c12's two consumers replay it once. */
  private def c11RunsSqlCtes: String = {
    val k = C11K
    s"""$c11CorpusGramsSqlCtes,
      |bg AS (SELECT doc_id AS bench_doc, pos AS pb, gram FROM grams
      |       WHERE doc_id % 25 = 0 AND doc_id < 1000000),
      |tg AS (SELECT doc_id AS train_doc, pos AS pt, gram FROM grams
      |       WHERE NOT (doc_id % 25 = 0 AND doc_id < 1000000)),
      |keep AS (SELECT gram FROM tg GROUP BY gram
      |         HAVING count(DISTINCT train_doc) <= 100),
      |hits AS (
      |  SELECT t.train_doc, t.pt, b.bench_doc, b.pb
      |  FROM tg t JOIN keep USING (gram) JOIN bg b USING (gram)),
      |isl AS (
      |  SELECT train_doc, bench_doc, pt - pb AS diag, pt, pb,
      |    pt - row_number() OVER (
      |      PARTITION BY train_doc, bench_doc, pt - pb ORDER BY pt) AS grp
      |  FROM hits),
      |runs AS MATERIALIZED (
      |  SELECT train_doc, bench_doc,
      |    CAST(count(*) + ${k - 1} AS BIGINT) AS run_len,
      |    CAST(min(pb) AS BIGINT) AS pb_start
      |  FROM isl GROUP BY train_doc, bench_doc, diag, grp)""".stripMargin
  }

  val c11Sql: String =
    s"""$c11RunsSqlCtes
      |SELECT train_doc, bench_doc, CAST(count(*) AS BIGINT) AS n_runs,
      |  max(run_len) AS max_run,
      |  CAST(sum(run_len - ${C11K - 1}) AS BIGINT) AS n_hits
      |FROM runs GROUP BY train_doc, bench_doc
      |ORDER BY train_doc, bench_doc""".stripMargin

  /** C12 — the per-benchmark-document contamination REPORT on top of
    * [[c11SubstringDecontam]]'s pair flags: for every eval document,
    * how much of it leaked into the training corpus. c11 answers
    * "which training docs must be dropped"; c12 answers the eval
    * owner's question — "how burnt is my benchmark" (the train-test
    * overlap tables GPT-3/GPT-4/Llama publish per eval set): the
    * fraction of the bench doc's tokens covered by ≥[[C11K]]-token
    * verbatim runs from ANY training document, with overlapping runs
    * from different training docs merged (two quotes of the same
    * passage must not double-count coverage).
    *
    * Interval-union semantics: each stitched run covers bench tokens
    * `[pb_start, pb_start + run_len)`; per bench doc the intervals are
    * merged by the classic sorted running-max island scan and the
    * union length is summed. Positions are engine-internal (Spark
    * grams are 0-based, the oracle's 1-based) but the union LENGTH is
    * shift-invariant, so only lengths ever leave the operator. Every
    * bench doc gets a row — a zero-coverage row is the report's
    * all-clear, not an absence. `contam_ppm` stays in integers
    * (floor parts-per-million) — the c8/uq6 cross-engine discipline.
    *
    * Scale shape: c11's collision work, with its candidates and runs
    * (two consumers each) localCheckpointed: the corpus is gram-exploded
    * once per call and the returned frame reaches no gram-keyed
    * broadcast. The merge windows partition by bench doc over the
    * candidate-sized run relation — thousands of small partitions,
    * never a global sort. Output is eval-set-sized by construction.
    */
  def c12ContaminationReport(s: SparkSession, d: String): DataFrame = {
    val (bench, train) = c11Sides(s, d)
    c12Of(bench, train).orderBy("bench_doc")
  }

  /** The c12 coverage core over any (doc_id, text) corpus and bench
    * predicate — c11's run relation merged into per-bench-doc token
    * coverage. */
  private[graft] def c12Of(corpus: DataFrame, isBench: Column): DataFrame =
    c12Of(new C11Bench(corpus.filter(isBench)), corpus.filter(!isBench))

  private[graft] def c12Of(bench: C11Bench, train: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val runs = c11RunsOf(c11CandOf(train, bench).localCheckpoint(), bench)
      .select(col("train_doc"), col("bench_doc"), col("run_len"),
        col("pb_start"), (col("pb_start") + col("run_len")).as("pb_end"))
      .localCheckpoint()
    val w = Window.partitionBy("bench_doc")
      .orderBy(col("pb_start"), col("pb_end"))
    val islanded = runs
      .withColumn("prev_max", max(col("pb_end")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island", sum(
        when(col("prev_max").isNull ||
          col("pb_start") > col("prev_max"), 1L).otherwise(0L)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cov = islanded.groupBy(col("bench_doc"), col("island"))
      .agg((max(col("pb_end")) - min(col("pb_start"))).as("island_cov"))
      .groupBy(col("bench_doc"))
      .agg(sum(col("island_cov")).as("covered_tokens"))
    val stats = runs.groupBy(col("bench_doc"))
      .agg(countDistinct(col("train_doc")).as("n_train_docs"),
        count(lit(1)).as("n_runs"), max(col("run_len")).as("max_run"))
    bench.docs.select(col("doc_id").as("bench_doc"),
        size(split(col("text"), "\\s+")).cast("long").as("bench_tokens"))
      .join(stats, Seq("bench_doc"), "left")
      .join(cov, Seq("bench_doc"), "left")
      .select(col("bench_doc"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        col("bench_tokens"))
      .withColumn("contam_ppm",
        expr("covered_tokens * 1000000 div bench_tokens"))
  }

  val c12Sql: String =
    s"""$c11RunsSqlCtes,
      |iv AS (SELECT train_doc, bench_doc, run_len, pb_start,
      |         pb_start + run_len AS pb_end FROM runs),
      |mg AS (
      |  SELECT bench_doc, pb_start, pb_end,
      |    max(pb_end) OVER (PARTITION BY bench_doc
      |      ORDER BY pb_start, pb_end
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM iv),
      |isl2 AS (
      |  SELECT bench_doc, pb_start, pb_end,
      |    sum(CASE WHEN prev_max IS NULL OR pb_start > prev_max
      |        THEN 1 ELSE 0 END) OVER (PARTITION BY bench_doc
      |      ORDER BY pb_start, pb_end
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM mg),
      |cov AS (
      |  SELECT bench_doc, CAST(sum(island_cov) AS BIGINT) AS covered_tokens
      |  FROM (SELECT bench_doc, island,
      |          max(pb_end) - min(pb_start) AS island_cov
      |        FROM isl2 GROUP BY bench_doc, island)
      |  GROUP BY bench_doc),
      |stats AS (
      |  SELECT bench_doc,
      |    CAST(count(DISTINCT train_doc) AS BIGINT) AS n_train_docs,
      |    CAST(count(*) AS BIGINT) AS n_runs, max(run_len) AS max_run
      |  FROM iv GROUP BY bench_doc),
      |bt AS (
      |  SELECT doc_id AS bench_doc,
      |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
      |      AS bench_tokens
      |  FROM corpus WHERE doc_id % 25 = 0 AND doc_id < 1000000)
      |SELECT b.bench_doc,
      |  CAST(coalesce(s.n_train_docs, 0) AS BIGINT) AS n_train_docs,
      |  CAST(coalesce(s.n_runs, 0) AS BIGINT) AS n_runs,
      |  CAST(coalesce(s.max_run, 0) AS BIGINT) AS max_run,
      |  CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
      |  b.bench_tokens,
      |  CAST(coalesce(c.covered_tokens, 0) * 1000000 // b.bench_tokens
      |    AS BIGINT) AS contam_ppm
      |FROM bt b LEFT JOIN stats s USING (bench_doc)
      |LEFT JOIN cov c USING (bench_doc)
      |ORDER BY bench_doc""".stripMargin

  // ---- C13: DSIR importance-resampling data selection ----------------

  /** Hashed n-gram feature buckets (Xie et al. use 10⁴). The corpus's
    * languages share one 31-word vocabulary — the domain signal lives
    * ENTIRELY in bigram transitions (≤961 types), so the bucket space
    * must exceed the feature-type count or hash collisions alias
    * different languages' transitions into one bucket and flatten the
    * likelihood ratio: 2¹⁰ > 31 + 961 keeps types near-collision-free
    * here while staying a trivially broadcastable table. */
  private[graft] val C13Buckets = 1024

  /** Selection-cut histogram resolution (the c7/t14 bounded-driver-state
    * discipline: cuts at bin resolution, never a global per-doc rank). */
  private[graft] val C13Bins = 128

  /** Keep the top 1/[[C13Frac]] of documents by importance weight. */
  private[graft] val C13Frac = 5

  /** C13 — DSIR-style data selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its hashed n-gram features are
    * under a TARGET distribution (the trusted domain you want more of)
    * than under the RAW crawl distribution, then keep the top slice by
    * that importance weight. This is the third member of the quality
    * triad — t2 scores shape heuristics, t14/t15 score fluency under a
    * generative reference LM, c13 scores DISTRIBUTIONAL match to a
    * target domain via a discriminative likelihood ratio over hashed
    * features (the method Xie et al. showed beats heuristic filtering
    * for domain-targeted pretraining selection).
    *
    * Model: features are unigrams ∪ bigrams, hashed into
    * [[C13Buckets]] buckets (the paper's hashed n-gram generative
    * model); bucket distributions are add-one smoothed. Per document,
    * log w(x) = Σ_f [log p(b_f) − log q(b_f)] where p is the target
    * (here `lang = 'en'`, the corpus's trusted-domain stand-in — the
    * t14 convention) and q the full-crawl distribution. Cross-engine
    * exactness: every log is the t8/t14 integer floor-log₂ via bit
    * length over exact BIGINT smoothed counts, so
    * `logw_bits = Σ_f [⌊log₂(ct_f+1)⌋ − ⌊log₂(cr_f+1)⌋]
    *  + n_feats·[⌊log₂(R+B)⌋ − ⌊log₂(T+B)⌋]` is pure integer
    * arithmetic that replays bit-for-bit in the oracle (a float log
    * differs in last-ulp across libm implementations; the paper's
    * Gumbel-noise resampling draw is likewise a float-log hazard, so
    * selection is pinned to the deterministic top-slice variant — the
    * paper's own top-k ablation — at [[C13Bins]]-bin resolution with
    * ≥⌈n/[[C13Frac]]⌉ "at least K" semantics, the t14 cut contract).
    *
    * Scale shape: three corpus-linear scans (bucket counts twice —
    * 256-row map-side-combined aggregates — and the scoring pass
    * joined against the BROADCAST 256-row weight table, then one
    * doc-keyed map-side-combinable aggregation); the cut is fixed
    * 128-bin driver state at any corpus size. Nothing is ever keyed by
    * feature string — the hash collapses the unbounded vocabulary to a
    * fixed bucket space before the first exchange, which is exactly
    * why DSIR ships at web scale.
    */
  def c13DsirSelection(s: SparkSession, d: String): DataFrame =
    c13Of(documentsSpread(s, d).select(col("doc_id"), col("lang"),
      col("text")), col("lang") === "en")

  /** The corpus-sized scoring pass — split out so its plan shape (the
    * weight table BROADCAST into the feature stream, the per-doc
    * aggregation map-side combinable) stays inspectable behind the
    * lineage-truncating checkpoint that follows it ([[DsirSpec]] pins
    * it). */
  private[graft] def c13ScoredStage(fb: DataFrame, weights: DataFrame,
      nbits: Long): DataFrame =
    // LEFT join with a 0-bit default: a crawl feature hashing to a
    // bucket unseen in calibration carries DSIR's smoothed weight for
    // cr=0/ctg=0 (len(bin(1))-1 = 0 bits) instead of silently dropping
    // the feature — and a doc whose every feature is unseen still
    // reaches the gate. Under c13Freeze's own calibration corpus every
    // bucket is present, so the batch path is bit-identical.
    fb.join(broadcast(weights), Seq("bk"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("bits"), lit(0L))).as("sum_bits"))
      .withColumn("logw_bits",
        col("sum_bits") + col("n_feats") * lit(nbits))

  /** The corpus → hashed-bucket feature stream ([[c13ScoredStage]]'s
    * data side; exposed with it for the plan pin). */
  private[graft] def c13FeatureStream(docs: DataFrame,
      isTarget: Column): DataFrame = {
    val toks = docs.select(col("doc_id"), col("lang"),
        expr("filter(split(trim(text), '\\\\s+'), x -> length(x) > 0)")
          .as("w"), isTarget.as("is_target"))
      .filter(size(col("w")) > 0)
    // unigrams ∪ bigrams; zip_with over shifted slices degrades to an
    // empty bigram list for 1-token docs in BOTH engines (Spark
    // sequence(1, 0) counts DOWN — never index off it)
    val feats = toks.select(col("doc_id"), col("lang"), col("is_target"),
      explode(concat(col("w"), expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), " +
          "(a, x) -> concat(a, ' ', x))"))).as("feat"))
    feats.select(col("doc_id"), col("lang"), col("is_target"),
      pmod(md5Hash32(concat(lit("dsir:"), col("feat"))),
        lit(C13Buckets)).as("bk"))
  }

  /** The c13 core over any (doc_id, lang, text) corpus and target
    * predicate — also the scale-headroom entry point (a frozen target
    * slice keeps the p-side counts constant under enlargement, the t15
    * reasoning). */
  private[graft] def c13Of(docs: DataFrame, isTarget: Column): DataFrame = {
    val (model, scoredCalib) = c13Freeze(docs, isTarget)
    c13LabelScored(scoredCalib, model).orderBy("doc_id")
  }

  /** The frozen DSIR gate artifacts: the bucket weight table, the
    * smoothing constant, the calibration score envelope, and the
    * top-slice bin cut — everything st23 broadcasts per micro-batch. */
  private[graft] case class C13Model(weights: DataFrame, nbits: Long,
      qmin: Long, width: Double, cutBin: Int)

  /** Train + calibrate the DSIR model on `docs` (the batch path's full
    * corpus; st23's FROZEN calibration slice). Also returns the scored
    * calibration relation so the batch path labels it without a second
    * scoring pass. */
  private[graft] def c13Freeze(docs: DataFrame,
      isTarget: Column): (C13Model, DataFrame) = {
    val b = C13Buckets
    val fb = c13FeatureStream(docs, isTarget)
    // BOTH distributions from ONE map-side-combined corpus scan (the
    // target side as a conditional count), landed as 256 driver-safe
    // rows; everything below derives from this tiny relation
    val counts = fb.groupBy("bk")
      .agg(count(lit(1)).as("cr"),
        count(when(col("is_target"), lit(1))).as("ctg"))
      .localCheckpoint()
    val weights = counts.select(col("bk"),
      ((length(expr("bin(ctg + 1)")) - lit(1)).cast("long") -
        (length(expr("bin(cr + 1)")) - lit(1)).cast("long")).as("bits"))
    def headLong(df: DataFrame): Long = {
      val v = df.head().get(0)
      if (v == null) 0L else v.asInstanceOf[Long]
    }
    val rTot = headLong(counts.agg(sum(col("cr"))))
    val tTot = headLong(counts.agg(sum(col("ctg"))))
    def ilog2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val nbits = ilog2(rTot + b) - ilog2(tTot + b)
    val scored = c13ScoredStage(fb, weights, nbits)
      .localCheckpoint() // envelope, histogram and labeling scan this
    val env = scored.agg(min(col("logw_bits")), max(col("logw_bits")),
      count(lit(1))).head()
    val (qmin, qmax, n) = (env.getLong(0), env.getLong(1), env.getLong(2))
    val width = math.max((qmax - qmin).toDouble, 1e-9) / C13Bins
    val hist = scored
      .withColumn("bin", c13Bin(col("logw_bits"), qmin, width))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(-_._1)
    val k = math.ceil(n / C13Frac.toDouble).toLong
    val cum = hist.scanLeft((C13Bins, 0L)) { case ((_, c), (bn, cnt)) =>
      (bn, c + cnt) }.drop(1)
    val cutBin = cum.find(_._2 >= k).map(_._1).getOrElse(0)
    (C13Model(weights, nbits, qmin, width, cutBin), scored)
  }

  /** The envelope-clamped [[C13Bins]]-bin index of a logw value. The
    * lower clamp engages only against a FROZEN envelope (st23: a crawl
    * doc can score below the calibration minimum); under [[c13Freeze]]'s
    * own envelope the score never sits below qmin and the clamp is a
    * no-op — [[c13Of]]'s results are bit-identical to the pre-factored
    * form. */
  private[graft] def c13Bin(logw: Column, qmin: Long, width: Double): Column =
    least(lit(C13Bins - 1), greatest(lit(0),
      floor((logw - lit(qmin)) / lit(width)).cast("int")))

  /** Label a scored relation under a frozen model: clamped bin + the
    * frozen top-slice cut. */
  private[graft] def c13LabelScored(scored: DataFrame,
      m: C13Model): DataFrame =
    scored
      .withColumn("bin", c13Bin(col("logw_bits"), m.qmin, m.width))
      .select(col("doc_id"), col("lang"), col("n_feats"),
        col("logw_bits"), col("bin"),
        (col("bin") >= lit(m.cutBin)).as("selected"))

  /** Score a fresh batch under a frozen model (st23's per-batch body):
    * feature-hash map-side, broadcast 256-row weight join, doc-keyed
    * aggregation. */
  private[graft] def c13ScoreUnder(batch: DataFrame,
      m: C13Model): DataFrame =
    c13ScoredStage(c13FeatureStream(batch, lit(false)),
      m.weights, m.nbits)

  val c13Sql: String =
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
      |  FROM fb GROUP BY bk),
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
      |scored AS (
      |  SELECT f.doc_id, f.lang, CAST(count(*) AS BIGINT) AS n_feats,
      |    CAST(sum(coalesce(w.bits, 0)) AS BIGINT) AS sum_bits
      |  FROM fb f LEFT JOIN wts w USING (bk) GROUP BY f.doc_id, f.lang),
      |sc AS (
      |  SELECT doc_id, lang, n_feats,
      |    sum_bits + n_feats * (SELECT nbits FROM nb) AS logw_bits
      |  FROM scored),
      |r AS (SELECT min(logw_bits) AS qmin, max(logw_bits) AS qmax,
      |      count(*) AS n FROM sc),
      |b AS (
      |  SELECT sc.*, LEAST(${C13Bins - 1}, CAST(floor(
      |    (logw_bits - qmin) / (GREATEST(CAST(qmax - qmin AS DOUBLE),
      |      1e-9) / $C13Bins.0)) AS INT)) AS bin
      |  FROM sc CROSS JOIN r),
      |hist AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
      |cumd AS (
      |  SELECT a.bin, CAST(sum(c.cnt) AS BIGINT) AS cum
      |  FROM hist a JOIN hist c ON c.bin >= a.bin GROUP BY a.bin),
      |cut AS (SELECT max(bin) AS c FROM cumd CROSS JOIN r
      |        WHERE cum >= CAST(ceil(n / $C13Frac.0) AS BIGINT))
      |SELECT doc_id, lang, n_feats, logw_bits, bin,
      |  bin >= coalesce((SELECT c FROM cut), 0) AS selected
      |FROM b ORDER BY doc_id""".stripMargin

  /** Per-language keep rates for [[c5StratifiedSample]]: downsample the
    * dominant language, keep the rest — the standard rebalancing move
    * when one language dwarfs the mixture. Deterministic per doc.
    */
  private val sampleRates: Seq[(String, Double)] =
    Seq("en" -> 0.3, "zh" -> 1.0, "es" -> 0.9, "de" -> 0.9, "fr" -> 0.9)
  private val defaultRate = 0.5

  /** C5 — stratified sampling: per-stratum (language) hash sampling to
    * target proportions. The draw is `md5("sample:" || doc_id) mod 10⁴`
    * against `rate × 10⁴` — the same salted-hash determinism contract
    * as the c2 split: stable under re-runs, re-partitioning, and
    * incremental appends, and bit-replayable by the oracle (a
    * `rand()`-based sample is neither). Emits the keep FLAG rather than
    * the filtered corpus so the oracle certifies both sides of the cut.
    *
    * Scale shape: pure per-row projection — no shuffle, no state; the
    * rate table is a literal CASE (a broadcast join for a real
    * thousands-of-strata table would add nothing here).
    */
  def c5StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val rate = sampleRates.foldRight(lit(defaultRate): Column) {
      case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    documents(s, d)
      .select(col("doc_id"), col("lang"),
        pmod(md5Hash32(concat(lit("sample:"), col("doc_id"))), lit(10000))
          .as("draw"),
        rate.as("rate"))
      .withColumn("sampled", col("draw") < col("rate") * 10000)
      .orderBy("doc_id")
  }

  val c5Sql: String = {
    val cases = sampleRates
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString(" ")
    s"""SELECT doc_id, lang,
      |  ('0x' || substr(md5('sample:' || doc_id), 1, 8))::BIGINT % 10000
      |    AS draw,
      |  CASE $cases ELSE $defaultRate END AS rate,
      |  ('0x' || substr(md5('sample:' || doc_id), 1, 8))::BIGINT % 10000
      |    < (CASE $cases ELSE $defaultRate END) * 10000 AS sampled
      |FROM documents
      |ORDER BY doc_id""".stripMargin
  }

  /** C6 — deterministic domain mixing: the data-mix step every
    * pretraining pipeline runs between curation and packing (per-domain
    * sampling weights — upsample the high-quality sources, downsample
    * the bulk crawl — e.g. the published LLaMA / Pile mixture tables).
    *
    * Weight semantics (epochs): weight `w` means `floor(w)` full copies
    * of every doc plus one extra copy gated at probability `w−floor(w)`.
    * Both the gate draw AND the interleave position are salted md5
    * hashes of (doc_id, copy) — the c2/c5 determinism contract extended
    * to replicas: stable under re-runs, re-partitioning, and appends,
    * bit-replayable by the oracle, and `position` is the deterministic
    * global-shuffle key a training reader range-sorts by (no
    * `rand()`, no epoch-boundary reshuffle drift). The realized
    * per-domain row count (`n_mixed`) rides on every row, so the hash
    * certifies the achieved mixture, not just the per-row draws.
    *
    * Scale shape: per-row explode bounded by ⌈max weight⌉ (never
    * data-sized), the count is a map-side-combined groupBy on the
    * bounded source key joined back BROADCAST (a window over
    * `partitionBy(source)` would shuffle the full corpus onto
    * #sources partitions — the skew trap at 100 TB), and the global
    * shuffle is a range sort on `position` — the one distributed sort
    * the semantics genuinely require.
    */
  def c6DomainMix(s: SparkSession, d: String): DataFrame = {
    val srcN = expr("CAST(substring(source, 4) AS INT)")
    val w = when(pmod(srcN, lit(4)) === 0, lit(2.5))
      .when(pmod(srcN, lit(4)) === 1, lit(1.0))
      .when(pmod(srcN, lit(4)) === 2, lit(0.5))
      .otherwise(lit(0.25))
    val mixed = documents(s, d)
      .select(col("doc_id"), col("source"), w.as("w"))
      .withColumn("copy",
        explode(expr("sequence(0, CAST(ceil(w) AS INT) - 1)")))
      .withColumn("draw",
        pmod(md5Hash32(concat(lit("mix:"), col("doc_id"), lit(":"),
          col("copy"))), lit(10000)))
      .filter(col("copy") < floor(col("w")) ||
        col("draw") < (col("w") - floor(col("w"))) * 10000)
      .withColumn("position",
        md5Hash32(concat(lit("pos:"), col("doc_id"), lit(":"),
          col("copy"))))
    val counts = mixed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_mixed"))
    mixed.join(broadcast(counts), "source")
      .select(col("doc_id"), col("source"), col("w"), col("copy"),
        col("draw"), col("position"), col("n_mixed"))
      .orderBy("position", "doc_id", "copy")
  }

  val c6Sql: String =
    """WITH base AS (
      |  SELECT doc_id, source,
      |    CAST(CASE CAST(substr(source, 4) AS INT) % 4
      |      WHEN 0 THEN 2.5 WHEN 1 THEN 1.0 WHEN 2 THEN 0.5
      |      ELSE 0.25 END AS DOUBLE) AS w
      |  FROM documents),
      |mixed AS (
      |  SELECT doc_id, source, w, c AS copy,
      |    ('0x' || substr(md5('mix:' || doc_id || ':' || c), 1, 8))::BIGINT
      |      % 10000 AS draw,
      |    ('0x' || substr(md5('pos:' || doc_id || ':' || c), 1, 8))::BIGINT
      |      AS position
      |  FROM base, LATERAL (SELECT unnest(range(0,
      |    CAST(ceil(w) AS BIGINT))) AS c)
      |  WHERE c < floor(w)
      |    OR ('0x' || substr(md5('mix:' || doc_id || ':' || c), 1, 8))::BIGINT
      |      % 10000 < (w - floor(w)) * 10000)
      |SELECT m.doc_id, m.source, m.w, m.copy, m.draw, m.position,
      |  n.n_mixed
      |FROM mixed m
      |JOIN (SELECT source, count(*) AS n_mixed FROM mixed GROUP BY source) n
      |  ON m.source = n.source
      |ORDER BY m.position, m.doc_id, m.copy""".stripMargin

  // ---- C7: corpus-relative quality gate -------------------------------

  private val C7Bins = 128
  private val C7DropFrac = 0.2

  /** C7 — CORPUS-RELATIVE quality gating: drop the bottom ~20% of
    * documents by t2 quality score, with the cut decided at histogram
    * resolution. c1's gates are ABSOLUTE (fixed thresholds); production
    * curation usually cuts by corpus percentile, which naively needs a
    * global sort. Instead: score once, take the (min, max, n) envelope,
    * bin scores into [[C7Bins]] fixed buckets (k4's mergeable-sketch
    * state — map-side combinable, 128 rows however large the corpus),
    * pick the lowest bin whose cumulative count covers
    * `ceil(0.2·n)`, and keep every doc in a STRICTLY higher bin. The
    * cut therefore lands on a bin boundary — "bottom ≥20%, quantized to
    * histogram resolution" — which is exactly reproducible on both
    * engines (the oracle replays envelope → binning → cut → gate), has
    * no per-doc rank, and never sorts. Per-source admit counts reported.
    *
    * Scale shape: three scans of a once-materialized (doc, source,
    * quality) projection — envelope, 128-bin histogram, gate — vs the
    * O(n log n) global sort a percent_rank gate would need; the
    * histogram is the same fixed state at any corpus size. Tighter cuts
    * need more bins, not different machinery.
    */
  def c7RelativeGate(s: SparkSession, d: String): DataFrame =
    c7Of(documentsSpread(s, d))

  /** The c7 core on ANY (doc_id, text, n_chars, source) frame —
    * frame-parameterized for [[graft.tools.ScaleHeadroom]]. */
  private[graft] def c7Of(docs: DataFrame): DataFrame = {
    val scored = TextAnalysis.withQualityCols(docs)
      .select(col("doc_id"), col("source"), col("quality"))
      .localCheckpoint() // scored once; envelope/hist/gate scan this
    val env = scored.agg(min(col("quality")), max(col("quality")),
      count(lit(1))).head()
    val (qmin, qmax, n) = (env.getDouble(0), env.getDouble(1), env.getLong(2))
    val width = math.max(qmax - qmin, 1e-9) / C7Bins
    val binned = scored.withColumn("bin",
      least(lit(C7Bins - 1),
        floor((col("quality") - lit(qmin)) / lit(width)).cast("int")))
    val target = math.ceil(C7DropFrac * n).toLong
    val histRows = binned.groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val cutBin = histRows
      .scanLeft((0, 0L)) { case ((_, cum), (b, c)) => (b, cum + c) }
      .drop(1).find(_._2 >= target).map(_._1)
      .getOrElse(C7Bins - 1)
    val totals = binned.groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"))
    val kept = binned.filter(col("bin") > lit(cutBin))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    totals.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        lit(cutBin).as("cut_bin"))
      .orderBy("source")
  }

  val c7Sql: String =
    s"""WITH q AS (
      |  SELECT doc_id, source, ${TextAnalysis.qualityFormulaSql} AS quality
      |  FROM (${TextAnalysis.qualityPartsSql})),
      |r AS (SELECT min(quality) AS qmin, max(quality) AS qmax,
      |    count(*) AS n FROM q),
      |b AS (
      |  SELECT doc_id, source,
      |    LEAST(${C7Bins - 1}, CAST(floor((quality - qmin) /
      |      (GREATEST(qmax - qmin, 1e-9) / ${C7Bins}.0)) AS INT)) AS bin
      |  FROM q CROSS JOIN r),
      |hist AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
      |cum AS (
      |  SELECT a.bin, CAST(sum(c.cnt) AS BIGINT) AS cum
      |  FROM hist a JOIN hist c ON c.bin <= a.bin GROUP BY a.bin),
      |cut AS (
      |  SELECT min(bin) AS cut_bin FROM cum CROSS JOIN r
      |  WHERE cum >= CAST(ceil($C7DropFrac * n) AS BIGINT)),
      |tot AS (SELECT source, count(*) AS n_total FROM b GROUP BY source),
      |kept AS (
      |  SELECT source, count(*) AS n_kept FROM b CROSS JOIN cut
      |  WHERE bin > cut_bin GROUP BY source)
      |SELECT t.source, t.n_total, coalesce(k.n_kept, 0) AS n_kept,
      |  (SELECT CAST(cut_bin AS INT) FROM cut) AS cut_bin
      |FROM tot t LEFT JOIN kept k ON t.source = k.source
      |ORDER BY t.source""".stripMargin

  // ---- C9: duplication-aware sampling weights -----------------------

  /** C9 — inverse-duplication sampling: instead of c1's hard near-dup
    * drop, weight each document's keep probability by 1/|its near-dup
    * cluster| so every cluster contributes ONE expected document — the
    * softer curation policy (the SlimPajama/CCNet-style move) that
    * preserves distributional coverage where hard dedup would delete
    * legitimately popular content entirely. Composes two certified
    * relations: d6's cluster map (session-memoized — singletons are
    * their own cluster, so the whole corpus is covered) and c5's
    * salted-hash draw discipline (deterministic, re-run/repartition
    * stable, oracle-replayable; the keep test `draw·n < 10⁴` stays in
    * integers). Scale shape: one cluster-keyed window for sizes + an
    * embarrassingly parallel hash draw — nothing beyond what d6
    * already paid.
    */
  def c9DedupWeightedSample(s: SparkSession, d: String): DataFrame = {
    val sized = Dedup.d6ClustersShared(s, d)
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
    sized
      .withColumn("draw",
        pmod(md5Hash32(concat(lit("c9:"), col("doc_id"))), lit(10000)))
      .select(col("doc_id"), col("cluster_id"), col("n_members"),
        col("draw"),
        (col("draw") * col("n_members") < lit(10000)).as("sampled"))
      .orderBy("doc_id")
  }

  val c9Sql: String =
    s"""WITH clusters AS MATERIALIZED (${Dedup.d6CoreSql}),
      |sized AS (
      |  SELECT doc_id, cluster_id,
      |    count(*) OVER (PARTITION BY cluster_id) AS n_members
      |  FROM clusters)
      |SELECT doc_id, cluster_id, n_members,
      |  ('0x' || substr(md5('c9:' || doc_id), 1, 8))::BIGINT % 10000
      |    AS draw,
      |  (('0x' || substr(md5('c9:' || doc_id), 1, 8))::BIGINT % 10000)
      |    * n_members < 10000 AS sampled
      |FROM sized ORDER BY doc_id""".stripMargin

  // ---- C8: domain authority by PageRank over textual overlap --------

  /** Shingles appearing in more than this many sources are dropped from
    * the overlap graph: they are corpus-wide boilerplate (stopword
    * runs), connect everything to everything, and the cap is what
    * bounds the self-join blowup at corpus scale (d2's df-cap
    * discipline applied to the source-level index). */
  private[queries] val C8DfCap = 10

  /** PageRank iterations — fixed so the oracle unrolls CTE-for-CTE. */
  private[queries] val C8Rounds = 5

  /** Integer micro-unit scale for ranks: 1.0 of rank mass = 10^12. All
    * PageRank arithmetic stays in BIGINT with explicit floor division,
    * so both engines compute bit-identical ranks — the float division a
    * textbook PageRank uses is exactly the cross-engine hazard the
    * r6/uq6 discipline exists to avoid, and unlike means, iterated
    * division compounds rounding drift across rounds. */
  private[queries] val C8Unit = 1000000000000L

  /** C8 — domain authority ranking: PageRank over the inter-source
    * textual-overlap graph, the corpus-level quality signal curation
    * mixes (c6) and gates (c1/c7) consume. Public-web pipelines rank
    * crawl domains by link centrality (PageRank / harmonic centrality)
    * and feed the score into keep/sample decisions; with no hyperlink
    * column in the corpus, the graph here is textual co-occurrence —
    * source A links to B when they share a distinct 3-gram shingle
    * (weight = number of shared shingles), which is the same evidence
    * base the dedup family mines, reused at the aggregate level.
    *
    * Spark-first shape: the graph build is two shingle-keyed shuffles
    * over the SESSION-SHARED shingle index (distinct (source, shingle),
    * then a df-capped self-join — [[C8DfCap]] bounds the per-shingle
    * fan-out so the pair stage is linear in kept postings, never
    * all-pairs). The 5 rank iterations are edge-keyed join+aggregate
    * rounds over the materialized edge list (lineage truncated once via
    * localCheckpoint — the iteration input is the fixed graph, not the
    * corpus). All rank arithmetic is integer micro-units ([[C8Unit]]):
    * contribution = ((85·r) div 100)·w div W, teleport = 0.15·unit,
    * floor-truncation loss is deterministic and identical in both
    * engines.
    *
    * Scale shape: at 100 TB the graph build is the dedup family's
    * bounded-posting pattern (documented subquadratic in SCALE.md) and
    * each iteration is one shuffle linear in |edges| — the classic
    * distributed PageRank schedule. Driver state is nothing; rank state
    * lives in the cluster, keyed by source.
    */
  def c8DomainPagerank(s: SparkSession, d: String): DataFrame =
    c8Over(Dedup.shingleSets(s, d),
      documents(s, d).select(col("doc_id"), col("source")))

  /** The c8 core over any (doc_id, shingles) sets frame and a
    * (doc_id, source) map — factored so the ScaleHeadroom harness can
    * feed enlarged corpora with fresh (non-session-cached) shingle
    * sets. */
  private[graft] def c8Over(sets: DataFrame, srcMap: DataFrame): DataFrame = {
    // session-shared like the shingle index it derives from: the posting
    // relation feeds THREE consumers in one run (df counts, both sides
    // of the pair self-join) and every re-run (bench reps, composites);
    // CacheManager matches the identical plan, so the corpus-sized
    // explode+join+distinct executes once per session, released via
    // Dedup.releaseSharedCaches
    val srcShingle = Dedup.registerShared(sets
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .join(srcMap, "doc_id")
      .select(col("source"), col("shingle"))
      .distinct()
      .persist())
    val kept = srcShingle.join(
      srcShingle.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= lit(C8DfCap))
        .select(col("shingle")),
      "shingle")
    val edges = kept
      .join(kept.select(col("shingle"), col("source").as("src_b")), "shingle")
      .filter(col("source") =!= col("src_b"))
      .groupBy(col("source").as("src_a"), col("src_b"))
      .agg(count(lit(1)).as("w"))
    // the weighted edge list is the data-sized pair join's RESULT —
    // graph-sized, not corpus-sized — and the 5 rank iterations plus
    // every re-run read it; session-shared so the pair join also runs
    // once per session
    val ew = Dedup.registerShared(edges
      .join(edges.groupBy(col("src_a")).agg(sum(col("w")).as("out_w")),
        "src_a")
      .persist())
    val nodes = Dedup.registerShared(
      srcMap.select(col("source")).distinct().persist())
    var rank = nodes.withColumn("rank", lit(C8Unit))
    for (_ <- 1 to C8Rounds) {
      val in = rank.join(ew, col("source") === col("src_a"))
        .select(col("src_b").as("source"),
          expr("(((85 * rank) div 100) * w) div out_w").as("m"))
        .groupBy(col("source")).agg(sum(col("m")).as("in_mass"))
      rank = nodes.join(in, Seq("source"), "left")
        .select(col("source"),
          (lit(C8Unit * 15L / 100L) +
            coalesce(col("in_mass"), lit(0L))).as("rank"))
    }
    rank.orderBy(col("rank").desc, col("source"))
  }

  val c8Sql: String = {
    val iterCtes = (1 to C8Rounds).map { i =>
      s"""c$i AS (
        |  SELECT e.src_b AS source,
        |    CAST(sum((((85 * r.rank) // 100) * e.w) // e.out_w) AS BIGINT)
        |      AS in_mass
        |  FROM ew e JOIN r${i - 1} r ON e.src_a = r.source
        |  GROUP BY e.src_b),
        |r$i AS (
        |  SELECT n.source,
        |    ${C8Unit * 15L / 100L} + coalesce(c$i.in_mass, 0) AS rank
        |  FROM nodes n LEFT JOIN c$i USING (source))""".stripMargin
    }.mkString(",\n")
    s"""WITH sets AS (${Dedup.shingleSetsSql}),
      |ss AS (
      |  SELECT DISTINCT d.source, sh.shingle
      |  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sets) sh
      |  JOIN documents d USING (doc_id)),
      |k AS (
      |  SELECT ss.source, ss.shingle FROM ss
      |  JOIN (SELECT shingle FROM ss GROUP BY shingle
      |        HAVING count(*) <= $C8DfCap) keep USING (shingle)),
      |edges AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS w
      |  FROM k a JOIN k b USING (shingle)
      |  WHERE a.source <> b.source
      |  GROUP BY 1, 2),
      |ew AS (
      |  SELECT e.src_a, e.src_b, e.w, o.out_w FROM edges e
      |  JOIN (SELECT src_a, CAST(sum(w) AS BIGINT) AS out_w
      |        FROM edges GROUP BY 1) o USING (src_a)),
      |nodes AS (SELECT DISTINCT source FROM documents),
      |r0 AS (SELECT source, CAST($C8Unit AS BIGINT) AS rank FROM nodes),
      |$iterCtes
      |SELECT source, CAST(rank AS BIGINT) AS rank FROM r$C8Rounds
      |ORDER BY rank DESC, source""".stripMargin
  }

  // ---- C10: temperature-reweighted domain mixture --------------------

  /** C10 — α-temperature domain mixing, the multilingual/multi-domain
    * sampling rule (mT5/XLM-R shape: q_s ∝ p_s^α flattens the domain
    * distribution so head domains stop drowning the tail): per-source
    * sampling rates are DERIVED FROM THE DATA — corpus share p_s from a
    * token census (n_chars as the token proxy), re-weighted at
    * α = 0.5 and re-normalized, then realized as budget-conserving
    * fractional resampling (the c6 copy/draw machinery, which c6 runs
    * with FIXED hand-set weights — c10's weights are the two-phase
    * census → broadcast → resample pipeline a real mixer runs).
    *
    * α = 0.5 is deliberate: q_s ∝ √p_s makes the re-weight an IEEE
    * sqrt — correctly rounded in every engine, so the oracle replays
    * the rates bit-for-bit. A general α needs pow(), which is NOT
    * correctly rounded cross-engine; production would fix the rate
    * table on the driver and broadcast it (the census is
    * domain-cardinality-sized), making engine-exactness a non-issue —
    * here the whole derivation stays in-plan to keep it certified.
    * Every intermediate is either an exact BIGINT (census sums, the
    * √-micro-unit table) or a single IEEE double op in a pinned order,
    * with one [[graft.Tables.r6]] at the rate boundary.
    *
    * Scale shape: phase 1 is a map-side-combined census (one shuffle,
    * domain-sized output); phase 2 broadcasts the rate table back onto
    * the corpus — a dimension-sized broadcast however big the fact
    * side — and the copy explosion is bounded by ⌈max rate⌉ per row.
    * Expected output tokens = B by construction (the budget is
    * conserved in expectation, the property a training-data mixer must
    * hold); `epochs` per source is the rate itself, the
    * repeat-vs-unique dial of data-constrained scaling.
    */
  def c10TemperatureMix(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"),
      col("n_chars"))
    val census = docs.groupBy(col("source"))
      .agg(sum(col("n_chars")).as("tok"), count(lit(1)).as("n_docs"))
    // √-micro-units: s_u exact BIGINT, denominators exact BIGINT sums
    val su = census.withColumn("s_u",
      floor(sqrt(col("tok")) * lit(1000000.0) + lit(0.5)).cast("long"))
    val tot = su.agg(sum(col("tok")).as("b"), sum(col("s_u")).as("denom"))
    val rates = su.crossJoin(broadcast(tot))
      .select(col("source"), col("tok"), col("n_docs"),
        r6(col("s_u").cast("double") / col("denom") * col("b") / col("tok"))
          .as("rate"))
    val mixed = docs.join(broadcast(rates), "source")
      .withColumn("copy",
        explode(expr("sequence(0, CAST(ceil(rate) AS INT) - 1)")))
      .withColumn("draw",
        pmod(md5Hash32(concat(lit("tmix:"), col("doc_id"), lit(":"),
          col("copy"))), lit(10000)))
      .filter(col("copy") < floor(col("rate")) ||
        col("draw") < (col("rate") - floor(col("rate"))) * 10000)
    val out = mixed.groupBy(col("source"), col("tok"), col("n_docs"),
        col("rate"))
      .agg(count(lit(1)).as("n_mixed"),
        sum(col("n_chars")).as("mixed_tok"))
    out.select(col("source"), col("tok"), col("n_docs"),
        col("rate"), col("rate").as("epochs"), col("n_mixed"),
        col("mixed_tok"))
      .orderBy("source")
  }

  val c10Sql: String =
    """WITH census AS (
      |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS tok,
      |    CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY source),
      |su AS (
      |  SELECT source, tok, n_docs,
      |    CAST(floor(sqrt(tok) * 1000000.0 + 0.5) AS BIGINT) AS s_u
      |  FROM census),
      |tot AS (
      |  SELECT CAST(sum(tok) AS BIGINT) AS b,
      |    CAST(sum(s_u) AS BIGINT) AS denom
      |  FROM su),
      |rates AS (
      |  SELECT source, tok, n_docs,
      |    floor(CAST(s_u AS DOUBLE) / denom * b / tok * 1000000.0 + 0.5)
      |      / 1000000.0 AS rate
      |  FROM su CROSS JOIN tot),
      |mixed AS (
      |  SELECT d.doc_id, d.source, d.n_chars, r.tok, r.n_docs, r.rate,
      |    c AS copy,
      |    ('0x' || substr(md5('tmix:' || d.doc_id || ':' || c), 1, 8))::BIGINT
      |      % 10000 AS draw
      |  FROM documents d JOIN rates r USING (source),
      |    LATERAL (SELECT unnest(range(0, CAST(ceil(r.rate) AS BIGINT)))
      |      AS c) t
      |  WHERE c < floor(r.rate) OR
      |    ('0x' || substr(md5('tmix:' || d.doc_id || ':' || c), 1, 8))::BIGINT
      |      % 10000 < (r.rate - floor(r.rate)) * 10000)
      |SELECT source, tok, n_docs, rate, rate AS epochs,
      |  CAST(count(*) AS BIGINT) AS n_mixed,
      |  CAST(sum(n_chars) AS BIGINT) AS mixed_tok
      |FROM mixed
      |GROUP BY source, tok, n_docs, rate
      |ORDER BY source""".stripMargin

  /** C14 — LEAKAGE-SAFE train/val split: c2's stable hash-mod split
    * applied at NEAR-DUP CLUSTER granularity instead of per document.
    * The GPT-3 paper's post-hoc contamination analysis exists because
    * doc-level splits leak: two near-duplicate documents land on
    * opposite sides of the split and the eval measures memorization.
    * Splitting on the d6 cluster id (the component's min doc_id) makes
    * leakage impossible BY CONSTRUCTION — every near-dup pair shares a
    * component, hence a split — while keeping c2's stability
    * properties (hash-based, so re-runs, repartitioning, and
    * incremental appends never reshuffle assignments; a NEW near-dup
    * of an existing doc joins its cluster and inherits its split).
    *
    * The in-op require replays the guarantee against the d5 pair
    * relation itself (zero straddling pairs) — a regression tripwire
    * for the composition, not a data assumption.
    *
    * Scale shape: the cluster relation is d6's (session-shared,
    * edge-incident propagation only); the split is one scan-local
    * hash projection over it; the straddle audit joins the bounded
    * pair list to the labels twice by key. Nothing new shuffles the
    * corpus.
    */
  def c14LeakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    val lbl = c14Of(Dedup.d6ClustersShared(s, d))
    val pairs = Dedup.d5PairsShared(s, d).select("doc_a", "doc_b")
    val straddle = pairs
      .join(lbl.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        "doc_a")
      .join(lbl.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        "doc_b")
      .filter(col("sa") =!= col("sb"))
    require(straddle.isEmpty,
      "c14: a near-dup pair straddles the split - the cluster-level " +
        "assignment leaked")
    lbl.orderBy("doc_id")
  }

  /** The c14 labeling over any (doc_id, cluster_id, …) cluster
    * relation — factored for the spec's injected-corpus stability
    * drives. */
  private[graft] def c14Of(clusters: DataFrame): DataFrame =
    clusters
      .select(col("doc_id"), col("cluster_id"),
        pmod(md5Hash32(concat(lit("csplit:"), col("cluster_id"))),
          lit(100)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train").otherwise("val"))

  val c14Sql: String =
    s"""SELECT doc_id, cluster_id, bucket,
      |  CASE WHEN bucket < 90 THEN 'train' ELSE 'val' END AS split
      |FROM (
      |  SELECT doc_id, cluster_id,
      |    ('0x' || substr(md5('csplit:' || cluster_id), 1, 8))::BIGINT
      |      % 100 AS bucket
      |  FROM (${Dedup.d6CoreSql}) cl)
      |ORDER BY doc_id""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c14_leakage_safe_split" -> c14LeakageSafeSplit,
    "c9_dedup_weighted_sample" -> c9DedupWeightedSample,
    "c8_domain_pagerank" -> c8DomainPagerank,
    "c10_temperature_mix" -> c10TemperatureMix,
    "c7_relative_gate" -> c7RelativeGate,
    "c1_curation_decision" -> c1CurationDecision,
    "c1b_curation_dupinject" -> c1DupInject,
    "c2_train_split" -> c2TrainSplit,
    "c3_sequence_pack" -> c3SequencePack,
    "c4_decontaminate" -> c4Decontaminate,
    "c11_substring_decontam" -> c11SubstringDecontam,
    "c12_contamination_report" -> c12ContaminationReport,
    "c13_dsir_selection" -> c13DsirSelection,
    "c5_stratified_sample" -> c5StratifiedSample,
    "c6_domain_mix" -> c6DomainMix,
  )

  val oracle: Map[String, String] = Map(
    "c14_leakage_safe_split" -> c14Sql,
    "c10_temperature_mix" -> c10Sql,
    "c9_dedup_weighted_sample" -> c9Sql,
    "c8_domain_pagerank" -> c8Sql,
    "c7_relative_gate" -> c7Sql,
    "c1_curation_decision" -> c1Sql,
    "c1b_curation_dupinject" -> c1DupSql,
    "c2_train_split" -> c2Sql,
    "c3_sequence_pack" -> c3Sql,
    "c4_decontaminate" -> c4Sql,
    "c11_substring_decontam" -> c11Sql,
    "c12_contamination_report" -> c12Sql,
    "c13_dsir_selection" -> c13Sql,
    "c5_stratified_sample" -> c5Sql,
    "c6_domain_mix" -> c6Sql,
  )
}
