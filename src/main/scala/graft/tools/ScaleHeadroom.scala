package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.plans.GraftExtensions
import graft.queries.{Curation, Dedup, Similarity}

/** Scale-headroom measurement (r8 verdict #5): time the candidate-
  * generation family — d2 n-gram Jaccard, d3 MinHash+LSH, d5 SimHash
  * pairs, s2 sign-LSH, c4 decontamination — on the base corpus vs a
  * synthetically enlarged one, and report the time-growth ratio per
  * operator. The banding/df-cap math says each is near-linear in corpus
  * size; this converts the assertion into measured data.
  *
  * Enlargement model: `copies` shifted copies of the corpus where every
  * copy's words are TAGGED with the copy index (`regexp_replace` word
  * prefix), so copies share no shingles with each other or the base —
  * i.e. genuinely NEW content with the same length/shape distribution,
  * the honest model of "10× more crawl data". (Clone-based enlargement
  * — the ScaleHeadroomSpec corpus — grows duplicate DENSITY
  * quadratically instead, which measures output-size growth, not
  * operator scaling.) Embeddings enlarge by rotating each vector by
  * `copy` positions: norm-preserving, different sign pattern, so no
  * cross-copy LSH collisions by construction. The c4 bench side stays
  * the base benches (production shape: eval sets don't grow with the
  * crawl).
  *
  * Round 10 extends the harness to the COMPOSITE operators (r9 verdict
  * ask #3): d6 clustering (star contraction + pointer-jumped
  * propagation over the d5 pair relation — the JSON line also records
  * the convergence round count, which must stay O(log diameter), not
  * grow with corpus size), the full c1 curation cascade, and the
  * s4 IVF probe; plus the AQE skew-join proof (ask #8 stretch): the
  * t8 token×vocab join SHAPE run as a deliberate SHUFFLE join over a
  * power-law-keyed fact table (the test corpus's own vocabulary is too
  * uniform to skew — see the in-line note), with AQE skew splitting on
  * vs off at 10× — records whether the final plan actually split
  * ("skewed" AQEShuffleRead) and what the split saves.
  *
  * Output: one JSON line per (operator, scale) with wall seconds (min
  * over `reps`), plus a final summary line with the growth ratios and
  * the sub-quadratic verdict per operator (ratio < copies² — and the
  * near-linear target is ratio ≈ copies).
  *
  * Usage: `sbt "runMain graft.tools.ScaleHeadroom /root/testdata/sf0.1 10 2"`
  * Optional 4th arg: comma-list of op names to run (default: all).
  */
object ScaleHeadroom {

  private def enlargeDocs(base: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { i =>
      if (i == 0) base
      else base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"c$i$$1").as("text"))
    }.reduce(_ unionByName _)

  /** Tagged enlargement carrying the full c1 input schema: copies'
    * texts are word-tagged (no cross-copy shingles), n_chars recomputed
    * for the retagged text, lang carried from the source row.
    */
  private def enlargeDocsFull(base: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { i =>
      if (i == 0) base
      else base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"c$i$$1").as("text"),
        col("lang"),
        length(regexp_replace(col("text"), "(\\S+)", s"c$i$$1"))
          .cast("long").as("n_chars"))
    }.reduce(_ unionByName _)

  private def enlargeEmb(base: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { i =>
      // rotation index wraps at the dimension (64); copies ≥ 64 reuse a
      // rotation with the SIGN flipped — 128 distinct norm-preserving
      // transforms, so no two copies share a vector for copies ≤ 128
      val r = i % 64
      val sgn = if ((i / 64) % 2 == 0) 1.0 else -1.0
      if (i == 0) base
      else base.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        transform(
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), lit(r + 1),
              size(col("embedding")) - lit(r)),
            slice(col("embedding"), lit(1), lit(r))),
          x => (x * lit(sgn)).cast("float")).as("embedding"))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.ensureRegistered(spark)
    val par = spark.sparkContext.defaultParallelism

    def docsAt(scale: Int): DataFrame = {
      val base = Tables.documents(spark, sfDir).select("doc_id", "text")
      enlargeDocs(base, scale).repartition(par, col("doc_id"))
    }
    def embAt(scale: Int): DataFrame = {
      val base = Tables.embeddings(spark, sfDir)
        .select("vec_id", "embedding")
      enlargeEmb(base, scale).repartition(par, col("vec_id"))
        .withColumn("nrm", sqrt(expr("graft_dot(embedding, embedding)")))
    }

    // fresh (non-shared-cache) shingle sets so each scale pays its own
    // shingling cost and nothing leaks across measurements
    def setsOf(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        array_distinct(expr(Tables.ngramsExpr("w", 3))).as("shingles"))

    def docsFullAt(scale: Int): DataFrame = {
      val base = Tables.documents(spark, sfDir)
        .select("doc_id", "text", "lang", "n_chars")
      enlargeDocsFull(base, scale).repartition(par, col("doc_id"))
    }

    // r12-family inputs (k1–k4 sketches, j5 salted join): words/keys
    // derive from the tagged doc copies (genuinely new tokens per
    // copy); lineitem prices shift by the copy index (new values, same
    // distribution); the events fact keeps its user_id space so the
    // hot-key DENSITY — the thing j5 exists for — is preserved while
    // volume grows, and the dim side stays fixed (production shape).
    def wordsAt(scale: Int): DataFrame = docsAt(scale)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    def wordsSrcAt(scale: Int): DataFrame = docsAt(scale)
      .select(pmod(col("doc_id"), lit(5)).cast("string").as("source"),
        explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    def keysAt(scale: Int): DataFrame = docsAt(scale)
      .select(col("doc_id"), md5(col("text")).as("key"))
    def priceAt(scale: Int): DataFrame = {
      val base = Tables.lineitem(spark, sfDir)
        .select(col("l_extendedprice").as("v"))
      (0 until scale).map { i =>
        if (i == 0) base else base.select((col("v") + lit(i.toDouble)).as("v"))
      }.reduce(_ unionByName _).repartition(par)
    }
    def eventsFactAt(scale: Int): DataFrame = {
      val base = Tables.events(spark, sfDir).select(
        when(expr("user_id % 10") < 7, lit(1L))
          .otherwise(col("user_id")).as("cust_id"),
        col("event_id"), col("value"))
      (0 until scale).map { i =>
        if (i == 0) base
        else base.select(col("cust_id"),
          (col("event_id") + lit(i * 1000000000L)).as("event_id"),
          col("value"))
      }.reduce(_ unionByName _).repartition(par)
    }
    val custDim = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("cust_id"),
        col("c_mktsegment").as("segment"))
    // r13 second-wave inputs
    def liAt(scale: Int): DataFrame = {
      val base = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_returnflag"))
      (0 until scale).map { i =>
        if (i == 0) base
        else base.select(
          (col("l_orderkey") + lit(i * 1000000000L)).as("l_orderkey"),
          col("l_extendedprice"), col("l_returnflag"))
      }.reduce(_ unionByName _).repartition(par)
    }
    val urgentDim = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    import spark.implicits._
    val e6PairsDf = graft.queries.Enrich.e6Pairs.toDF("kw1", "kw2")
    def dictAt(scale: Int): DataFrame = wordsAt(scale)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val custDimBal = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("cust_id"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))

    // r13-family input: full events shape with per-copy µs-shifted
    // timestamps — each copy contributes NEW (user, ts) change rows
    // (o9 versions and o10 ranking grow with volume) while the user key
    // space stays fixed (production shape: more history, same entities)
    def evFullAt(scale: Int): DataFrame = {
      val base = Tables.events(spark, sfDir).select(
        col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      (0 until scale).map { i =>
        if (i == 0) base
        else base.select(
          (col("event_id") + lit(i * 1000000000L)).as("event_id"),
          timestamp_micros(unix_micros(col("ts")) + lit(i.toLong)).as("ts"),
          col("user_id"), col("event_type"), col("value"))
      }.reduce(_ unionByName _).repartition(par)
    }

    val isBench = col("doc_id") % 100 === 0 && col("doc_id") < 1000000L
    val ops: Seq[(String, Int => DataFrame)] = Seq(
      // ---- r12 family (r12 verdict ask #7) ----
      // sketches: fixed-state aggregations — the whole point is that
      // state stays depth×width / groups×256 / 4096 bits / 128 bins as
      // data grows, so time should track the scan, ~linearly
      "k1_cms" -> (n => graft.queries.Sketches.k1Of(wordsAt(n))),
      "k2_hll" -> (n => graft.queries.Sketches.k2Of(wordsSrcAt(n))),
      "k3_bloom" -> (n => graft.queries.Sketches.k3Of(keysAt(n))),
      "k4_hist" -> (n => graft.queries.Sketches.k4Of(priceAt(n))),
      // salted skew join: fact volume grows, key space fixed (hot key
      // density preserved), dim fixed — the production skew shape
      "j5_salted_join" -> (n => graft.queries.Joins.j5Of(eventsFactAt(n), custDim)),
      // ---- r13 family ----
      // SCD2 build: change volume grows, entity space fixed — one
      // user-keyed shuffle + linear window chain per partition
      "o9_scd2" -> (n => graft.queries.Warehouse.o9Of(evFullAt(n))),
      // CDC merge: rank the growing change stream (data-sized window),
      // then one full-outer join against the FIXED dim snapshot
      "o10_merge" -> (n => graft.queries.Warehouse.o10Apply(custDimBal,
        graft.queries.Warehouse.o10ChangesOf(evFullAt(n)))),
      // built-in session_window (st15's batch twin): one shuffle on
      // (merged window, user); events per session grow, session count
      // stays entity-bounded
      "sw_sessions" -> (n =>
        graft.streaming.Sessionize.sessionWindowBatchOf(evFullAt(n))),
      // AQE runtime skew split over the j5 hot-key fact — in-memory
      // multi-mapper input, so split granularity is available; the
      // in-core require refuses if the split did not engage
      "j6_aqe_skew" -> (n => graft.queries.Joins.runAqeSkewJoinWithPlan(
        spark, eventsFactAt(n), custDim, skewEnabled = true)._1),
      // ---- r13 second-wave family ----
      // bloom runtime filter: fact volume grows (shifted order keys, so
      // copies never join), dim fixed — probe selectivity RISES with
      // scale, the production selective-dim shape; the in-core require
      // re-proves injection engages at every scale
      "j7_bloom_join" -> (n => graft.queries.Joins.j7BloomOf(spark,
        liAt(n), urgentDim)),
      // inverted-index contains join: tagged copies still CONTAIN the
      // base keywords (substring semantics), so candidates and matches
      // grow linearly with the corpus — index emission, semi-join
      // pruning, and verification are all data-linear
      "e6_inverted_contains" -> (n => graft.queries.Enrich.e6Of(docsAt(n),
        e6PairsDf)),
      // BPE training: the corpus-sized shuffle compresses to a word
      // dict; tagged copies mint NEW words, so the dict grows ~linearly
      // — the honest worst case (real crawls grow vocab sublinearly)
      "t10_bpe_train" -> (n => graft.queries.TextAnalysis.bpeTrainOver(
        spark, dictAt(n), 4)),
      // TF-IDF keywords: two corpus-linear shuffles + doc-keyed window
      "t11_tfidf" -> (n => graft.queries.TextAnalysis.t11Of(docsAt(n))),
      // incremental-agg partials: one map-side-combined groupBy over
      // the growing fact, fixed entity space (the o9/o10 frame)
      "o11_inc_agg" -> (n => graft.queries.Warehouse.o11Finalize(
        graft.queries.Warehouse.o11Merge(
          graft.queries.Warehouse.o11PartialsOf(evFullAt(n))))),
      // relative quality gate: score pass + envelope + 128-bin hist +
      // gate — all corpus-linear, sketch state fixed
      "c7_relative_gate" -> (n => graft.queries.Curation.c7Of(
        docsFullAt(n).withColumn("source",
          pmod(col("doc_id"), lit(5)).cast("string")))),
      // ---- r13 third-wave family ----
      // semantic dedup: corpus AND cluster count grow together (k ~ N,
      // the SemDeDup contract) so cluster width stays flat and the
      // pair stage stays linear; the measured superlinear term is the
      // brute-force O(N·k) seed assignment a production build replaces
      // with a hierarchical coarse quantizer
      "d12_semantic_dedup" -> (n => Dedup.d12Of(embAt(n), 8 * n)),
      // domain PageRank: tagged copies mint NEW sources (5 per copy)
      // sharing no shingles across copies — the graph grows as n
      // disjoint base-shaped components, nodes and edges both linear;
      // each rank iteration is one edge-keyed shuffle
      "c8_domain_pagerank" -> { n =>
        val docs = docsAt(n).select(col("doc_id"),
          concat(pmod(col("doc_id"), lit(5)), lit("_"),
            expr("doc_id div 1000000")).as("source"), col("text"))
        Curation.c8Over(setsOf(docs.select("doc_id", "text")),
          docs.select("doc_id", "source"))
      },
      // source drift: tagged copies mint new sources AND new words, so
      // postings grow linearly while the closed-form absent-word fold
      // keeps the computation posting-linear (never source×vocab)
      "t12_source_drift" -> { n =>
        graft.queries.TextAnalysis.t12Of(docsAt(n).select(
          col("doc_id"),
          concat(pmod(col("doc_id"), lit(5)), lit("_"),
            expr("doc_id div 1000000")).as("source"), col("text")))
      },
      "d2_ngram_jaccard" -> (n => Dedup.d2PairsOf(setsOf(docsAt(n)))),
      // substring dedup: tagged copies share no K-grams with the base
      // or each other, so grams/postings/pairs all grow linearly; the
      // df cap bounds every posting list exactly as in d2
      "d14_substring_dedup" -> (n => Dedup.d14Of(docsAt(n))),
      // reference-LM quality: copies keep their lang labels, so the
      // 'en' reference (and its bigram/unigram model tables) grows
      // linearly with the corpus; scoring is a doc-partitioned lag
      // window + two vocabulary-keyed joins, the cut fixed 128-bin
      // state at any scale
      "t14_lm_quality" -> { n =>
        val base = Tables.documents(spark, sfDir)
          .select("doc_id", "text", "lang")
        val docs = (0 until n).map { i =>
          if (i == 0) base
          else base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", s"c$i$$1").as("text"),
            col("lang"))
        }.reduce(_ unionByName _).repartition(par, col("doc_id"))
        graft.queries.TextAnalysis.t14Of(
          docs.select(col("doc_id"), col("lang"), col("text")))
      },
      // frozen-reference variant: the LM trains on the BASE 'en' slice
      // only (copies excluded), the production CCNet shape — model
      // tables stay constant-size as the scored corpus grows, so the
      // expected growth is the scan itself, near-linear (vs t14's
      // 7.13× where reference and vocabulary grow with the corpus)
      "t15_frozen_lm" -> { n =>
        val base = Tables.documents(spark, sfDir)
          .select("doc_id", "text", "lang")
        val docs = (0 until n).map { i =>
          if (i == 0) base
          else base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", s"c$i$$1").as("text"),
            col("lang"))
        }.reduce(_ unionByName _).repartition(par, col("doc_id"))
        graft.queries.TextAnalysis.lmQualityOver(
          docs.select(col("doc_id"), col("lang"), col("text")),
          col("lang") === "en" && col("doc_id") < 1000000L)
      },
      // paragraph dedup: tagged copies share no 8-word segments, so
      // the segment relation and the first-occurrence groupBy-min both
      // grow linearly; no window anywhere, so a hot segment is a
      // map-side-combined min, not a sort partition
      "d16_paragraph_dedup" -> (n => Dedup.d16Of(docsAt(n))),
      // blocked fuzzy join: the per-copy tag rewrites every token, so
      // both string HALVES (and the length) change — each copy
      // generation mints disjoint (length, half-id, half-string)
      // blocks. Block COUNT grows linearly while block width stays
      // flat - candidate pairs, the quadratic risk, stay linear by
      // construction
      "e7_blocked_fuzzy" -> { n =>
        val base = Tables.part(spark, sfDir).select(col("p_partkey"),
          concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"))
            .as("entity"))
        val ents = (0 until n).map { i =>
          if (i == 0) base
          else base.select(
            (col("p_partkey") + lit(i * 1000000L)).as("p_partkey"),
            regexp_replace(col("entity"), "(\\S+)", s"c$i$$1").as("entity"))
        }.reduce(_ unionByName _).repartition(par, col("p_partkey"))
        graft.queries.Enrich.e7Of(ents)
      },
      // k=2 three-piece variant: thirds are shorter shared strings
      // than halves, so blocks are somewhat wider — this measures what
      // the stronger guarantee costs under the same tagged enlargement
      "e8_fuzzy_k2" -> { n =>
        val base = Tables.part(spark, sfDir).select(col("p_partkey"),
          concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"))
            .as("entity"))
        val ents = (0 until n).map { i =>
          if (i == 0) base
          else base.select(
            (col("p_partkey") + lit(i * 1000000L)).as("p_partkey"),
            regexp_replace(col("entity"), "(\\S+)", s"c$i$$1").as("entity"))
        }.reduce(_ unionByName _).repartition(par, col("p_partkey"))
        graft.queries.Enrich.e8Of(ents)
      },
      // BPE train→apply: the measured cost includes training (the t10
      // dictionary rounds — tagged copies grow the dictionary ~n×) plus
      // the apply joins; apply itself is one corpus shuffle + a
      // vocabulary-sized join however many rules were learned
      "t13_bpe_apply" -> { n =>
        val docs = docsAt(n)
        val words = docs
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        val rules = graft.queries.TextAnalysis.bpeTrainOver(
            docs.sparkSession, words, 4)
          .orderBy("round").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        graft.queries.TextAnalysis.t13ApplyOver(docs, words, rules)
      },
      "d3_minhash_lsh" -> (n => Dedup.minhashLsh(setsOf(docsAt(n)))),
      "d5_simhash_pairs" -> (n => Dedup.d5PairsOf(docsAt(n))),
      "d9_simhash64_pairs" -> (n => Dedup.d9PairsOf(docsAt(n))),
      "s2_lsh_neardup" -> (n => Similarity.lshNearDup(embAt(n))),
      // d7 = s2's pair relation + two id-keyed source-dim joins; the
      // source column is synthesized id-stable (the join cost is
      // pair-output-bound, which is what this measures)
      "d7_embedding_neardup" -> { n =>
        val pairs = Similarity.lshNearDup(embAt(n))
        val src = embAt(n).select(col("vec_id"),
          pmod(col("vec_id"), lit(5)).cast("string").as("source"))
        pairs
          .join(src.select(col("vec_id").as("vec_a"),
            col("source").as("src_a")), "vec_a")
          .join(src.select(col("vec_id").as("vec_b"),
            col("source").as("src_b")), "vec_b")
          .select(col("vec_a"), col("vec_b"), col("cos_sim"),
            (col("src_a") =!= col("src_b")).as("cross_source"))
      },
      "c4_decontaminate" ->
        (n => Curation.decontaminateOf(setsOf(docsAt(n)), isBench)),
      // substring decontamination: bench side stays the base benches
      // (eval sets don't grow with the crawl); tagged copies share no
      // 13-grams with them, so the broadcast bench semi-join prunes
      // the growing train gram stream MAP-SIDE — every downstream
      // exchange stays bench-bounded while the scan grows linearly
      "c11_substring_decontam" -> (n => Curation.c11Of(docsAt(n),
        Curation.C11IsBench)),
      // c12 rides c11's run relation (same fixed-bench input model) and
      // adds only eval-set-sized merge windows — expected growth ≡ c11's.
      // The eval side is built from the base docs, off the enlarged
      // corpus's repartition (the copies carry no bench ids)
      "c12_contamination_report" -> (n => Curation.c12Of(
        new Curation.C11Bench(Tables.documents(spark, sfDir)
          .select("doc_id", "text").filter(Curation.C11IsBench)),
        docsAt(n).filter(!Curation.C11IsBench))),
      // DSIR selection with a FROZEN target (the t15 reasoning: the
      // trusted/target slice does not grow with the crawl) — the
      // p-side bucket counts stay constant, the q-side and the scoring
      // pass are corpus-linear scans against a broadcast 1024-row
      // weight table, and the cut is fixed 128-bin driver state
      "c13_dsir_selection" -> { n =>
        val base = Tables.documents(spark, sfDir)
          .select("doc_id", "text", "lang")
        val docs = (0 until n).map { i =>
          if (i == 0) base
          else base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", s"c$i$$1").as("text"),
            col("lang"))
        }.reduce(_ unionByName _).repartition(par, col("doc_id"))
        Curation.c13Of(docs.select(col("doc_id"), col("lang"), col("text")),
          col("lang") === "en" && col("doc_id") < 1000000L)
      },
      // ---- composite operators (r9 ask #3) ----
      // d6 = d5 pair generation + star-contraction clustering (the full
      // path a d6 run pays; d5-only is measured above, so the
      // clustering-only growth is the difference)
      "d6_neardup_clusters" -> (n => Dedup.neardupClustersOf(docsAt(n))),
      // c14 = d6's clustering + a scan-local hash projection + the
      // straddle audit's two keyed joins — the headroom should track
      // d6's within noise
      "c14_leakage_split" -> (n =>
        Curation.c14Of(Dedup.neardupClustersOf(docsAt(n)))),
      // s26 = one integer map-side energy aggregation (the 64-entry
      // permutation) + a projection ahead of the unchanged PQ encode —
      // should track s18_pq_encode within noise
      "s26_opq_encode" -> { n =>
        val e = embAt(n)
        Similarity.pqEncodeOf(
          Similarity.permuteEmb(e, Similarity.opqSnakePerm(e))
            .select("vec_id", "embedding"))
      },
      // d18 daily-crawl shape: the INDEX side is the fixed base corpus'
      // fingerprints (all-time history — it does not grow in this
      // model); only the NEW BATCH grows (n disjoint tagged copies).
      // Expected: near-linear in the batch — history costs the same
      // fixed fingerprint pass at both scales and its text is never
      // touched by the step
      "d18_incremental_step" -> { n =>
        val hist = Tables.documents(spark, sfDir).select("doc_id", "text")
        val batch = (1 to n).map { i =>
          hist.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", s"c$i$$1").as("text"))
        }.reduce(_ unionByName _).repartition(par, col("doc_id"))
        Dedup.d18IncrementalStep(Dedup.d4Simhash64Of(hist), batch)._1
      },
      // full six-gate curation cascade incl. its own clustering
      "c1_curation_cascade" -> { n =>
        val full = docsFullAt(n)
        Curation.decisionOf(full, full, Dedup.neardupClustersOf(
          full.select("doc_id", "text")))
      },
      // IVF build (broadcast-assign) + cell-keyed probe, nprobe=1
      "s4_ivf_probe" -> (n => Similarity.ivfTopKOf(embAt(n))),
      // PQ codebook build + full-corpus encode — the data-sized stage
      // of the s18/s19 pipeline (the ADC probe side is query-bounded)
      "s18_pq_encode" -> (n => Similarity.pqEncodeOf(embAt(n))),
      // m4 payload near-dup's data-sized stage: block shingles →
      // SimHash fold → format-keyed band pairs (the decode step is a
      // map-side pass, linear by construction; this measures the part
      // with a shuffle). Format synthesized from doc_id like the query.
      "m4_payload_pairs" -> { n =>
        graft.queries.Multimodal.m4PairsOf(docsAt(n).select(
          col("doc_id"),
          pmod(col("doc_id"), lit(3)).cast("string").as("format"),
          col("text").as("body")))
      })

    val opsFilter: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).toSet)
    val selected = ops.filter { case (n, _) =>
      opsFilter.forall(_.contains(n)) }

    // warm up session/codegen outside the timed region
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    docsAt(1).count(); embAt(1).count()

    val results = selected.map { case (name, f) =>
      def time(scale: Int): (Double, Long, Int) = {
        var rows = 0L
        val t = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          rows = f(scale).count()
          (System.nanoTime() - t0) / 1e9
        }.min
        (t, rows, graft.queries.Dedup.lastClusterRounds)
      }
      val (t1, r1, rounds1) = time(1)
      val (tn, rn, roundsN) = time(copies)
      val ratio = tn / t1
      val roundsJson =
        if (name.contains("cluster") || name.contains("cascade"))
          s""","base_rounds":$rounds1,"scaled_rounds":$roundsN"""
        else ""
      println(f"""{"op":"$name","base_sec":$t1%.2f,"scaled_sec":$tn%.2f,"scale":$copies,"ratio":$ratio%.2f,"base_rows":$r1,"scaled_rows":$rn$roundsJson}""")
      (name, t1, tn, ratio)
    }
    val verdicts = results.map { case (n, _, _, r) =>
      s""""$n":${f"$r%.2f"}"""
    }.mkString("{", ",", "}")
    val allSub = results.forall { case (_, _, _, r) =>
      r < copies.toDouble * copies }
    println(s"""{"metric":"scale_headroom","copies":$copies,"ratios":$verdicts,"all_subquadratic":$allSub}""")

    // ---- AQE skew-join proof (r9 ask #8 stretch) ----------------------
    // The t8 token×vocab join as a deliberate SHUFFLE join (broadcast
    // disabled) over CLONE-enlarged docs: the stopword keys grow with
    // the corpus, concentrating one shuffle partition per hot word.
    // Measured base vs 10× with AQE skew splitting ON, then 10× with it
    // OFF — the split must engage (a "skewed" AQEShuffleRead in the
    // final adaptive plan) and hold the ON time at or under the OFF
    // time. This pins that t8's broadcast-vocab choice is a preference,
    // not a crutch: the shuffle fallback stays viable at skew because
    // AQE re-plans it.
    if (opsFilter.forall(_.contains("powerlaw_skew_join"))) {
      // The TEST corpus cannot exhibit this shape honestly — its
      // synthetic vocabulary is ~40 words, near-uniform — so the skew
      // proof keys a deliberately power-law fact table (one "stopword"
      // key holding HALF the rows, the head a real crawl's token
      // distribution has) against a 100k-key dimension, the t8
      // token×vocab join shape at the skew a web corpus produces.
      def skewFrame(ss: SparkSession, scale: Int): DataFrame = {
        val n = 200000L * scale
        // xxhash64 payloads: incompressible, so shuffle-partition BYTES
        // track row counts — regular sequences compress away the very
        // size signal the skew detector reads
        val facts = ss.range(n).select(
          when(col("id") % 2 === 0, lit(0L))
            .otherwise(col("id") % 100000L).as("key"),
          pmod(xxhash64(col("id")), lit(1000000L)).as("value"))
        val dim = ss.range(100000L).select(col("id").as("key"),
          pmod(xxhash64(col("id"), lit(1)), lit(1000L)).as("weight"))
        facts.join(dim, "key") // no broadcast hint: deliberate shuffle
          .groupBy((col("key") % 32).as("g"))
          .agg(sum(col("value") * col("weight")).as("total"))
      }
      def timedRun(scale: Int, skewOn: Boolean): (Double, Boolean) =
        GraftSession.withConf(spark, Seq(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.skewJoin.enabled" -> skewOn.toString,
          // lowered thresholds: the default 256 MB skew floor is sized
          // for production shuffles; the synthetic fact table skews at MBs
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m")) { c =>
          var skewed = false
          val t = (1 to reps).map { _ =>
            val df = skewFrame(c, scale)
            val t0 = System.nanoTime()
            // collect THIS frame (32-row aggregate): a .count() would
            // execute a different QueryExecution and leave df's own
            // adaptive plan unfinalized, hiding the skew-read nodes
            df.collect()
            val dt = (System.nanoTime() - t0) / 1e9
            skewed = df.queryExecution.executedPlan.toString.contains("skewed")
            dt
          }.min
          (t, skewed)
        }
      val (tBase, _) = timedRun(1, skewOn = true)
      val (tOn, splitOn) = timedRun(copies, skewOn = true)
      val (tOff, _) = timedRun(copies, skewOn = false)
      println(f"""{"op":"powerlaw_skew_join","base_sec":$tBase%.2f,"scaled_sec":$tOn%.2f,"scale":$copies,"ratio":${tOn / tBase}%.2f,"skew_split_engaged":$splitOn,"scaled_noskew_sec":$tOff%.2f}""")
    }
    spark.stop()
  }
}
