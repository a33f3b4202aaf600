package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.table.Snapshot

/** The reference's flagship §3.3 DvP lifecycle certified as ONE query
  * (r9 verdict ask #7): every stage is individually oracle-green
  * elsewhere (i4 ingest+canonicalize, f1 coercion, e1/e5 alias join +
  * LA window, a8/a9 validation, e2 pivot) — this row chains them so the
  * HANDOFFS are certified too: the pivot consumes exactly what
  * canonicalization emits, the validators run over the same relation
  * the cube aggregates, and one hash covers the whole flow.
  */
object EndToEnd {

  /** E2E — dvp_raw ingest → guarded numeric clean → alias join + LA
    * window → A8/A9 validation → pivot, as a single relation: one cube
    * row per (canonical team, position) with both timeframes as
    * columns, plus the three validation verdicts every row carries
    * (missing expected teams, empty grid cells, groups off the 30-team
    * contract — all 0 on a healthy scrape, and part of the hash, so a
    * regression in any stage flips the row set or the verdict columns).
    *
    * Scale shape: the alias dim and validation grids are bounded
    * broadcasts (30 teams × positions × timeframes); the only shuffle
    * of the full data is the canonicalization window + the pivot
    * group-by, both keyed by (position, timeframe)-grade columns; the
    * 1-row validation aggregates crossJoin onto the bounded cube.
    */
  def e2eDvpPipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val raw = graft.ingest.Readers.dvpRaw(s, Ingest.dvpFixture)
    // F1 clean: the stat column arrives as strings; the guard decides
    // from global stats (all-numeric here) and casts
    val cleaned = graft.clean.Clean.guardedNumericCoercion(raw, Seq("pts"))
    // four consumers (the cube, A8, the A9 grid and the A9 contract):
    // canonicalize the fixture once, not its scan and LA window per
    // consumer
    val canon = graft.enrich.Teams.canonicalize(cleaned, "team_raw")
      .select(col("position"), col("timeframe"), col("row_idx"),
        col("canonical"), col("pts"))
      .localCheckpoint()

    val expected = graft.enrich.Teams.canonicalTeams.toDF("team")
    // A8: expected teams that never appear
    val missing = graft.validate.Validate
      .missingKeys(expected, canon.select("canonical"), "team", "canonical")
      .agg(count(lit(1)).as("n_missing_teams"))
    // A9: empty cells of the position × timeframe × team grid
    val emptyCells = graft.validate.Validate
      .emptyGridCells(
        Seq(canon.select("position").distinct(),
          canon.select("timeframe").distinct(),
          expected.select(col("team").as("canonical"))),
        canon, Seq("position", "timeframe", "canonical"))
      .agg(count(lit(1)).as("n_empty_cells"))
    // A9 contract: per-(position, timeframe) distinct-team count = 30
    val badGroups = graft.validate.Validate
      .groupsWithWrongDistinctCount(
        canon, Seq("position", "timeframe"), "canonical", 30)
      .agg(count(lit(1)).as("n_bad_groups"))

    // §3.3 cube: timeframes pivot to columns; max() not first() — each
    // (team, position, timeframe) holds one row, and max stays
    // deterministic if a scrape ever double-reports
    canon.groupBy(col("canonical"), col("position"))
      .pivot("timeframe", Seq("2025-26", "Last 7"))
      .agg(max(col("pts")))
      .withColumnRenamed("2025-26", "pts_season")
      .withColumnRenamed("Last 7", "pts_last7")
      .crossJoin(broadcast(missing))
      .crossJoin(broadcast(emptyCells))
      .crossJoin(broadcast(badGroups))
      .orderBy("canonical", "position")
  }

  val e2eSql: String = {
    val teams = graft.enrich.Teams.canonicalTeams
      .map(t => s"(${sqlLitDuck(t)})").mkString(",\n    ")
    val canonSql = Enrich.canonicalizeSqlOver(
      s"""
        |  SELECT position, timeframe, row_idx, team_raw,
        |    TRY_CAST(pts AS DOUBLE) AS pts
        |  FROM read_json('${Ingest.dvpFixture}',
        |    format='newline_delimited')""".stripMargin,
      "team_raw",
      "position, timeframe, row_idx, pts",
      "row_idx")
    s"""WITH canon AS ($canonSql),
      |teams(team) AS (VALUES
      |    $teams),
      |missing AS (
      |  SELECT count(*) AS n_missing_teams
      |  FROM teams t LEFT JOIN (SELECT DISTINCT canonical FROM canon) c
      |    ON c.canonical = t.team
      |  WHERE c.canonical IS NULL),
      |grid AS (
      |  SELECT p.position, f.timeframe, t.team
      |  FROM (SELECT DISTINCT position FROM canon) p,
      |       (SELECT DISTINCT timeframe FROM canon) f, teams t),
      |empty_cells AS (
      |  SELECT count(*) AS n_empty_cells
      |  FROM grid g LEFT JOIN
      |    (SELECT DISTINCT position, timeframe, canonical FROM canon) o
      |    ON o.position = g.position AND o.timeframe = g.timeframe
      |      AND o.canonical = g.team
      |  WHERE o.canonical IS NULL),
      |bad AS (
      |  SELECT count(*) AS n_bad_groups FROM (
      |    SELECT position, timeframe FROM canon
      |    GROUP BY 1, 2 HAVING count(DISTINCT canonical) <> 30)),
      |cube AS (
      |  SELECT canonical, position,
      |    max(CASE WHEN timeframe = '2025-26' THEN pts END) AS pts_season,
      |    max(CASE WHEN timeframe = 'Last 7' THEN pts END) AS pts_last7
      |  FROM canon GROUP BY 1, 2)
      |SELECT c.canonical, c.position, c.pts_season, c.pts_last7,
      |  m.n_missing_teams, e.n_empty_cells, b.n_bad_groups
      |FROM cube c CROSS JOIN missing m CROSS JOIN empty_cells e
      |CROSS JOIN bad b
      |ORDER BY c.canonical, c.position""".stripMargin
  }

  /** E2E-CUR — the training-data curation lifecycle as ONE relation
    * (the LLM-pipeline counterpart of [[e2eDvpPipeline]]): the c1
    * six-gate cascade runs in full, the DEDUP gates hard-drop (only
    * cluster-canonical, exact-unique docs survive to assembly — the
    * production rule), survivors get their c2 hash-stable split
    * assignment and c3's offset packing per (split, shard), and every
    * surviving row CARRIES its full cascade verdict (`reason`) — soft
    * gates (lang/quality/repetition/PII) ride along as the sampling
    * metadata real assemblers weight by rather than hard-dropping.
    * One hash covers all six gate decisions, the dedup survivorship,
    * the split assignment, and pack offsets shifted by every dropped
    * duplicate — the handoffs no per-operator row can see. (Hard-
    * dropping ALL gates here would keep 1 of 500 docs on this corpus —
    * a 1-row pack certifies nothing; survivorship is therefore pinned
    * to the dedup gates, with the rest in the hash via `reason`.)
    *
    * Scale shape: c1's six doc-keyed joins (session-shared clusters),
    * one md5-derived split expression (no shuffle), and c3's single
    * running-sum window now keyed by (split, shard) — still one
    * shuffle, 3 × 32 ≈ 96 independent window partitions.
    */
  /** e2e-cur pack budget: a small-context assembly target (512 tokens)
    * — c3's 2048 would leave every survivor shard inside pack 0 on this
    * corpus (~28 tokens/doc), making the packing handoff vacuous.
    */
  val e2eCurPackBudget = 512

  /** The full chain now carries the c6 domain mix between the split
    * and the pack (r11): TRAIN docs replicate per their source's
    * sampling weight (⌊w⌋ full copies + one salted-hash-gated
    * fractional copy — c6's exact contract, same salts), val/test stay
    * unreplicated (evaluation sets are never upsampled), and the
    * packer consumes the MIXED stream — copies count toward token
    * budgets exactly as a real pretraining batch assembly would. Row
    * identity becomes (doc_id, copy); the pack window orders by it.
    */
  def e2eCurationPipeline(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val survivors = Curation.c1CurationDecision(s, d)
      .filter(!col("reason").isin("exact_dup", "near_dup"))
      .select(col("doc_id"), col("reason"))
    val toks = documentsSpread(s, d).join(survivors, "doc_id")
      .select(col("doc_id"), col("source"), col("reason"),
        pmod(md5Hash32(concat(lit("split:"), col("doc_id"))), lit(100))
          .as("bucket"),
        // 4 shards, not c3's 32: shard count is sized to the corpus
        // (the dedup survivors are ~1/3 of it) so per-shard token mass
        // crosses pack boundaries and the packing handoff is
        // data-reachable, not vacuously pack 0
        pmod(col("doc_id"), lit(4)).as("shard"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .withColumn("split",
        when(col("bucket") < 98, "train")
          .when(col("bucket") === 98, "val").otherwise("test"))
    val srcN = expr("CAST(substring(source, 4) AS INT)")
    val mixed = toks
      .withColumn("mw",
        when(col("split") =!= "train", lit(1.0))
          .when(pmod(srcN, lit(4)) === 0, lit(2.5))
          .when(pmod(srcN, lit(4)) === 1, lit(1.0))
          .when(pmod(srcN, lit(4)) === 2, lit(0.5))
          .otherwise(lit(0.25)))
      .withColumn("copy",
        explode(expr("sequence(0, CAST(ceil(mw) AS INT) - 1)")))
      .filter(col("copy") < floor(col("mw")) ||
        pmod(md5Hash32(concat(lit("mix:"), col("doc_id"), lit(":"),
          col("copy"))), lit(10000)) <
          (col("mw") - floor(col("mw"))) * 10000)
    val w = Window.partitionBy(col("split"), col("shard"))
      .orderBy(col("doc_id"), col("copy"))
    mixed
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("copy"), col("reason"), col("split"),
        col("shard"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $e2eCurPackBudget").as("pack_id"))
      .orderBy("doc_id", "copy")
  }

  val e2eCurSql: String =
    s"""WITH c1 AS (${Curation.c1SqlOver("documents")}),
      |kept AS (SELECT doc_id, reason FROM c1
      |         WHERE reason NOT IN ('exact_dup', 'near_dup')),
      |t AS (
      |  SELECT d.doc_id, d.source, k.reason,
      |    ('0x' || substr(md5('split:' || d.doc_id), 1, 8))::BIGINT % 100
      |      AS bucket,
      |    d.doc_id % 4 AS shard,
      |    len(string_split_regex(trim(d.text), '\\s+')) AS n_tokens
      |  FROM documents d JOIN kept k USING (doc_id)),
      |t2 AS (
      |  SELECT doc_id, source, reason,
      |    CASE WHEN bucket < 98 THEN 'train'
      |         WHEN bucket = 98 THEN 'val' ELSE 'test' END AS split,
      |    shard, n_tokens FROM t),
      |t3 AS (
      |  SELECT *,
      |    CAST(CASE WHEN split <> 'train' THEN 1.0
      |      ELSE CASE CAST(substr(source, 4) AS INT) % 4
      |        WHEN 0 THEN 2.5 WHEN 1 THEN 1.0 WHEN 2 THEN 0.5
      |        ELSE 0.25 END END AS DOUBLE) AS mw
      |  FROM t2),
      |mixed AS (
      |  SELECT doc_id, reason, split, shard, n_tokens, c AS copy
      |  FROM t3, LATERAL (SELECT unnest(range(0,
      |    CAST(ceil(mw) AS BIGINT))) AS c)
      |  WHERE c < floor(mw)
      |    OR ('0x' || substr(md5('mix:' || doc_id || ':' || c), 1, 8))::BIGINT
      |      % 10000 < (mw - floor(mw)) * 10000)
      |SELECT doc_id, copy, reason, split, shard, n_tokens,
      |  CAST((sum(n_tokens) OVER (PARTITION BY split, shard
      |          ORDER BY doc_id, copy)
      |        - n_tokens) // $e2eCurPackBudget AS BIGINT) AS pack_id
      |FROM mixed ORDER BY doc_id, copy""".stripMargin

  /** E2E — the warehouse change-data family as ONE hash-compared chain
    * (r13 verdict ask #8): o9 SCD2 build → o10 MERGE apply → o11
    * incremental MV → o12 committed snapshot, certifying the HANDOFFS
    * the per-stage rows can't see:
    *
    *  - o9 → o10: the change-set's balances are rerouted THROUGH the
    *    SCD2 current rows (a user with purchase history upserts the
    *    value o9 says is current; only history-less users fall back to
    *    their latest event value) — a drifted history flips merged
    *    balances and the hash;
    *  - o12 → o10: the merge's base is v0 read BACK through the
    *    committed manifest (the restarted-job shape), not the in-memory
    *    frame;
    *  - o10/o11 → mart: the serving join attaches the incrementally
    *    maintained per-user metrics to exactly the merged snapshot —
    *    deleted users drop their MV row, inserted users carry theirs;
    *  - o12 again: the mart is committed as v1 and the RESULT is the
    *    read-back of that commit, so the parquet/manifest round trip is
    *    inside the hash.
    *
    * Verdict columns per row: `scd_versions` (history depth, 0 = no
    * purchase lineage) and `chg_op` ('U' applied / 'N' untouched;
    * deletes leave no row by construction).
    *
    * Scale shape: every stage keeps its own certified shape (one
    * user-keyed window, one full-outer merge shuffle, map-side-combined
    * MV merge, metadata-only commits); the chain adds two bounded
    * snapshot writes and three user-keyed left joins.
    */
  def e2eWarehousePipeline(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_e2ewh_")
    try {
      val base = customer(s, d).select(col("c_custkey").as("cust_id"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))
      Warehouse.o12Commit(dir.toString, 0, base)
      val ev = events(s, d)
      val scd = Warehouse.o9Of(ev)
      val current = scd.filter(col("is_current") === 1)
        .select(col("user_id").as("cust_id"), col("value").as("cur_value"))
      val latest = Warehouse.o10ChangesOf(ev)
      val chg = latest.join(current, Seq("cust_id"), "left")
        .select(col("cust_id"), col("op"),
          coalesce(col("cur_value"), col("new_bal")).as("new_bal"))
      val merged = Warehouse.o10Apply(
        Snapshot.read(s, dir.toString, 0), chg)
      val mv = Warehouse.o11IncrementalAgg(s, d)
        .withColumnRenamed("user_id", "cust_id")
        .select(col("cust_id"), col("n_events"), col("total_value"),
          col("avg_value"))
      val scdN = scd.groupBy(col("user_id").as("cust_id"))
        .agg(max(col("version")).as("scd_versions"))
      val mart = merged
        .join(mv, Seq("cust_id"), "left")
        .join(scdN, Seq("cust_id"), "left")
        .join(latest.select(col("cust_id"), col("op")), Seq("cust_id"), "left")
        .select(col("cust_id"), col("segment"), col("bal"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("total_value"), col("avg_value"),
          coalesce(col("scd_versions"), lit(0L)).as("scd_versions"),
          coalesce(col("op"), lit("N")).as("chg_op"))
      Warehouse.o12Commit(dir.toString, 1, mart)
      Snapshot.read(s, dir.toString, 1)
        .orderBy("cust_id").localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val e2eWhSql: String =
    s"""WITH scd AS (${Warehouse.o9CoreSql}),
      |${Warehouse.o10ChgSql},
      |cur AS (SELECT user_id AS cust_id, value AS cur_value
      |        FROM scd WHERE is_current = 1),
      |chg2 AS (
      |  SELECT c.cust_id, c.op,
      |    coalesce(cur.cur_value, c.new_bal) AS new_bal
      |  FROM chg c LEFT JOIN cur USING (cust_id)),
      |base AS (
      |  SELECT c_custkey AS cust_id, c_mktsegment AS segment,
      |    c_acctbal AS bal
      |  FROM customer),
      |merged AS (
      |  SELECT coalesce(b.cust_id, c.cust_id) AS cust_id,
      |    coalesce(b.segment, 'UNKNOWN') AS segment,
      |    CASE WHEN c.op = 'U' THEN c.new_bal ELSE b.bal END AS bal
      |  FROM base b FULL JOIN chg2 c ON b.cust_id = c.cust_id
      |  WHERE c.op IS NULL OR c.op = 'U'),
      |mv AS (${Warehouse.o11CoreSql}),
      |scdn AS (SELECT user_id AS cust_id, max(version) AS scd_versions
      |         FROM scd GROUP BY user_id)
      |SELECT m.cust_id, m.segment, m.bal,
      |  coalesce(v.n_events, 0) AS n_events,
      |  v.total_value, v.avg_value,
      |  coalesce(sn.scd_versions, 0) AS scd_versions,
      |  coalesce(c.op, 'N') AS chg_op
      |FROM merged m
      |LEFT JOIN mv v ON v.user_id = m.cust_id
      |LEFT JOIN scdn sn ON sn.cust_id = m.cust_id
      |LEFT JOIN chg c ON c.cust_id = m.cust_id
      |ORDER BY m.cust_id""".stripMargin

  // ---- E2E dedup: the three-granularity dedup cascade ---------------

  /** est-Jaccard bar for the chain's doc-level near-dup stage. 0.75
    * (12 of 16 minhashes) leaves a robust quantization margin on BOTH
    * sides: injected near-clones estimate ~15/16, injected quotes ≤
    * ~0.6 — d3's default 0.5 bar sits inside the thin-quote band and a
    * 1/16-step estimate would flip verdicts doc-by-doc. */
  private[queries] val E2eDedupTau = 0.75

  /** E2E — the training-data dedup cascade at its three granularities
    * chained over ONE corpus, the way a crawl pipeline actually runs
    * them: (1) d1's exact content-hash dedup, (2) d3's MinHash-LSH
    * doc-level near-dup (keep-lowest-id), (3) d16's paragraph-level
    * edit, with documents reduced below half their words declared
    * `paragraph_thin`. Every stage is individually oracle-green
    * elsewhere; this row certifies the HANDOFFS — stage 2 fingerprints
    * exactly the stage-1 survivors, stage 3 edits exactly the stage-2
    * survivors, and one hash covers every document's verdict.
    *
    * All four verdict classes are data-reachable via the established
    * injection discipline, each derived to be invisible to the OTHER
    * stages: exact clones (%13) differ in nothing; near-clones (%17)
    * append one unique token (hash differs, est-Jaccard ~15/16);
    * partial re-posts (%19, ≥48 words) quote two grid-aligned
    * segments inside mostly-novel text (reversed-tail filler shares
    * words but no 3-grams, so stage-2 Jaccard stays far under
    * [[E2eDedupTau]]) and survive EDITED; thin re-posts (%23, ≥24
    * words) are a header plus three quoted segments — stage 2 still
    * misses them (J ≈ 0.5 < 0.75) but stage 3 strips them below the
    * half-words bar. `DedupChainSpec` pins class-by-class outcomes.
    *
    * Scale shape: the union of the three stages' own shapes — a
    * content-hash groupBy, the banded signature self-join, and the
    * segment-hash groupBy-min — each map-side combined, plus
    * id-keyed survivor anti-joins between stages.
    */
  def e2eDedupPipeline(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val withW = base.withColumn("w", split(trim(col("text")), "\\s+"))
    val ec = base.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + lit(4000000000L)).as("doc_id"), col("text"))
    val nc = base.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + lit(5000000000L)).as("doc_id"),
        concat(col("text"), lit(" zz"), col("doc_id")).as("text"))
    val pq = withW.filter(col("doc_id") % 19 === 0 && size(col("w")) >= 48)
      .select((col("doc_id") + lit(6000000000L)).as("doc_id"),
        concat_ws(" ", concat(lit("rs"), col("doc_id")),
          lit("share forward copy via feed link post"),
          array_join(slice(col("w"), 1, 16), " "),
          array_join(reverse(expr("slice(w, size(w) - 23, 24)")), " "))
          .as("text"))
    val tq = withW.filter(col("doc_id") % 23 === 0 && size(col("w")) >= 24)
      .select((col("doc_id") + lit(7000000000L)).as("doc_id"),
        concat_ws(" ", concat(lit("rt"), col("doc_id")),
          lit("share forward copy via feed link post"),
          array_join(slice(col("w"), 1, 24), " ")).as("text"))
    val corpus = base.unionByName(ec).unionByName(nc).unionByName(pq)
      .unionByName(tq)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .localCheckpoint() // feeds all three stages + the final assembly
    // stage 1: exact. st1 feeds TWO consumers (the dup list and the
    // survivor slice) inside one final action — materialized once, or
    // the hash groupBy+join runs twice (no cross-branch subtree reuse)
    val keep1 = corpus.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"))
    val st1 = corpus.withColumn("h", md5(col("text"))).join(keep1, "h")
      .localCheckpoint()
    val exactDups = st1.filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("keeper").as("e_dup"))
    val surv1 = st1.filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("text"))
    // stage 2: doc-level near-dup over stage-1 survivors. nearDups also
    // feeds two consumers (the stage-3 survivor anti-join and the final
    // verdict join) — materialized so the banded self-join runs once
    val nearDups = Dedup
      .minhashLsh(Dedup.shingleSetsPlain(surv1).localCheckpoint())
      .filter(col("est_jaccard") >= E2eDedupTau)
      .groupBy(col("doc_b").as("doc_id")).agg(min(col("doc_a")).as("n_dup"))
      .localCheckpoint()
    val surv2 = surv1.join(nearDups.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    // stage 3: paragraph-level edit over stage-2 survivors, one row per
    // document. Materialized so the returned frame does not keep d16's
    // segment-hash broadcast join alive: a broadcast relation keyed on a
    // string holds at least one Tungsten page however small its keys
    val stats = Dedup.d16StatsOf(surv2)
      .select(col("doc_id"), col("kept_words"))
      .localCheckpoint()
    corpus
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"))
      .join(exactDups, Seq("doc_id"), "left")
      .join(nearDups, Seq("doc_id"), "left")
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        when(col("e_dup").isNotNull, lit("exact_dup"))
          .when(col("n_dup").isNotNull, lit("near_dup"))
          .when(col("kept_words") * 2 < col("n_words"),
            lit("paragraph_thin"))
          .otherwise(lit("kept")).as("verdict"),
        coalesce(col("e_dup"), col("n_dup"), lit(-1L)).as("dup_of"),
        coalesce(col("kept_words"), lit(-1L)).as("kept_words"))
      .orderBy("doc_id")
  }

  val e2eDedupSql: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents),
      |ww AS (SELECT doc_id, text,
      |       string_split_regex(trim(text), '\\s+') AS w FROM base),
      |ec AS (SELECT doc_id + 4000000000 AS doc_id, text FROM base
      |       WHERE doc_id % 13 = 0),
      |nc AS (SELECT doc_id + 5000000000 AS doc_id,
      |         text || ' zz' || CAST(doc_id AS VARCHAR) AS text
      |       FROM base WHERE doc_id % 17 = 0),
      |pq AS (SELECT doc_id + 6000000000 AS doc_id,
      |         'rs' || CAST(doc_id AS VARCHAR) ||
      |         ' share forward copy via feed link post ' ||
      |         array_to_string(list_slice(w, 1, 16), ' ') || ' ' ||
      |         array_to_string(
      |           list_reverse(list_slice(w, len(w) - 23, len(w))), ' ')
      |           AS text
      |       FROM ww WHERE doc_id % 19 = 0 AND len(w) >= 48),
      |tq AS (SELECT doc_id + 7000000000 AS doc_id,
      |         'rt' || CAST(doc_id AS VARCHAR) ||
      |         ' share forward copy via feed link post ' ||
      |         array_to_string(list_slice(w, 1, 24), ' ') AS text
      |       FROM ww WHERE doc_id % 23 = 0 AND len(w) >= 24),
      |corpus AS MATERIALIZED (
      |  SELECT doc_id, text FROM base
      |  UNION ALL SELECT doc_id, text FROM ec
      |  UNION ALL SELECT doc_id, text FROM nc
      |  UNION ALL SELECT doc_id, text FROM pq
      |  UNION ALL SELECT doc_id, text FROM tq),
      |keep1 AS (SELECT md5(text) AS h, min(doc_id) AS keeper
      |          FROM corpus GROUP BY md5(text)),
      |st1 AS MATERIALIZED (
      |  SELECT c.doc_id, c.text, k.keeper
      |  FROM corpus c JOIN keep1 k ON md5(c.text) = k.h),
      |edups AS (SELECT doc_id, keeper AS e_dup FROM st1
      |          WHERE doc_id <> keeper),
      |surv1 AS MATERIALIZED (
      |  SELECT doc_id, text FROM st1 WHERE doc_id = keeper),
      |${Dedup.d3PairsSqlOver("surv1")},
      |ndups AS MATERIALIZED (
      |  SELECT doc_b AS doc_id, min(doc_a) AS n_dup
      |  FROM pairs3 WHERE est_jaccard >= $E2eDedupTau
      |  GROUP BY doc_b),
      |surv2 AS MATERIALIZED (
      |  SELECT s.doc_id, s.text FROM surv1 s
      |  WHERE s.doc_id NOT IN (SELECT doc_id FROM ndups)),
      |${Dedup.d16StatsSqlOver("surv2")}
      |SELECT c.doc_id,
      |  CAST(len(string_split_regex(trim(c.text), '\\s+')) AS BIGINT)
      |    AS n_words,
      |  CASE WHEN e.e_dup IS NOT NULL THEN 'exact_dup'
      |       WHEN n.n_dup IS NOT NULL THEN 'near_dup'
      |       WHEN p.kept_words * 2 <
      |         len(string_split_regex(trim(c.text), '\\s+'))
      |         THEN 'paragraph_thin'
      |       ELSE 'kept' END AS verdict,
      |  coalesce(e.e_dup, n.n_dup, -1) AS dup_of,
      |  coalesce(p.kept_words, -1) AS kept_words
      |FROM corpus c
      |LEFT JOIN edups e USING (doc_id)
      |LEFT JOIN ndups n USING (doc_id)
      |LEFT JOIN pstats16 p USING (doc_id)
      |ORDER BY c.doc_id""".stripMargin

  /** The audit-stage language whitelist — the documents table's full
    * domain, so only the injected mutation can violate it. */
  private val E2eIngKnownLangs = Seq("de", "en", "es", "fr", "zh")

  /** E2E — the ingest lifecycle under one hash (r16 verdict ask #3):
    * the round-16 pieces chained exactly as the i10 scaladoc names the
    * composition —
    *
    *  1. **i10 quarantine-tolerant landing**: the corpus staged as
    *     corruption-planted JSONL, permissive-parsed, landed durably,
    *     split into parsed rows and parse-quarantined raw lines with
    *     best-effort key recovery ([[Ingest.i10Land]]).
    *  2. **o14 write-audit-publish**: the parsed side gated by named
    *     constraints (`chk_lang_known`, `chk_nchars_positive` — clean
    *     synthetic docs violate nothing, so violations are injected
    *     the data-reachable way: `doc_id % 11 = 5` mangles the lang,
    *     `% 9 = 4` negates n_chars), valid + audit-quarantined rows
    *     STAGED to dot-dirs, the staged files audited (row
    *     conservation + the valid side re-checked from what was
    *     written), then published by atomic rename.
    *  3. **o12 snapshot commit**: the published valid side committed
    *     as v0 of a snapshot table and read back STRICTLY through the
    *     manifest — the published relation in the result is what a
    *     downstream reader actually resolves, not the in-memory frame.
    *
    * Every input row exits with exactly one per-stage verdict
    * (`quarantined_parse` / `quarantined_audit` / `published`) and its
    * violation list; the in-op requires pin the two lifecycle
    * invariants the spec also drives: the quarantine ledger reconciles
    * to the input row count, and no quarantined key ever reaches the
    * published snapshot.
    *
    * Scale shape: stage 1 is one corpus-linear permissive parse (zero
    * pre-landing shuffles); stage 2's constraints are scan-local
    * codegen'd predicates feeding two filtered writes off ONE
    * materialization; stage 3 is a metadata commit. The only
    * non-linear work in the whole chain is the final presentation
    * sort.
    */
  def e2eIngestPipeline(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_e2eing_")
    try {
      val docs = documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val nIn = docs.count()
      // -- stage 1: quarantine-tolerant JSONL landing (i10) --
      val landed = Ingest.i10Land(s, docs, s"$dir/land")
      val parseQ = landed.filter(col("_corrupt_record").isNotNull)
        .select(
          coalesce(col("doc_id"),
            regexp_extract(col("_corrupt_record"), "\"doc_id\":(\\d+)", 1)
              .cast("long")).as("doc_id"),
          lit("").as("lang"), lit(-1L).as("n_chars"),
          lit("quarantined_parse").as("status"), lit("").as("violations"))
        .localCheckpoint()
      val parsed = landed.filter(col("_corrupt_record").isNull)
        .select("doc_id", "lang", "n_chars")
      // -- stage 2: write-audit-publish (o14 shape) --
      val mut = parsed.select(col("doc_id"),
        when(col("doc_id") % 11 === 5, lit("zz"))
          .otherwise(col("lang")).as("lang"),
        when(col("doc_id") % 9 === 4, -col("n_chars"))
          .otherwise(col("n_chars")).as("n_chars"))
      def violationsOf(rows: DataFrame): DataFrame = rows
        .withColumn("violations", concat_ws(",",
          when(!col("lang").isin(E2eIngKnownLangs: _*),
            lit("chk_lang_known")),
          when(col("n_chars") <= 0, lit("chk_nchars_positive"))))
      val checked = violationsOf(mut).localCheckpoint()
      val stagedV = Paths.get(dir.toString, ".valid.staging")
      val stagedQ = Paths.get(dir.toString, ".quarantine.staging")
      checked.filter(col("violations") === "").drop("violations")
        .write.parquet(stagedV.toString)
      checked.filter(col("violations") =!= "")
        .write.parquet(stagedQ.toString)
      val vBack = s.read.parquet(stagedV.toString)
      val qBack = s.read.parquet(stagedQ.toString)
      require(vBack.count() + qBack.count() == checked.count(),
        "e2e-ing audit: staged rows must conserve the parsed input")
      require(violationsOf(vBack).filter(col("violations") =!= "").isEmpty,
        "e2e-ing audit: a staged valid row re-failed its constraints")
      val pubV = Paths.get(dir.toString, "valid")
      val pubQ = Paths.get(dir.toString, "quarantine")
      require(stagedV.toFile.renameTo(pubV.toFile) &&
        stagedQ.toFile.renameTo(pubQ.toFile),
        "e2e-ing: publish rename failed")
      // -- stage 3: snapshot commit; readers resolve the manifest --
      val table = s"$dir/table"
      Files.createDirectories(Paths.get(table))
      Warehouse.o12Commit(table, 0, s.read.parquet(pubV.toString))
      val published = Snapshot.read(s, table, 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          lit("published").as("status"), lit("").as("violations"))
      val auditQ = s.read.parquet(pubQ.toString)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          lit("quarantined_audit").as("status"), col("violations"))
      // lifecycle invariants: the ledger reconciles to the input row
      // count, and no quarantined key reaches the published snapshot
      require(published.count() + auditQ.count() + parseQ.count() == nIn,
        "e2e-ing: the quarantine ledger does not reconcile to the input")
      require(published.join(
          parseQ.select("doc_id").unionByName(auditQ.select("doc_id")),
          Seq("doc_id"), "left_semi").isEmpty,
        "e2e-ing: a quarantined key reached the published snapshot")
      published.unionByName(auditQ).unionByName(parseQ)
        .orderBy("doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val e2eIngSql: String =
    """WITH landed AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 7 THEN ''
      |         WHEN doc_id % 11 = 5 THEN 'zz' ELSE lang END AS lang,
      |    CAST(CASE WHEN doc_id % 10 = 7 THEN -1
      |         WHEN doc_id % 9 = 4 THEN -n_chars
      |         ELSE n_chars END AS BIGINT) AS n_chars,
      |    doc_id % 10 = 7 AS pq
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, lang, n_chars, pq,
      |    CASE WHEN pq THEN '' ELSE concat_ws(',',
      |      CASE WHEN lang NOT IN ('de', 'en', 'es', 'fr', 'zh')
      |        THEN 'chk_lang_known' END,
      |      CASE WHEN n_chars <= 0 THEN 'chk_nchars_positive' END)
      |    END AS violations
      |  FROM landed)
      |SELECT doc_id, lang, n_chars,
      |  CASE WHEN pq THEN 'quarantined_parse'
      |       WHEN violations <> '' THEN 'quarantined_audit'
      |       ELSE 'published' END AS status,
      |  violations
      |FROM v ORDER BY doc_id""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e2e_ingest_pipeline" -> e2eIngestPipeline,
    "e2e_dedup_pipeline" -> e2eDedupPipeline,
    "e2e_dvp_pipeline" -> e2eDvpPipeline,
    "e2e_curation_pipeline" -> e2eCurationPipeline,
    "e2e_warehouse_pipeline" -> e2eWarehousePipeline,
  )

  val oracle: Map[String, String] = Map(
    "e2e_ingest_pipeline" -> e2eIngSql,
    "e2e_dedup_pipeline" -> e2eDedupSql,
    "e2e_dvp_pipeline" -> e2eSql,
    "e2e_curation_pipeline" -> e2eCurSql,
    "e2e_warehouse_pipeline" -> e2eWhSql,
  )
}
