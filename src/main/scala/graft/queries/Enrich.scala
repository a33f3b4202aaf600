package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Enrichment / reshape operators: the alias-dimension broadcast join
  * (SURVEY J1 + F15/F17), groupBy-pivot reshaping (SURVEY §1.1 #3), and
  * JSON field extraction from the `events.props` payload column.
  */
object Enrich {

  /** E1 — team-alias-style canonicalization: messy name strings (upper
    * case, trailing `(n-7)` record suffixes — built deterministically from
    * `nation`) are cleaned (suffix strip F17, whitespace normalize F4) and
    * resolved against a broadcast alias dimension (J1). At scale the alias
    * dim is always bounded (≤ thousands of rows) — broadcast hash join,
    * the fact side never shuffles.
    */
  def e1AliasCanonicalize(s: SparkSession, d: String): DataFrame = {
    val messy = nation(s, d).select(col("n_nationkey"),
      concat(upper(col("n_name")),
        when(pmod(col("n_nationkey"), lit(3)) === 0,
          concat(lit(" ("), col("n_nationkey").cast("string"), lit("-7)")))
          .otherwise(lit(""))).as("raw_name"))
    val cleaned = messy.withColumn("cleaned",
      trim(regexp_replace(col("raw_name"), "\\s*\\([^)]*\\)\\s*$", "")))
    val aliasDim = nation(s, d)
      .select(upper(col("n_name")).as("alias"), col("n_name").as("canonical"))
    cleaned.join(broadcast(aliasDim), col("cleaned") === col("alias"), "left")
      .select(col("n_nationkey"), col("raw_name"), col("canonical"))
      .orderBy("n_nationkey")
  }

  val e1Sql: String =
    """WITH messy AS (
      |  SELECT n_nationkey,
      |    upper(n_name) || CASE WHEN n_nationkey % 3 = 0
      |      THEN ' (' || n_nationkey || '-7)' ELSE '' END AS raw_name
      |  FROM nation),
      |cleaned AS (
      |  SELECT n_nationkey, raw_name,
      |    trim(regexp_replace(raw_name, '\s*\([^)]*\)\s*$', '')) AS cleaned
      |  FROM messy),
      |alias_dim AS (SELECT upper(n_name) AS alias, n_name AS canonical FROM nation)
      |SELECT c.n_nationkey, c.raw_name, a.canonical
      |FROM cleaned c LEFT JOIN alias_dim a ON c.cleaned = a.alias
      |ORDER BY c.n_nationkey""".stripMargin

  /** E2 — groupBy + pivot: documents per (source × lang) as a wide table,
    * the relational form of the reference's `data[pos][timeframe]` cube
    * (SURVEY §1.1 #3). Pivot values are enumerated, so Spark skips the
    * extra distinct-values job (important at scale).
    */
  def e2PivotCube(s: SparkSession, d: String): DataFrame = {
    val langs = Seq("de", "en", "es", "zh")
    val p = documents(s, d)
      .groupBy(col("source"))
      .pivot("lang", langs)
      .agg(count(lit(1)))
    p.select(col("source") +: langs.map(l =>
        coalesce(col(l), lit(0L)).as(l)): _*)
      .orderBy("source")
  }

  val e2Sql: String =
    """SELECT source,
      |  count(*) FILTER (WHERE lang = 'de') AS de,
      |  count(*) FILTER (WHERE lang = 'en') AS en,
      |  count(*) FILTER (WHERE lang = 'es') AS es,
      |  count(*) FILTER (WHERE lang = 'zh') AS zh
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** E4 / SURVEY J2 — two-sided substring-containment match: re-find the
    * "game container" whose text mentions both entities — re-expressed as
    * a theta join of documents against a bounded keyword pair dimension.
    * Physical shape: BroadcastNestedLoopJoin with the keyword side built
    * (the only join type that can evaluate `contains` predicates); sound
    * at scale ONLY because the broadcast side is bounded — the fact side
    * still streams through once.
    */
  def e4ContainsJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Seq(("customer", "order"), ("supplier", "part"),
      ("join", "window"), ("stream", "batch")).toDF("kw1", "kw2")
    e4ContainsJoinGuarded(s, d, pairs, ContainsJoinCeilingRows)
  }

  /** Build-side ceiling for the e4 BNLJ, in rows. The binding constraint
    * is NOT broadcast bytes (a keyword dimension is tiny) — it is that a
    * nested-loop join evaluates every build row against every fact row,
    * so cost is |fact| × |dim| `contains` calls: at 10⁴ pairs that is
    * already ~10⁴ substring scans per document, the practical CPU edge.
    */
  private[queries] val ContainsJoinCeilingRows: Long = 10L * 1000

  /** The e4 core with the small-side bound ENFORCED at plan-build time
    * (r12 verdict "what's wrong" #2 — the t8 materialize-then-measure
    * discipline applied to the BNLJ build side). Unlike t8's vocab
    * join, a `contains` theta-join has NO shuffle fallback — there is
    * no key to hash on — so over the ceiling the only honest behaviors
    * are failing loudly or a different ALGORITHM (an inverted-index
    * pre-filter, which changes the operator). This guard fails loudly,
    * naming the rewrite. Both shapes are pinned in `ContainsGuardSpec`.
    */
  private[queries] def e4ContainsJoinGuarded(s: SparkSession, d: String,
      pairs: DataFrame, ceiling: Long): DataFrame = {
    val dim = pairs.localCheckpoint()
    val n = dim.count()
    if (n > ceiling)
      throw new IllegalStateException(
        s"e4_contains_join: keyword dimension has $n rows, over the " +
          s"nested-loop build ceiling $ceiling; a contains theta-join has " +
          "no shuffle fallback - shrink the dimension or pre-filter " +
          "candidates with an inverted token index before the join")
    documents(s, d)
      .join(broadcast(dim),
        col("text").contains(col("kw1")) && col("text").contains(col("kw2")))
      .groupBy(col("kw1"), col("kw2"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy("kw1", "kw2")
  }

  val e4Sql: String =
    """SELECT kw1, kw2, count(*) AS n_docs, min(doc_id) AS first_doc
      |FROM documents
      |JOIN (VALUES ('customer','order'), ('supplier','part'),
      |      ('join','window'), ('stream','batch')) AS kw(kw1, kw2)
      |  ON contains(text, kw1) AND contains(text, kw2)
      |GROUP BY kw1, kw2 ORDER BY kw1, kw2""".stripMargin

  /** The e6 keyword-pair dimension: e4's four pairs plus four more,
    * including a zero-match side (`supplier` is not in the corpus
    * vocabulary) and prefix-sharing keywords (`sort`/`sor…`,
    * `scan`/`sca…`) so the gram index is exercised on collisions. */
  private[graft] val e6Pairs: Seq[(String, String)] = Seq(
    ("customer", "order"), ("supplier", "part"), ("join", "window"),
    ("stream", "batch"), ("scan", "merge"), ("sort", "table"),
    ("vector", "query"), ("filter", "column"))

  /** E6 — the inverted-index REWRITE of the contains theta-join: the
    * different-algorithm escape hatch e4's nested-loop ceiling names.
    * `contains(text, kw)` implies text carries kw's leading 3-gram, so
    * candidates come from an EQUI-join of an exploded (doc_id, 3-gram)
    * index against the keywords' prefix grams, then the exact two-sided
    * `contains` predicate verifies candidates — a strict superset
    * filter, so the rewrite is result-identical to e4's direct join
    * (the oracle replays the direct join; `InvertedContainsSpec`
    * cross-validates against the in-engine BNLJ and runs e6 at 2500×
    * e4's ceiling).
    *
    * Scale shape: per-doc gram emission is pruned MAP-SIDE by a
    * broadcast semi-join against the bounded needle-gram set before
    * anything shuffles, so the index stream carries only candidate
    * hits; every join thereafter is a hash equi-join. Cost is
    * |docs|·|text| gram probes + |candidates| verifications instead of
    * |docs|·|pairs| substring scans — the keyword dimension can grow
    * unbounded (it is never a nested-loop build side), which is exactly
    * what the e4 guard cannot allow. At 100 TB the (doc_id, gram) index
    * is persisted once (the d8/s8 incremental-index discipline) and
    * candidate generation is a pruned scan of it.
    */
  def e6InvertedContains(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    e6InvertedContainsOver(s, d, e6Pairs.toDF("kw1", "kw2"))
  }

  private[graft] def e6InvertedContainsOver(s: SparkSession, d: String,
      pairs: DataFrame): DataFrame =
    e6Of(documents(s, d), pairs)

  /** The e6 core on ANY (doc_id, text) frame — frame-parameterized for
    * [[graft.tools.ScaleHeadroom]]. */
  private[graft] def e6Of(docs0: DataFrame, pairs: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"), col("text"))
    val dim = pairs.localCheckpoint()
    require(dim.filter(length(col("kw1")) < 3).isEmpty,
      "e6_inverted_contains: every kw1 needs >= 3 chars to contribute " +
        "a candidate 3-gram - shorter keywords need a direct scan (e4)")
    val needles = dim.select(substring(col("kw1"), 1, 3).as("gram")).distinct()
    val gramIndex = docs.select(col("doc_id"),
        explode(expr(
          "CASE WHEN length(text) >= 3 THEN transform(" +
            "sequence(1, length(text) - 2), i -> substring(text, i, 3)) " +
            "ELSE array() END")).as("gram"))
      .join(broadcast(needles), Seq("gram"), "left_semi")
      .distinct()
    val cands = gramIndex
      .join(broadcast(dim), col("gram") === substring(col("kw1"), 1, 3))
      .select(col("doc_id"), col("kw1"), col("kw2"))
    val out = cands
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .filter(col("text").contains(col("kw1")) &&
        col("text").contains(col("kw2")))
      .groupBy(col("kw1"), col("kw2"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    val materialized = out.localCheckpoint()
    val plan = out.queryExecution.executedPlan.toString
    require(!plan.contains("BroadcastNestedLoop"),
      "e6: candidate generation degenerated to a nested-loop join - " +
        "the rewrite exists to keep every join an equi-join")
    materialized.orderBy("kw1", "kw2")
  }

  val e6Sql: String = {
    val values = e6Pairs
      .map { case (a, b) => s"(${sqlLitDuck(a)}, ${sqlLitDuck(b)})" }
      .mkString(", ")
    s"""SELECT kw1, kw2, count(*) AS n_docs, min(doc_id) AS first_doc
      |FROM documents
      |JOIN (VALUES $values) AS kw(kw1, kw2)
      |  ON contains(text, kw1) AND contains(text, kw2)
      |GROUP BY kw1, kw2 ORDER BY kw1, kw2""".stripMargin
  }

  /** E3 — JSON payload extraction: pull a typed field out of the string
    * JSON `props` column (codegen'd path expression, no UDF), aggregate
    * per event type.
    */
  def e3JsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))
      .orderBy("event_type")

  val e3Sql: String =
    """SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS k_sum,
      |  min(k) AS k_min, max(k) AS k_max
      |FROM (SELECT event_type, json_extract_string(props, '$.k')::INT AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Raw team-name variants exercising every stage of the full F15/F16
    * pipeline: direct alias forms (full name, city, abbreviation, mascot),
    * period-stripping, record-suffix stripping, the mascot-strip RETRY
    * (trailing unknown word, and a double-space form that only resolves
    * after the strip), order-sensitive bare LOS ANGELES, and an
    * unresolvable name (null canonical — the validator path).
    */
  private val teamForms = Seq(
    "Chicago Bulls", "GOLDEN STATE", "BKN", "Mavs", "L.A. Lakers",
    "Boston Celtics (10-5)", "CLEVELAND CAVALIERS FANS", "LOS ANGELES",
    "Utah  Jazz", "Phoenix Suns Basketball", "UNKNOWN SQUAD", "Raptors (3-2)")

  /** E5 / F15 full path — [[graft.enrich.Teams.canonicalize]] end-to-end
    * under the oracle: normalize → alias-map lookup → mascot-strip
    * retry lookup → stateful LA disambiguation
    * (`DEFENSEVSPOSTION.PY:162-188`), over deterministic raw names cycled
    * from `customer`. The oracle replays the identical alias dimension
    * (generated from [[graft.enrich.Teams.aliases]] — single source of
    * truth) and the same two-stage lookup in SQL.
    */
  def e5TeamCanonicalize(s: SparkSession, d: String): DataFrame = {
    val raw = customer(s, d).select(
      col("c_custkey").as("row_idx"),
      expr("element_at(array(" +
        teamForms.map(sqlLitSpark).mkString(", ") +
        "), cast(c_custkey % 12 as int) + 1)").as("raw_name"),
      expr("element_at(array('PG','SG','SF','PF','C'), " +
        "cast(c_custkey % 5 as int) + 1)").as("position"),
      expr("CASE WHEN c_custkey % 2 = 0 THEN 'season' ELSE 'l10' END")
        .as("timeframe"))
    graft.enrich.Teams.canonicalize(raw, "raw_name")
      .select("row_idx", "raw_name", "position", "timeframe", "canonical")
      .orderBy("row_idx")
  }

  /** The [[graft.enrich.Teams.canonicalize]] pipeline (normalize →
    * alias join → mascot-strip retry → order-sensitive LA fix) as a
    * DuckDB query over any `raw` CTE exposing `rawCol` plus
    * position/timeframe/row_idx — single SQL source for e5 and the
    * i4 DvP-scan oracle so the two can never drift.
    */
  private[queries] def canonicalizeSqlOver(rawCte: String, rawCol: String,
      outCols: String, orderBy: String): String = {
    val dim = graft.enrich.Teams.aliases
      .map { case (a, c) => s"(${sqlLitDuck(a)}, ${sqlLitDuck(c)})" }
      .mkString(",\n    ")
    s"""WITH dim(alias, canonical_dim) AS (VALUES
      |    $dim),
      |raw AS ($rawCte),
      |normed AS (
      |  SELECT *, trim(regexp_replace(regexp_replace(upper($rawCol),
      |    '\\.', '', 'g'), '\\s*\\([^)]*\\)\\s*$$', '')) AS norm
      |  FROM raw),
      |joined AS (
      |  SELECT n.*, d.canonical_dim,
      |    regexp_replace(n.norm, '\\s+\\S+$$', '') AS stripped
      |  FROM normed n LEFT JOIN dim d ON n.norm = d.alias),
      |retried AS (
      |  SELECT j.*, r.canonical_dim AS canonical_retry
      |  FROM joined j LEFT JOIN dim r
      |    ON j.canonical_dim IS NULL AND j.stripped = r.alias),
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY position, timeframe, (norm = 'LOS ANGELES')
      |    ORDER BY row_idx) AS la_rank
      |  FROM retried)
      |SELECT $outCols,
      |  CASE WHEN norm = 'LOS ANGELES'
      |    THEN CASE WHEN la_rank = 1 THEN 'LA Lakers' ELSE 'LA Clippers' END
      |    ELSE coalesce(canonical_dim, canonical_retry) END AS canonical
      |FROM ranked ORDER BY $orderBy""".stripMargin
  }

  val e5Sql: String = {
    val forms = teamForms.map(sqlLitDuck).mkString(", ")
    canonicalizeSqlOver(
      s"""
      |  SELECT c_custkey AS row_idx,
      |    [$forms][CAST(c_custkey % 12 AS INT) + 1] AS raw_name,
      |    ['PG','SG','SF','PF','C'][CAST(c_custkey % 5 AS INT) + 1] AS position,
      |    CASE WHEN c_custkey % 2 = 0 THEN 'season' ELSE 'l10' END AS timeframe
      |  FROM customer""".stripMargin,
      "raw_name",
      "row_idx, raw_name, position, timeframe",
      "row_idx")
  }

  // ---- E7: blocked fuzzy join (entity resolution) --------------------

  /** E7 — entity resolution by blocking + edit distance: dirty catalog
    * strings are resolved back to a canonical entity dimension without
    * ever scoring all pairs. The entity universe is the distinct
    * (name, brand, type) combination (canonical id = its min partkey);
    * the dirty feed is derived the data-reachable way (the c1b/d16/o14
    * injection discipline): every 5th part's entity string gets ONE
    * character replaced by `#` at position `partkey % len`.
    *
    * Blocking is the whole scale story, and it is the Wu–Manber
    * k+1-piece partitioning rule at k=1: each string splits into its
    * two HALVES, keyed (length, half-id, content). One substitution
    * preserves length and cannot touch both halves, so the true
    * entity shares the intact half's block with its corruption BY
    * CONSTRUCTION — guaranteed recall with exactly two probes per
    * side (edit distance k takes k+1 pieces, same plan shape).
    * Scoring `levenshtein ≤ 2` runs only inside blocks; the winner is
    * the (dist, entity_id) struct-min — deterministic in any engine —
    * and `n_best` reports how many entities tied at the best
    * distance, the honest ambiguity signal a real ER pipeline carries
    * ("Customer#…" digit flips make silent ties; reporting them beats
    * guessing).
    *
    * Scale shape: both sides hash-partition by block key (no
    * all-pairs, no broadcast — either side can be huge), and block
    * width is "entities sharing a verbatim half-string" — a
    * catalog-combinatorial quantity. This design was MEASURED into
    * existence: (length, affix-4) keys put the whole corpus-linear
    * weight of the low-entropy type suffix ("…ECONOMY") into single
    * blocks — 26.8× cost at 10× data, the d12-class quadratic — and
    * a capped affix-4→8 escalation (6.4× at 10×) still left
    * wide-by-acceptance blocks at 100×; half-partitioning removes the
    * low-entropy key entirely instead of patching its heat. A
    * pathologically shared half would take d2's cap-and-forfeit
    * discipline. Two map-side-combined aggregations pick winner and
    * ties.
    */
  def e7BlockedFuzzyJoin(s: SparkSession, d: String): DataFrame =
    e7Of(part(s, d).select(col("p_partkey"),
      concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"))
        .as("entity")))

  /** The e7 core over any (p_partkey, entity) frame — also the
    * scale-headroom entry point. */
  /** Entities per block above which the block escalates to the longer
    * affix. The cap is what keeps candidate generation LINEAR in the
    * limit: a fixed-cardinality affix key ("…ECONOMY") otherwise grows
    * its block width with the corpus, and width × queries is a
    * quadratic term — the d12-class scale-killer, measured at 26.8×
    * for 10× data before the escalation existed. */
  def e7Of(withEnt: DataFrame): DataFrame = {
    val ent = withEnt.groupBy(col("entity"))
      .agg(min(col("p_partkey")).as("entity_id"))
    val qs = withEnt.filter(col("p_partkey") % 5 === 0)
      .select(col("p_partkey").as("q_id"),
        expr("concat(substring(entity, 1, cast(p_partkey % length(entity) as int)), '#', " +
          "substring(entity, cast(p_partkey % length(entity) as int) + 2, length(entity)))")
          .as("q"))
    // Partition blocking (the Wu–Manber k+1-piece rule at k=1): split
    // every string into its two HALVES; one substitution cannot touch
    // both, so the intact half's (length, half-id, content) key is a
    // guaranteed-recall block. An entire half-string is also maximally
    // discriminating for a two-key scheme: block width is bounded by
    // "entities sharing a verbatim half" — a CATALOG-combinatorial
    // quantity, not the corpus-linear width of a short low-entropy
    // affix ("…ECONOMY"), which is what made the first two designs
    // superlinear under enlargement (affix-4: 26.8× at 10×; affix-4→8
    // capped escalation: 6.4× at 10× but wide-by-acceptance digit
    // blocks at 100×). A pathologically shared half would take d2's
    // cap-and-forfeit discipline; nothing in this catalog (or its
    // tagged enlargement) approaches it.
    def blocked(f: DataFrame, c: String): DataFrame = f
      .withColumn("bk", explode(array(
        expr(s"concat(length($c), ':h1:', " +
          s"substring($c, 1, (length($c) + 1) div 2))"),
        expr(s"concat(length($c), ':h2:', " +
          s"substring($c, (length($c) + 1) div 2 + 1, length($c)))"))))
    val cand = blocked(qs, "q")
      .join(blocked(ent, "entity"), "bk")
      .select(col("q_id"), col("q"), col("entity"), col("entity_id"))
      .distinct()
    val scored = cand
      .withColumn("dist", levenshtein(col("q"), col("entity")).cast("long"))
      .filter(col("dist") <= 2)
      .localCheckpoint() // feeds winner-pick AND tie-count
    val best = scored.groupBy(col("q_id"))
      .agg(min(struct(col("dist"), col("entity_id"), col("entity"))).as("b"))
    scored.join(best, "q_id")
      .filter(col("dist") === col("b.dist"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_best"), min(col("b")).as("b"))
      .select(col("q_id").as("q_partkey"), col("b.entity_id").as("entity_id"),
        col("b.entity").as("matched_entity"), col("b.dist").as("best_dist"),
        col("n_best"))
      .orderBy("q_partkey")
  }

  val e7Sql: String =
    s"""WITH we AS (
      |  SELECT p_partkey, p_name || ' ' || p_brand || ' ' || p_type AS entity
      |  FROM part),
      |ent AS (
      |  SELECT entity, min(p_partkey) AS entity_id FROM we GROUP BY entity),
      |q AS (
      |  SELECT p_partkey AS q_id,
      |    substring(entity, 1, CAST(p_partkey % length(entity) AS INT))
      |      || '#' ||
      |      substring(entity, CAST(p_partkey % length(entity) AS INT) + 2,
      |        length(entity)) AS q
      |  FROM we WHERE p_partkey % 5 = 0),
      |eb AS (
      |  SELECT entity, entity_id,
      |    length(entity) || ':h1:' ||
      |      substring(entity, 1, (length(entity) + 1) // 2) AS bk FROM ent
      |  UNION ALL
      |  SELECT entity, entity_id,
      |    length(entity) || ':h2:' ||
      |      substring(entity, (length(entity) + 1) // 2 + 1, length(entity))
      |  FROM ent),
      |qb AS (
      |  SELECT q_id, q,
      |    length(q) || ':h1:' ||
      |      substring(q, 1, (length(q) + 1) // 2) AS bk FROM q
      |  UNION ALL
      |  SELECT q_id, q,
      |    length(q) || ':h2:' ||
      |      substring(q, (length(q) + 1) // 2 + 1, length(q)) FROM q),
      |cand AS (
      |  SELECT DISTINCT q_id, q, entity, entity_id
      |  FROM qb JOIN eb USING (bk)),
      |scored AS (
      |  SELECT q_id, entity, entity_id,
      |    CAST(levenshtein(q, entity) AS BIGINT) AS dist
      |  FROM cand WHERE levenshtein(q, entity) <= 2),
      |agg AS (SELECT q_id, min(dist) AS best_dist FROM scored GROUP BY q_id)
      |SELECT s.q_id AS q_partkey,
      |  min(s.entity_id) AS entity_id,
      |  arg_min(s.entity, s.entity_id) AS matched_entity,
      |  min(s.dist) AS best_dist,
      |  CAST(count(*) AS BIGINT) AS n_best
      |FROM scored s JOIN agg a ON s.q_id = a.q_id AND s.dist = a.best_dist
      |GROUP BY s.q_id
      |ORDER BY q_partkey""".stripMargin

  /** E8 — the blocked fuzzy join at edit distance k=2 (r15 verdict
    * carry: e7's half-partitioning guarantees recall only for ONE
    * substitution; a 2-edit corruption can touch both halves and
    * vanish from every block). The Wu–Manber rule generalizes: k+1
    * pieces for k edits — split every string into THIRDS, keyed
    * (length, piece-id, content). Two substitutions cannot touch all
    * three pieces, so the true entity shares an intact third's block
    * with its corruption BY CONSTRUCTION — guaranteed recall with
    * three probes per side, same plan shape as e7.
    *
    * The dirty feed is the injection discipline at k=2: every 5th
    * part's entity gets TWO characters replaced (`#` at
    * `partkey % (len div 2)`, `%` exactly `len div 2` later — both
    * length-preserving, positions distinct by construction), so the
    * true match sits at distance exactly 2, past e7's single-edit
    * guarantee. `FuzzyJoinSpec` pins a hand-built 2-edit corruption
    * whose two edits land in two DIFFERENT thirds being recovered
    * through the remaining intact one.
    *
    * Scale shape: identical to e7 — both sides hash-partition by
    * block key (no all-pairs, no broadcast), block width is "entities
    * sharing a verbatim third" (a shorter shared string than e7's
    * half, so blocks are somewhat wider — the price of the stronger
    * guarantee; `ScaleHeadroom` re-measures the width growth at 10×),
    * scoring runs only inside blocks, and winner/tie selection is the
    * same two map-side-combined aggregations.
    */
  def e8FuzzyJoinK2(s: SparkSession, d: String): DataFrame =
    e8Of(part(s, d).select(col("p_partkey"),
      concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"))
        .as("entity")))

  /** The e8 core over any (p_partkey, entity) frame. */
  def e8Of(withEnt: DataFrame): DataFrame = {
    val ent = withEnt.groupBy(col("entity"))
      .agg(min(col("p_partkey")).as("entity_id"))
    // two substitutions at 0-based p1 = partkey % (len div 2) and
    // p2 = p1 + len div 2: p1 < p2 < len by construction, length kept
    val p1 = "cast(p_partkey % (length(entity) div 2) as int)"
    val half = "cast(length(entity) div 2 as int)"
    val qs = withEnt.filter(col("p_partkey") % 5 === 0)
      .select(col("p_partkey").as("q_id"),
        expr(s"concat(substring(entity, 1, $p1), '#', " +
          s"substring(entity, $p1 + 2, $half - 1), '%', " +
          s"substring(entity, $p1 + $half + 2, length(entity)))").as("q"))
    // three-piece partition blocking: [1, L/3], (L/3, 2L/3], (2L/3, L]
    def blocked(f: DataFrame, c: String): DataFrame = f
      .withColumn("bk", explode(array(
        expr(s"concat(length($c), ':t1:', " +
          s"substring($c, 1, length($c) div 3))"),
        expr(s"concat(length($c), ':t2:', " +
          s"substring($c, length($c) div 3 + 1, " +
          s"(2 * length($c)) div 3 - length($c) div 3))"),
        expr(s"concat(length($c), ':t3:', " +
          s"substring($c, (2 * length($c)) div 3 + 1, length($c)))"))))
    val cand = blocked(qs, "q")
      .join(blocked(ent, "entity"), "bk")
      .select(col("q_id"), col("q"), col("entity"), col("entity_id"))
      .distinct()
    val scored = cand
      .withColumn("dist", levenshtein(col("q"), col("entity")).cast("long"))
      .filter(col("dist") <= 2)
      .localCheckpoint() // feeds winner-pick AND tie-count
    val best = scored.groupBy(col("q_id"))
      .agg(min(struct(col("dist"), col("entity_id"), col("entity"))).as("b"))
    scored.join(best, "q_id")
      .filter(col("dist") === col("b.dist"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_best"), min(col("b")).as("b"))
      .select(col("q_id").as("q_partkey"), col("b.entity_id").as("entity_id"),
        col("b.entity").as("matched_entity"), col("b.dist").as("best_dist"),
        col("n_best"))
      .orderBy("q_partkey")
  }

  val e8Sql: String =
    s"""WITH we AS (
      |  SELECT p_partkey, p_name || ' ' || p_brand || ' ' || p_type AS entity
      |  FROM part),
      |ent AS (
      |  SELECT entity, min(p_partkey) AS entity_id FROM we GROUP BY entity),
      |q AS (
      |  SELECT p_partkey AS q_id,
      |    substring(entity, 1, CAST(p_partkey % (length(entity) // 2) AS INT))
      |      || '#' ||
      |      substring(entity,
      |        CAST(p_partkey % (length(entity) // 2) AS INT) + 2,
      |        CAST(length(entity) // 2 AS INT) - 1)
      |      || '%' ||
      |      substring(entity,
      |        CAST(p_partkey % (length(entity) // 2) AS INT)
      |          + CAST(length(entity) // 2 AS INT) + 2,
      |        length(entity)) AS q
      |  FROM we WHERE p_partkey % 5 = 0),
      |eb AS (
      |  SELECT entity, entity_id, length(entity) || ':t1:' ||
      |    substring(entity, 1, length(entity) // 3) AS bk FROM ent
      |  UNION ALL
      |  SELECT entity, entity_id, length(entity) || ':t2:' ||
      |    substring(entity, length(entity) // 3 + 1,
      |      (2 * length(entity)) // 3 - length(entity) // 3) FROM ent
      |  UNION ALL
      |  SELECT entity, entity_id, length(entity) || ':t3:' ||
      |    substring(entity, (2 * length(entity)) // 3 + 1, length(entity))
      |  FROM ent),
      |qb AS (
      |  SELECT q_id, q, length(q) || ':t1:' ||
      |    substring(q, 1, length(q) // 3) AS bk FROM q
      |  UNION ALL
      |  SELECT q_id, q, length(q) || ':t2:' ||
      |    substring(q, length(q) // 3 + 1,
      |      (2 * length(q)) // 3 - length(q) // 3) FROM q
      |  UNION ALL
      |  SELECT q_id, q, length(q) || ':t3:' ||
      |    substring(q, (2 * length(q)) // 3 + 1, length(q)) FROM q),
      |cand AS (
      |  SELECT DISTINCT q_id, q, entity, entity_id
      |  FROM qb JOIN eb USING (bk)),
      |scored AS (
      |  SELECT q_id, entity, entity_id,
      |    CAST(levenshtein(q, entity) AS BIGINT) AS dist
      |  FROM cand WHERE levenshtein(q, entity) <= 2),
      |agg AS (SELECT q_id, min(dist) AS best_dist FROM scored GROUP BY q_id)
      |SELECT s.q_id AS q_partkey,
      |  min(s.entity_id) AS entity_id,
      |  arg_min(s.entity, s.entity_id) AS matched_entity,
      |  min(s.dist) AS best_dist,
      |  CAST(count(*) AS BIGINT) AS n_best
      |FROM scored s JOIN agg a ON s.q_id = a.q_id AND s.dist = a.best_dist
      |GROUP BY s.q_id
      |ORDER BY q_partkey""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e7_blocked_fuzzy_join" -> e7BlockedFuzzyJoin,
    "e8_fuzzy_join_k2" -> e8FuzzyJoinK2,
    "e1_alias_canonicalize" -> e1AliasCanonicalize,
    "e2_pivot_cube" -> e2PivotCube,
    "e3_json_extract" -> e3JsonExtract,
    "e4_contains_join" -> e4ContainsJoin,
    "e5_team_canonicalize" -> e5TeamCanonicalize,
    "e6_inverted_contains" -> e6InvertedContains,
  )

  val oracle: Map[String, String] = Map(
    "e7_blocked_fuzzy_join" -> e7Sql,
    "e8_fuzzy_join_k2" -> e8Sql,
    "e1_alias_canonicalize" -> e1Sql,
    "e2_pivot_cube" -> e2Sql,
    "e3_json_extract" -> e3Sql,
    "e4_contains_join" -> e4Sql,
    "e5_team_canonicalize" -> e5Sql,
    "e6_inverted_contains" -> e6Sql,
  )
}
