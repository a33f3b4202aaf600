package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.table.{Snapshot, TableLog}

/** Warehouse maintenance operators: the two change-data shapes every
  * large dimensional pipeline runs — building a type-2 slowly-changing
  * dimension from a change stream (o9), and applying a CDC batch to a
  * keyed snapshot with MERGE semantics (o10). Neither exists in the
  * reference (its dims are scraped fresh each run); both are core to
  * operating the same data at warehouse scale, where "re-scrape
  * everything" stops being an option and history/idempotent-apply
  * become the contract.
  */
object Warehouse {

  /** O9 — SCD type-2 history build: each user's purchase stream becomes
    * versioned validity intervals — (value, valid_from, valid_to,
    * is_current), `valid_to` = next change's timestamp, open interval
    * surfaced as −1 (cross-engine null/dtype rules). Pre-aggregating
    * per (user, ts) makes the version sequence deterministic; the
    * interval chain is two window functions over ONE (user × ts) sort —
    * a single shuffle on user_id, linear per partition, the same
    * scale shape however many billions of change rows flow through.
    * `WarehouseSpec` pins the structural invariants (gapless
    * non-overlapping intervals, exactly one open version per user);
    * the oracle replays the windows relationally.
    */
  def o9Scd2History(s: SparkSession, d: String): DataFrame =
    o9Of(events(s, d)).orderBy("user_id", "version")

  /** The o9 core over any events-shaped change source — factored for
    * [[graft.tools.ScaleHeadroom]] (unordered; the query sorts).
    */
  private[graft] def o9Of(ev: DataFrame): DataFrame = {
    val upd = ev
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    upd
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"),
        unix_micros(col("ts")).as("valid_from_us"),
        coalesce(unix_micros(col("next_ts")), lit(-1L)).as("valid_to_us"),
        when(col("next_ts").isNull, lit(1)).otherwise(lit(0)).as("is_current"),
        col("value"))
  }

  /** The o9 replay WITHOUT the final ordering — shared with the e2e
    * warehouse chain so the two oracles cannot drift. */
  private[queries] val o9CoreSql: String =
    """WITH upd AS (
      |  SELECT user_id, ts, max(value) AS value
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, ts)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS BIGINT) AS version,
      |  epoch_us(ts) AS valid_from_us,
      |  coalesce(epoch_us(lead(ts) OVER w), -1) AS valid_to_us,
      |  CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current,
      |  value
      |FROM upd
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts)""".stripMargin

  val o9Sql: String = o9CoreSql + "\nORDER BY user_id, version"

  /** The o10 change-set: each user's LATEST event among
    * purchase/signup/error (ties impossible — (ts, event_id) is unique)
    * becomes one CDC row: `error` → delete, otherwise upsert of the
    * event's value as the new balance.
    */
  private[queries] def o10Changes(s: SparkSession, d: String): DataFrame =
    o10ChangesOf(events(s, d))

  private[graft] def o10ChangesOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev
      .filter(col("event_type").isin("purchase", "signup", "error"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id").as("cust_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
          .as("op"),
        col("value").as("new_bal"))
  }

  /** O10 — MERGE / CDC apply: one shuffle full-outer join of the keyed
    * base snapshot (customer) against the change-set, producing the next
    * snapshot — updates overwrite the balance, inserts surface keys the
    * base never had (segment `UNKNOWN`), deletes drop the row (and a
    * delete for an absent key is a no-op, the idempotent-merge edge
    * case). This is `MERGE INTO` semantics built from exchange
    * primitives: deterministic, no driver loops, and at 100 TB exactly
    * the shape a table-format merge executes under the hood (join
    * changes to base files, rewrite touched files) — with a format like
    * Delta/Iceberg the SAME change-set feeds the transactional variant.
    * `WarehouseSpec` pins the key algebra (result keys = base − deleted
    * + inserted) and that exactly the changed keys differ from the
    * base.
    */
  def o10MergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = customer(s, d).select(col("c_custkey").as("cust_id"),
      col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))
    o10Apply(base, o10Changes(s, d))
  }

  /** The merge core over any (cust_id, segment, bal) base and
    * (cust_id, op, new_bal) change-set — factored for the spec.
    */
  private[graft] def o10Apply(base: DataFrame, chg: DataFrame): DataFrame =
    base.join(chg, Seq("cust_id"), "full_outer")
      .filter(col("op").isNull || col("op") === "U")
      .select(col("cust_id"),
        coalesce(col("segment"), lit("UNKNOWN")).as("segment"),
        when(col("op") === "U", col("new_bal")).otherwise(col("bal"))
          .as("bal"))
      .orderBy("cust_id")

  /** The o10 change-set CTEs (ranked → chg) alone — shared with the
    * e2e warehouse chain, which reroutes the balances through the SCD2
    * current rows before merging. (The merged core below stays shared
    * between [[o10Sql]] and o12's versioned twin.) */
  private[queries] val o10ChgSql: String =
    """ranked AS (
      |  SELECT user_id AS cust_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE event_type IN ('purchase', 'signup', 'error')),
      |chg AS (
      |  SELECT cust_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    value AS new_bal
      |  FROM ranked WHERE rn = 1)""".stripMargin

  private[graft] val o10CoreSql: String =
    s"""WITH $o10ChgSql,
      |base AS (
      |  SELECT c_custkey AS cust_id, c_mktsegment AS segment,
      |    c_acctbal AS bal
      |  FROM customer)
      |SELECT coalesce(b.cust_id, c.cust_id) AS cust_id,
      |  coalesce(b.segment, 'UNKNOWN') AS segment,
      |  CASE WHEN c.op = 'U' THEN c.new_bal ELSE b.bal END AS bal
      |FROM base b FULL JOIN chg c ON b.cust_id = c.cust_id
      |WHERE c.op IS NULL OR c.op = 'U'""".stripMargin

  val o10Sql: String = o10CoreSql + "\nORDER BY cust_id"

  // ---- O11: incremental materialized-view maintenance ----------------

  /** Partial-aggregate state of the o11 view over any events slice:
    * per user, (count, exact decimal sum, min, max). Every component is
    * ALGEBRAIC — mergeable by re-aggregation — which is the entire
    * trick: `merge(partials(A) ∪ partials(B)) = partials(A ∪ B)`,
    * exactly (decimal addition is associative; min/max/count trivially
    * so). Pinned as a law in `IncrementalAggSpec`.
    */
  private[graft] def o11PartialsOf(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id")).agg(
      count(lit(1)).as("cnt"),
      sum(col("value").cast("decimal(18,6)")).cast("decimal(18,6)").as("sumv"),
      min(col("value")).as("minv"),
      max(col("value")).as("maxv"))

  /** Merge partial states (any number of slices' partials unioned). */
  private[graft] def o11Merge(partials: DataFrame): DataFrame =
    partials.groupBy(col("user_id")).agg(
      sum(col("cnt")).as("cnt"),
      sum(col("sumv")).cast("decimal(18,6)").as("sumv"),
      min(col("minv")).as("minv"),
      max(col("maxv")).as("maxv"))

  /** Finalize partial state into the user-facing view row. */
  private[graft] def o11Finalize(state: DataFrame): DataFrame =
    state.select(col("user_id"),
      col("cnt").as("n_events"),
      r6(col("sumv").cast("double")).as("total_value"),
      col("minv").as("min_value"),
      col("maxv").as("max_value"),
      r6(col("sumv").cast("double") / col("cnt")).as("avg_value"))

  /** O11 — incremental materialized-view maintenance: the aggregate
    * twin of o10's row-level MERGE. A per-user metrics rollup is
    * materialized from history as PARTIAL aggregate state (count /
    * exact decimal sum / min / max — all algebraic), and an appended
    * delta refreshes the view by aggregating ONLY the delta and
    * re-merging states — history is never rescanned. The harness
    * materializes the view at a ¾ event-id boundary, refreshes with
    * the remaining quarter, and the oracle recomputes the aggregate
    * over the FULL corpus — the hash certifies that state merging is
    * exactly equivalent to recomputation. `IncrementalAggSpec` pins
    * the mechanism on scan metrics (the refresh reads only delta rows
    * from the fact) and the merge law on arbitrary slicings.
    *
    * Scale shape: this is how a 100 TB rollup stays fresh — refresh
    * cost is O(delta) + O(|view|) instead of O(history), the exact
    * map-side-combine contract (k1–k4's sketch merges) applied to
    * plain SQL aggregates. Non-algebraic metrics (exact distinct,
    * median) need sketch state instead (k2's HLL registers, k4's bins)
    * — same merge discipline, bounded error.
    */
  def o11IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
    val boundary = 3L * (ev.agg(max(col("event_id"))).head().getLong(0) + 1) / 4
    val dir = java.nio.file.Files.createTempDirectory("graft_o11_")
    try {
      o11PartialsOf(ev.filter(col("event_id") < boundary))
        .write.parquet(s"$dir/view")
      val viewR = s.read.parquet(s"$dir/view")
      val deltaP = o11PartialsOf(ev.filter(col("event_id") >= boundary))
      val refresh = o11Finalize(o11Merge(viewR.unionByName(deltaP)))
      val out = refresh.localCheckpoint() // executes before dir cleanup
      val plan = refresh.queryExecution.executedPlan.toString
      require(plan.contains("view"),
        "o11: refresh must read the materialized partial state")
      out.orderBy("user_id")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** The o11 full-recompute replay WITHOUT the ordering — shared with
    * the e2e warehouse chain's serving join. */
  private[queries] val o11CoreSql: String =
    s"""SELECT user_id, count(*) AS n_events,
      |  ${r6Sql("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)")}
      |    AS total_value,
      |  min(value) AS min_value, max(value) AS max_value,
      |  ${r6Sql("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)")}
      |    AS avg_value
      |FROM events GROUP BY user_id""".stripMargin

  val o11Sql: String = o11CoreSql + "\nORDER BY user_id"

  // ---- O12: snapshot versioning + time travel -----------------------

  /** Commit `df` as version `v` of the snapshot table at `base`, in the
    * o16 layout: the data lands in a `data-<token>` dir whose token is
    * new for every attempt (invisible to readers until a manifest names
    * it), and the COMMIT POINT is the put-if-absent of `manifest-v`
    * naming the token ([[Snapshot.commit]]). Version ids are MONOTONIC:
    * `v` must be above the newest committed manifest (the high-water
    * mark; -1 for an empty table) when the commit starts. [[vacuum]]
    * always keeps the newest manifest, so the mark never moves back
    * and an expired id is never silently reused — a post-vacuum
    * `VERSION AS OF n` either fails loudly or returns the data n always
    * named (reference table formats never reuse snapshot ids).
    * Concurrent committers are safe:
    * racers at one version each stage their own token, exactly one
    * create wins, and every loser fails loudly with a conflict. A crash
    * anywhere leaves at most a token no manifest names — a re-run
    * stages afresh and [[vacuum]] sweeps the orphan. */
  private[graft] def o12Commit(base: String, v: Int, df: DataFrame,
      keepLayout: Boolean = false): Unit = {
    val hwm = TableLog.versions(base).lastOption.getOrElse(-1)
    require(v > hwm, s"o12: version $v is not above the high-water " +
      s"mark $hwm — expired/committed ids are never reused")
    val token = s"v$v-${java.util.UUID.randomUUID()}"
    // keepLayout preserves the frame's file layout (o15's OPTIMIZE
    // commits a deliberately-packed layout; the default single file
    // keeps the small verification snapshots tidy)
    o16Stage(base, token, if (keepLayout) df else df.coalesce(1))
    require(Snapshot.commit(base, v, Snapshot.Manifest(token)),
      s"o12: commit conflict at version $v — another writer committed " +
        "it first")
  }

  /** O12 — snapshot time travel: the read-side contract the o10 merge
    * and st16's snapshot swap imply but never expose — every committed
    * version stays readable AS OF its commit, concurrently with later
    * ones. v0 is the customer dim; v1 applies o10's CDC change-set TO
    * THE COMMITTED v0 (read back through the manifest, exactly as a
    * restarted job would); the query returns both versions tagged, so
    * the oracle certifies immutability (v0 rows unchanged post-v1) and
    * lineage (v1 = merge(v0, changes)) in one hash. This is the
    * Delta/Iceberg `VERSION AS OF` mechanism built from primitives:
    * immutable token-named data dirs + one put-if-absent numbered
    * manifest per version as the commit point. `TimeTravelSpec` pins
    * the operational edges (uncommitted reads fail loudly, staged
    * debris is invisible, commits append monotonically, racing
    * commits at one version leave exactly one winner).
    *
    * Scale shape: at 100 TB time travel is what makes reprocessing and
    * audit possible without copying the table — a version is METADATA
    * (a manifest entry + immutable files), so N versions cost storage
    * only for changed files. The read path is manifest lookup + a
    * plain parquet scan of that version's files — all layout levers
    * (a14 clustering, a19 footer stats) compose unchanged.
    */
  def o12TimeTravel(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o12_")
    try {
      val base = customer(s, d).select(col("c_custkey").as("cust_id"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))
      o12Commit(dir.toString, 0, base)
      o12Commit(dir.toString, 1,
        o10Apply(Snapshot.read(s, dir.toString, 0), o10Changes(s, d)))
      Snapshot.read(s, dir.toString, 0).withColumn("version", lit(0))
        .unionByName(
          Snapshot.read(s, dir.toString, 1).withColumn("version", lit(1)))
        .orderBy("version", "cust_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o12Sql: String =
    s"""SELECT * FROM (
      |  SELECT c_custkey AS cust_id, c_mktsegment AS segment,
      |    c_acctbal AS bal, 0 AS version
      |  FROM customer
      |  UNION ALL
      |  SELECT m.cust_id, m.segment, m.bal, 1 AS version
      |  FROM ($o10CoreSql) m
      |) ORDER BY version, cust_id""".stripMargin

  // ---- O15: OPTIMIZE — compaction as a snapshot commit ---------------

  /** Fragmentation the o15 harness injects (a streaming ingest's
    * per-micro-batch files) and the pack target it optimizes toward. */
  private[queries] val O15FragmentFiles = 16
  private[queries] val O15TargetBytes = 64L << 20

  /** O15 — OPTIMIZE as a snapshot commit: rewrite a fragmented table
    * version into few large clustered files AS A NEW VERSION of the
    * o12 snapshot table, leaving every existing version untouched.
    * This is the Delta/Iceberg `OPTIMIZE` shape, and it closes the
    * loop a13 + o12 leave open: a13 compacts a live directory IN
    * PLACE (its retire/rename dance exists because readers share the
    * path), while a snapshot table never needs that dance — the
    * rewrite lands as ordinary committed data (`o12Commit`'s token
    * staging → manifest create), concurrent readers keep resolving the
    * OLD version through the manifest for as long as retention keeps
    * it, and the optimized version is bit-identical in CONTENT (the
    * oracle certifies both versions under one hash; only the file
    * layout differs). The rewrite also range-clusters by `doc_id`
    * (the a14 discipline: OPTIMIZE is where sort order gets repaired,
    * so min/max pruning composes on the result).
    *
    * In-op requires (the a13 discipline — a silently-weak proof fails
    * the row loudly): the injected fragmentation must materialize
    * (>1 file at v0), the optimized layout must land AT OR UNDER the
    * bin-pack bound and strictly BELOW the fragmented count.
    *
    * Scale shape: at 100 TB compaction is a per-partition rewrite job
    * (here one range-partitioned write) whose cost is the bytes
    * rewritten, never the table size; the snapshot commit makes it
    * safe to run WHILE readers stream — the exact reason production
    * table formats fold OPTIMIZE into the snapshot log instead of
    * rewriting paths in place. File-count bounds are driver-side
    * metadata (listStatus on the dir one manifest names), never a data
    * scan.
    */
  def o15OptimizeSnapshot(s: SparkSession, d: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"))
    def stageV0(nFrag: Int): java.nio.file.Path = {
      val dir = java.nio.file.Files.createTempDirectory("graft_o15_")
      // v0: fragmented ingest (one file per micro-batch/task)
      o12Commit(dir.toString, 0, docs.repartition(nFrag),
        keepLayout = true)
      dir
    }
    var dir = stageV0(O15FragmentFiles)
    try {
      val fs = new Path(dir.toString)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def dataFiles(v: Int) =
        fs.listStatus(new Path(Snapshot.dataPath(dir.toString,
            Snapshot.manifestOf(dir.toString, v).token)))
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
      def packBound(files: Array[org.apache.hadoop.fs.FileStatus]) =
        graft.sink.Compact.targetFileCount(
          files.map(_.getLen).sum, O15TargetBytes)
      var before = dataFiles(0)
      // The shrink invariant (after < before) is only a theorem while
      // the injected fragmentation strictly exceeds the bin-pack bound;
      // once the corpus reaches ~O15FragmentFiles×O15TargetBytes the
      // bound meets the 16-file pathology and the require would fail
      // even though OPTIMIZE behaved. Scale the pathology WITH the
      // bound (r16 advice): measure the bound from the actual v0
      // bytes, and if the margin is gone re-stage at 2× the bound
      // (fresh table dir — o12's hwm correctly refuses a v0 re-commit
      // in place). Test-scale corpora never take the re-stage branch.
      // LOOP, not a single pass (r17 advice): re-staging into more
      // files adds per-file parquet overhead, so the bound recomputed
      // from the re-staged bytes can be larger than the one the target
      // was sized from — re-check the margin against the ACTUAL layout
      // until it holds (each round at least doubles the file count, so
      // this converges in a handful of iterations).
      var guard = 0
      while (before.length < 2 * packBound(before)) {
        guard += 1
        require(guard <= 8,
          "o15: fragmentation re-staging failed to out-run the pack " +
            "bound — harness cannot establish its pathology")
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
        dir = stageV0(math.max(before.length * 2,
          math.max(O15FragmentFiles, 2 * packBound(before))))
        before = dataFiles(0)
      }
      require(before.length > 1,
        "o15: ingest fragmentation did not materialize — harness lost " +
          "its pathology")
      val bound = packBound(before)
      // OPTIMIZE: read v0 strictly THROUGH the manifest, range-cluster
      // + bin-pack, commit as v1 — v0 stays readable and untouched
      o12Commit(dir.toString, 1,
        Snapshot.read(s, dir.toString, 0)
          .repartitionByRange(bound, col("doc_id"))
          .sortWithinPartitions("doc_id"),
        keepLayout = true)
      val after = dataFiles(1)
      require(after.length <= bound,
        s"o15: optimized layout has ${after.length} files > bound $bound")
      require(after.length < before.length,
        s"o15: optimize did not reduce files (${before.length} -> " +
          s"${after.length})")
      Snapshot.read(s, dir.toString, 0).withColumn("version", lit(0))
        .unionByName(
          Snapshot.read(s, dir.toString, 1).withColumn("version", lit(1)))
        .orderBy("version", "doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o15Sql: String =
    """SELECT v.version, d.doc_id, d.lang, d.source
      |FROM (VALUES (0), (1)) AS v(version) CROSS JOIN documents d
      |ORDER BY version, doc_id""".stripMargin

  // ---- The one vacuum: retention for the whole table family ----------

  /** Expire every version at `base` except the newest `retain`, then
    * delete what no retained version references. Returns (expired
    * versions, deleted dirs), both ascending. This is the family's ONE
    * vacuum — o12's per-version tokens, o22's shared tokens with
    * vectors and equality files, o23's checkpointed logs — because the
    * retained manifests are read through [[Snapshot.manifestOf]], the
    * one grammar every numbered-manifest chain commits in. It does not
    * accept o25's partition-map or s28's cell-entry bodies, so neither
    * table is vacuumed here. The retained set is computed once; then,
    * in the order that keeps every reader safe:
    *
    *  1. if the table has a checkpoint, the checkpoint path flips to
    *     retained-only FIRST: rewrite the checkpoint at the newest
    *     retained version to fold only retained versions, advance the
    *     pointer onto it ([[TableLog.advancePointer]]: never backward
    *     past a concurrent appender's newer fold), and retire every
    *     other checkpoint except the one the pointer names — all before
    *     a manifest or a byte goes away (a stale checkpoint is an
    *     alternate resolution path that would still name expired
    *     versions);
    *  2. unlink the expired manifests — from that instant an expired
    *     version fails loudly on every path, before any byte moves;
    *  3. delete every `data-`/`dv-`/`eq-` dir no retained manifest
    *     names. Versions may SHARE a token (a DV delete commits a
    *     vector, not a copy), so the live set is the union over the
    *     retained manifests, never "the expired version's dir".
    *
    * A crash between any two steps completes on re-run; a completed
    * run's re-run is a no-op. `retain` must be at least 1: the newest
    * manifest always survives, so o12's high-water mark never moves
    * back.
    *
    * `minAgeMs` is the retention window against CONCURRENT writers: a
    * token staged but not yet committed is named by no manifest, and a
    * fresh checkpoint may be an appender's fold the pointer is about to
    * name; steps 1 and 3 leave candidates younger than the floor alone
    * (Delta's `deletedFileRetentionDuration`, Iceberg's `older_than`),
    * so an in-flight writer is safe while its stage → commit fits in
    * the window. `DvVacuumSpec` (tokens) and `RetentionCheckpointSpec`
    * (tokens and checkpoints) pin the floor; callers with provably no
    * concurrent writers pass 0. Two vacuums of one table at once are
    * out of scope (one maintenance job per table).
    *
    * The o21 caveat: a shallow clone references the SOURCE's tokens by
    * path and this vacuum counts only THIS table's manifests, so
    * vacuuming a cloned-from table can break its clones (the caveat
    * Delta ships).
    *
    * Scale shape: expiry is O(expired) unlinks, the live set
    * O(retained) manifest reads plus one listing, deletion the
    * garbage's size — no data is read or rewritten, so retention on a
    * 100 TB table costs the same as on a 100 MB one (modulo the
    * object-store delete calls). */
  private[graft] def vacuum(base: String, retain: Int,
      minAgeMs: Long = 0L): (Seq[Int], Seq[String]) = {
    import java.nio.file.{Files, Path, Paths}
    require(retain >= 1, s"vacuum: retain must be at least 1, got " +
      s"$retain — the newest version always stays")
    val floor = System.currentTimeMillis() - minAgeMs
    def aged(p: Path) = Files.getLastModifiedTime(p).toMillis <= floor
    val vs = TableLog.versions(base)
    val (expired, keep) = vs.splitAt(vs.length - retain)
    val kept = keep.map(Snapshot.manifestOf(base, _))
    // step 1: the checkpoint path flips to retained-only first
    val cps = TableLog.checkpoints(base)
    if (expired.nonEmpty && cps.nonEmpty) {
      Snapshot.writeCheckpoint(base, keep.last, keep.zip(kept.map(_.token)),
        replace = true)
      // the pointer may name a concurrent appender's newer fold instead:
      // retiring that one would leave the pointer dangling
      val pointed = TableLog.advancePointer(base, keep.last)
      cps.filterNot(Set(keep.last, pointed))
        .map(c => Paths.get(base, TableLog.checkpoint(c))).filter(aged)
        .foreach(Files.deleteIfExists)
    }
    // step 2: expired versions become unreadable before bytes move
    expired.foreach(v =>
      Files.deleteIfExists(Paths.get(base, TableLog.manifest(v))))
    // step 3: live = every token a retained manifest names — data
    // tokens (primary + adds), the vector, every equality key file
    val live = kept.flatMap(m => m.dataTokens.map(t => s"data-$t") ++
      m.dv.map(t => s"dv-$t") ++ m.eqs.map { case (t, _) => s"eq-$t" })
      .toSet
    val debris = graft.Tables.listDir(Paths.get(base))
      .filter { p =>
        val n = p.getFileName.toString
        Seq("data-", "dv-", "eq-").exists(n.startsWith) && !live(n) &&
          Files.isDirectory(p) && aged(p)
      }
      .sortBy(_.getFileName.toString)
    debris.foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
    (expired, debris.map(_.getFileName.toString))
  }

  /** O13 — retention/vacuum over the o12 snapshot table: build three
    * committed versions (the o12 lineage v0 → v1 = merge(v0, changes),
    * plus v2 = v1 with balances bumped), vacuum down to the newest
    * two, and return the SURVIVING versions tagged — the relation the
    * oracle can replay. The operational contract is enforced in-line
    * with loud requires (the j7 discipline): vacuum reports exactly
    * {0}, the manifest is exactly {1,2}, a `VERSION AS OF 0` read
    * fails loudly post-expiry, v0's files are physically gone, and an
    * immediate re-run expires nothing. `VacuumSpec` drives the crash
    * windows (manifest unlinked but files undeleted → reader already
    * fails loudly, re-run completes the delete) and the
    * retention-boundary edges.
    */
  def o13SnapshotVacuum(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o13_")
    try {
      val base = customer(s, d).select(col("c_custkey").as("cust_id"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))
      o12Commit(dir.toString, 0, base)
      o12Commit(dir.toString, 1,
        o10Apply(Snapshot.read(s, dir.toString, 0), o10Changes(s, d)))
      o12Commit(dir.toString, 2,
        Snapshot.read(s, dir.toString, 1)
          .withColumn("bal", col("bal") + lit(1)))
      val v0Dir = java.nio.file.Paths.get(Snapshot.dataPath(dir.toString,
        Snapshot.manifestOf(dir.toString, 0).token))
      val (expired, _) = vacuum(dir.toString, 2)
      require(expired == Seq(0), s"o13: expected to expire {0}, got $expired")
      require(TableLog.versions(dir.toString) == Seq(1, 2),
        s"o13: manifest must retain exactly {1,2}")
      val stale =
        try { Snapshot.read(s, dir.toString, 0); false }
        catch { case _: IllegalArgumentException => true }
      require(stale, "o13: expired VERSION AS OF must fail loudly")
      require(!java.nio.file.Files.exists(v0Dir),
        "o13: expired version files must be physically deleted")
      require(vacuum(dir.toString, 2)._1.isEmpty,
        "o13: immediate vacuum re-run must expire nothing")
      Snapshot.read(s, dir.toString, 1).withColumn("version", lit(1))
        .unionByName(
          Snapshot.read(s, dir.toString, 2).withColumn("version", lit(2)))
        .orderBy("version", "cust_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o13Sql: String =
    s"""WITH m AS ($o10CoreSql)
      |SELECT * FROM (
      |  SELECT cust_id, segment, bal, 1 AS version FROM m
      |  UNION ALL
      |  SELECT cust_id, segment, bal + 1 AS bal, 2 AS version FROM m
      |) ORDER BY version, cust_id""".stripMargin

  // ---- O14: constraint-gated write (write-audit-publish) -------------

  /** O14 — expectation-gated ingestion, the Write-Audit-Publish shape
    * (the public Iceberg/Netflix WAP pattern; Delta CHECK constraints +
    * dead-letter queues are the same contract): every incoming row is
    * evaluated against a named constraint set, valid rows and
    * quarantined rows are STAGED to dot-prefixed dirs invisible to
    * readers, the staged files themselves are audited (row conservation
    * + the valid side re-checked from what was actually written, not
    * from the in-memory frame), and only then are both dirs atomically
    * published — a failed audit leaves nothing visible.
    *
    * The clean synthetic orders violate nothing, so violations are
    * injected the data-reachable way (the c1b/d16 discipline):
    * `o_orderkey % 97` negates the price, `% 101` corrupts the status,
    * `% 103` re-points the customer FK at a key that cannot exist.
    * Constraints: `chk_fk_customer` (custkey resolves),
    * `chk_positive_price` (price > 0), `chk_valid_status`
    * (status ∈ {O,F,P}). A row can fail several at once (key 97·101·103
    * multiples would fail all three); `violations` carries the full
    * comma-joined list in fixed declaration order.
    *
    * Scale shape: constraint predicates are scan-local codegen'd
    * expressions — zero shuffle; the FK probe is the only join,
    * broadcast here because the key set is dimension-sized (at
    * fact-vs-fact scale it becomes j7's runtime Bloom pre-filter or a
    * shuffle join — the constraint itself is unchanged). The
    * gate-then-split is ONE materialization (`localCheckpoint`) feeding
    * two filtered writes, so the source scans once however wide the
    * table; the audit reads back only footers-worth of counts plus the
    * valid side's re-check, and publish is two rename(2) calls — the
    * o12/a13 atomicity discipline applied to ingestion.
    */
  def o14WriteConstraints(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_o14_")
    try {
      val mut = orders(s, d).select(
        col("o_orderkey"),
        when(col("o_orderkey") % 103 === 0, -col("o_custkey") - lit(1))
          .otherwise(col("o_custkey")).as("cust"),
        when(col("o_orderkey") % 101 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("status"),
        when(col("o_orderkey") % 97 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("price"))
      val custKeys = customer(s, d)
        .select(col("c_custkey").as("cust")).distinct()
        .withColumn("fk_ok", lit(1))
      def violationsOf(rows: DataFrame): DataFrame = rows
        .join(broadcast(custKeys), Seq("cust"), "left")
        .select(col("o_orderkey"), col("cust"), col("status"), col("price"),
          concat_ws(",",
            when(col("fk_ok").isNull, lit("chk_fk_customer")),
            when(col("price") <= 0, lit("chk_positive_price")),
            when(!col("status").isin("O", "F", "P"), lit("chk_valid_status")))
            .as("violations"))
      // one source materialization feeds both filtered writes
      val checked = violationsOf(mut).localCheckpoint()
      val stagedV = Paths.get(dir.toString, ".valid.staging")
      val stagedQ = Paths.get(dir.toString, ".quarantine.staging")
      checked.filter(col("violations") === "").drop("violations")
        .write.parquet(stagedV.toString)
      checked.filter(col("violations") =!= "")
        .write.parquet(stagedQ.toString)
      // audit the STAGED FILES: row conservation, then the valid side
      // re-checked from what was actually written
      val vBack = s.read.parquet(stagedV.toString)
      val qBack = s.read.parquet(stagedQ.toString)
      require(vBack.count() + qBack.count() == checked.count(),
        "o14 audit: staged rows must conserve the input")
      require(violationsOf(vBack).filter(col("violations") =!= "").isEmpty,
        "o14 audit: a staged valid row re-failed its constraints")
      // publish: atomic renames — readers see either nothing or all
      val pubV = Paths.get(dir.toString, "valid")
      val pubQ = Paths.get(dir.toString, "quarantine")
      require(stagedV.toFile.renameTo(pubV.toFile) &&
        stagedQ.toFile.renameTo(pubQ.toFile), "o14: publish rename failed")
      s.read.parquet(pubV.toString)
        .select(col("o_orderkey"), lit("valid").as("gate"),
          lit("").as("violations"))
        .unionByName(s.read.parquet(pubQ.toString)
          .select(col("o_orderkey"), lit("quarantined").as("gate"),
            col("violations")))
        .orderBy("o_orderkey")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o14Sql: String =
    """WITH mut AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 103 = 0 THEN -o_custkey - 1
      |         ELSE o_custkey END AS cust,
      |    CASE WHEN o_orderkey % 101 = 0 THEN 'X'
      |         ELSE o_orderstatus END AS status,
      |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
      |         ELSE o_totalprice END AS price
      |  FROM orders),
      |v AS (
      |  SELECT m.o_orderkey,
      |    concat_ws(',',
      |      CASE WHEN c.c_custkey IS NULL THEN 'chk_fk_customer' END,
      |      CASE WHEN m.price <= 0 THEN 'chk_positive_price' END,
      |      CASE WHEN m.status NOT IN ('O', 'F', 'P')
      |        THEN 'chk_valid_status' END) AS violations
      |  FROM mut m LEFT JOIN customer c ON c.c_custkey = m.cust)
      |SELECT o_orderkey,
      |  CASE WHEN violations = '' THEN 'valid'
      |       ELSE 'quarantined' END AS gate,
      |  violations
      |FROM v ORDER BY o_orderkey""".stripMargin

  // ---- O16: optimistic concurrency (CAS commit conflict) --------------

  /** Stage a writer's data under its unique token — no race possible
    * (tokens are writer-chosen and unique); invisible to readers until
    * some manifest names the token. This is the o16 table layout:
    * immutable `data-<token>` dirs plus numbered `manifest-N` files
    * ([[Snapshot]]), whose put-if-absent create ([[Snapshot.commit]])
    * is the commit point o12 (and with it o13, o15, o17, o20 and the
    * e2e chains) commits through. */
  private[graft] def o16Stage(base: String, token: String,
      df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$base/data-$token")

  /** [[o16Stage]] that also returns the staged row count, collected by
    * an Observation riding the write job itself (the Sinks.writeEnveloped
    * one-pass discipline) — for callers whose in-op proofs need the
    * count, so they never pay a second full scan of the staged frame. */
  private[graft] def o16StageCounted(base: String, token: String,
      df: DataFrame): Long = {
    val obs = org.apache.spark.sql.Observation(
      "o16stage_" + java.util.UUID.randomUUID().toString.take(8))
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$base/data-$token")
    obs.get("n").asInstanceOf[Long]
  }

  /** One-ACTION symmetric set-equality require: `A \ B ∪ B \ A = ∅` as a
    * single job instead of two `isEmpty` actions — every Spark action is
    * its own pass over both inputs, so the paired-anti-join idiom the
    * proof ladders use costs double at any scale. Schemas must match
    * (the callers compare same-shaped relations). */
  private[graft] def symEqual(a: DataFrame, b: DataFrame,
      keys: Seq[String]): Boolean =
    a.join(b, keys, "left_anti").unionByName(b.join(a, keys, "left_anti"))
      .isEmpty

  /** O16 — optimistic commit-conflict detection, driven through a
    * deterministic interleave of a commit race:
    * an OPTIMIZE (o15's rewrite) racing an ingest append on the same
    * table.
    *
    *  1. v1: the document table's initial commit (8-file fragmented
    *     ingest layout).
    *  2. Writer B (OPTIMIZE) reads latest = 1 and STAGES its bin-packed
    *     rewrite of v1.
    *  3. Writer A (ingest) commits v2 = v1 ∪ late-crawl appends —
    *     read latest (1), stage, CAS `manifest-2` — and WINS.
    *  4. B attempts its CAS at `manifest-2` → `EEXIST` → conflict
    *     DETECTED at commit time (required false below — a silent
    *     last-writer-wins here would have erased A's appends, the
    *     exact lost update a manifest swap would allow).
    *  5. B retries AGAINST THE NEW STATE: re-reads latest (2),
    *     re-derives the rewrite from v2's content — appends included —
    *     and commits v3. Nothing is lost; B's stale first staging
    *     (`data-optimize-1`) is unreachable orphan debris no manifest
    *     names (production GC = [[vacuum]]).
    *
    * In-op requires: B's first publish fails, the retry wins, v3's
    * layout is at or under the bin-pack bound (strictly fewer files
    * than v2 whenever the bound leaves room), and v1/v2 data files are
    * byte-identical (names+sizes) after the whole dance. The oracle
    * hash certifies all three versions' CONTENT under one hash — v3
    * carrying every appended row IS the lost-update proof.
    *
    * Scale shape: the CAS is one metadata create per commit attempt —
    * cost independent of table size; a retry re-derives only the
    * loser's transformation (for OPTIMIZE, the bytes rewritten). At
    * 1000 executors the manifest create replaces a cluster-wide lock:
    * writers never coordinate except at the single atomic name.
    */
  def o16CommitConflict(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o16_")
    val base = dir.toString
    try {
      val docs = documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"))
      val appends = documents(s, d).filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + lit(5000000000L)).as("doc_id"), col("lang"),
          lit("late-crawl").as("source"))
      // v1: initial fragmented commit (no contention yet)
      o16Stage(base, "ingest-0", docs.repartition(8))
      require(Snapshot.commit(base, 1, Snapshot.Manifest("ingest-0")),
        "o16: uncontended v1 commit failed")
      // B (OPTIMIZE) reads latest=1 and stages its rewrite of v1
      val bSeen = TableLog.latest(base)
      def files(token: String): Seq[(String, Long)] =
        TableLog.files(java.nio.file.Paths.get(base, s"data-$token"),
          p => TableLog.noMarkers(p) &&
            !p.getFileName.toString.startsWith("."))
      def packedRewriteOf(v: Int): (DataFrame, Int) = {
        val token = Snapshot.manifestOf(base, v).token
        val bound = graft.sink.Compact.targetFileCount(
          files(token).map(_._2).sum, O15TargetBytes)
        (Snapshot.read(s, base, v).repartitionByRange(bound, col("doc_id"))
          .sortWithinPartitions("doc_id"), bound)
      }
      val (bStale, _) = packedRewriteOf(bSeen)
      o16Stage(base, "optimize-1", bStale)
      // A (ingest) commits v2 = v1 ∪ appends between B's read and CAS
      o16Stage(base, "ingest-1",
        Snapshot.read(s, base, TableLog.latest(base)).unionByName(appends)
          .repartition(8))
      require(Snapshot.commit(base, 2, Snapshot.Manifest("ingest-1")),
        "o16: ingest commit failed — harness lost its interleave")
      val v1Files = files("ingest-0")
      val v2Files = files("ingest-1")
      // B's CAS at its stale expectation MUST lose — loudly, not
      // last-writer-wins
      require(!Snapshot.commit(base, bSeen + 1,
          Snapshot.Manifest("optimize-1")),
        "o16: the stale OPTIMIZE commit did not conflict — the CAS " +
          "primitive is broken (lost update)")
      // retry against the new state: re-read, re-derive, commit v3
      val latest = TableLog.latest(base)
      require(latest == bSeen + 1, s"o16: expected v2 live, saw $latest")
      val (bFresh, bound) = packedRewriteOf(latest)
      o16Stage(base, "optimize-2", bFresh)
      require(Snapshot.commit(base, latest + 1,
          Snapshot.Manifest("optimize-2")),
        "o16: the retried OPTIMIZE commit failed against the new state")
      val v3Files = files("optimize-2")
      require(v3Files.length <= bound,
        s"o16: rewrite has ${v3Files.length} files > bound $bound")
      require(v3Files.length < v2Files.length || bound >= v2Files.length,
        s"o16: rewrite did not shrink the layout " +
          s"(${v2Files.length} -> ${v3Files.length}, bound $bound)")
      // the earlier versions' data never moved under the whole dance
      require(files("ingest-0") == v1Files && files("ingest-1") == v2Files,
        "o16: a committed version's data files changed during the race")
      (1 to 3).map(v => Snapshot.read(s, base, v)
          .withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select(col("version"), col("doc_id"), col("lang"), col("source"))
        .orderBy("version", "doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o16Sql: String =
    """WITH b AS (SELECT doc_id, lang, source FROM documents),
      |a AS (SELECT doc_id + 5000000000 AS doc_id, lang,
      |        'late-crawl' AS source
      |      FROM documents WHERE doc_id % 7 = 3),
      |m AS (SELECT * FROM b UNION ALL SELECT * FROM a)
      |SELECT 1 AS version, doc_id, lang, source FROM b
      |UNION ALL SELECT 2 AS version, doc_id, lang, source FROM m
      |UNION ALL SELECT 3 AS version, doc_id, lang, source FROM m
      |ORDER BY version, doc_id""".stripMargin

  // ---- O17: schema evolution through snapshot commits -----------------

  /** O17 — ALTER TABLE ADD COLUMN, the snapshot-table way (the
    * Delta/Iceberg contract o12/o15/o16 complete): a version's schema
    * travels WITH the version. v0 commits the narrow schema; v1
    * commits with a new `source` column — no migration job, no rewrite
    * of v0, no coordination beyond the ordinary commit. The three
    * read-side guarantees this row certifies under one hash:
    *
    *  1. time travel is schema-faithful — reading v0 through the
    *     manifest yields EXACTLY the old columns (a reader written
    *     before the evolution never sees a surprise column);
    *  2. the new version carries the new column;
    *  3. a cross-version read (`unionByName(allowMissingColumns)`,
    *     Spark's native widening — the i9 mergeSchema discipline
    *     applied through the commit protocol instead of a raw path
    *     glob) surfaces the added column as NULL for pre-evolution
    *     rows, the exact ALTER-ADD backfill semantics every table
    *     format documents.
    *
    * In-op requires pin 1 and 2 structurally (field lists); the oracle
    * hash certifies 3's values. Scale shape: schema change is METADATA
    * (each version's parquet footers are self-describing); the
    * cross-version read costs exactly the two version scans it names —
    * never a table rewrite.
    */
  def o17SchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o17_")
    try {
      val narrow = documents(s, d).select(col("doc_id"), col("lang"))
      o12Commit(dir.toString, 0, narrow)
      // the crawl starts shipping a new column; v1 commits it as
      // ordinary data — v0 is untouched
      o12Commit(dir.toString, 1,
        documents(s, d).select(col("doc_id"), col("lang"), col("source")))
      val v0 = Snapshot.read(s, dir.toString, 0)
      val v1 = Snapshot.read(s, dir.toString, 1)
      require(v0.schema.fieldNames.toSeq == Seq("doc_id", "lang"),
        s"o17: time travel must be schema-faithful - v0 reads as " +
          s"(${v0.schema.fieldNames.mkString(",")})")
      require(v1.schema.fieldNames.contains("source"),
        "o17: the evolved version lost its new column")
      v0.withColumn("version", lit(0))
        .unionByName(v1.withColumn("version", lit(1)),
          allowMissingColumns = true)
        .select(col("version"), col("doc_id"), col("lang"), col("source"))
        .orderBy("version", "doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o17Sql: String =
    """SELECT 0 AS version, doc_id, lang, CAST(NULL AS VARCHAR) AS source
      |FROM documents
      |UNION ALL
      |SELECT 1 AS version, doc_id, lang, source FROM documents
      |ORDER BY version, doc_id""".stripMargin

  // ---- O21: zero-copy shallow clone ------------------------------------

  /** Create `dstBase` as a zero-copy shallow clone of `srcBase`'s
    * version `srcV`: the clone's v1 manifest is ONE metadata create
    * naming the source's data directory by absolute path — no byte of
    * data is copied or rewritten. Subsequent writes to the clone land
    * as the clone's OWN tokens through the ordinary CAS, never
    * touching the source. */
  private[graft] def o21ShallowCloneOf(srcBase: String, srcV: Int,
      dstBase: String): Boolean =
    Snapshot.commit(dstBase, 1, Snapshot.Manifest(Snapshot.dataPath(srcBase,
      Snapshot.manifestOf(srcBase, srcV).token)))

  /** O21 — SHALLOW CLONE (zero-copy table fork), the public Delta
    * `CREATE TABLE ... SHALLOW CLONE` shape: an experiment/dev fork of
    * a production table costs ONE metadata create — the clone's first
    * manifest references the source version's data files by absolute
    * path — and diverges copy-on-write from there (writes to the clone
    * commit the clone's own tokens through the CAS; the source is
    * never touched). The three contracts certified under one hash +
    * in-op requires:
    *
    *  - the clone read equals the cloned source version, through ZERO
    *    copied bytes (pinned: the clone's directory contains no data
    *    dirs at v1);
    *  - editing the clone (v2 rewrites a slice of `source`) leaves the
    *    SOURCE table byte-identical (file listing pinned) and still
    *    serving its original content;
    *  - the clone's versions are independent: B@v1 still reads the
    *    shared files after B@v2 lands.
    *
    * Scale shape: forking a 100 TB table costs one manifest create;
    * storage is shared until rows actually diverge — the entire reason
    * production teams clone instead of copy. (Delta documents the
    * operational caveat this inherits: vacuuming the SOURCE can orphan
    * shallow clones — [[vacuum]] must never run on a table that has
    * live clones, the same public caveat.)
    */
  def o21ShallowClone(s: SparkSession, d: String): DataFrame = {
    val dirA = java.nio.file.Files.createTempDirectory("graft_o21a_")
    val dirB = java.nio.file.Files.createTempDirectory("graft_o21b_")
    try {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("source"))
      o16Stage(dirA.toString, "a0", docs.repartition(4))
      require(Snapshot.commit(dirA.toString, 1, Snapshot.Manifest("a0")),
        "o21: source v1 commit failed")
      val aBefore = TableLog.files(dirA, TableLog.noMarkers)
      // the clone: one metadata create, zero data bytes in B's dir
      require(o21ShallowCloneOf(dirA.toString, 1, dirB.toString),
        "o21: clone manifest create failed")
      require(!graft.Tables.listDir(dirB)
        .exists(_.getFileName.toString.startsWith("data-")),
        "o21: a SHALLOW clone must not copy data")
      // copy-on-write divergence: the clone's v2 edits a slice
      o16Stage(dirB.toString, "b-edit",
        Snapshot.read(s, dirB.toString, 1).withColumn("source",
          when(col("doc_id") % 5 === 0, lit("edited"))
            .otherwise(col("source"))))
      require(Snapshot.commit(dirB.toString, 2, Snapshot.Manifest("b-edit")),
        "o21: clone edit commit failed")
      // the source never moved
      require(TableLog.files(dirA, TableLog.noMarkers) == aBefore,
        "o21: editing the clone touched the source's files")
      Snapshot.read(s, dirA.toString, 1)
        .select(lit("A").as("tbl"), lit(1).as("version"), col("doc_id"),
          col("lang"), col("source"))
        .unionByName(Snapshot.read(s, dirB.toString, 1)
          .select(lit("B").as("tbl"), lit(1).as("version"), col("doc_id"),
            col("lang"), col("source")))
        .unionByName(Snapshot.read(s, dirB.toString, 2)
          .select(lit("B").as("tbl"), lit(2).as("version"), col("doc_id"),
            col("lang"), col("source")))
        .orderBy("tbl", "version", "doc_id")
        .localCheckpoint()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dirA.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(dirB.toFile)
    }
  }

  val o21Sql: String =
    """SELECT * FROM (
      |  SELECT 'A' AS tbl, 1 AS version, doc_id, lang, source
      |  FROM documents
      |  UNION ALL
      |  SELECT 'B', 1, doc_id, lang, source FROM documents
      |  UNION ALL
      |  SELECT 'B', 2, doc_id, lang,
      |    CASE WHEN doc_id % 5 = 0 THEN 'edited' ELSE source END
      |  FROM documents)
      |ORDER BY tbl, version, doc_id""".stripMargin

  // ---- O20: change data feed (row-level version diff) ------------------

  /** The row-level diff of two keyed snapshots — the public Delta
    * Change-Data-Feed row shape: `insert` rows (key only in `next`),
    * `delete` rows (key only in `prev`), and update PAIRS
    * (`update_preimage` from `prev`, `update_postimage` from `next`)
    * for keys present in both with any non-key column changed; a key
    * whose row is value-identical across versions emits NOTHING (a
    * no-op write is not a change). One full-outer join on the key —
    * the diff costs the two version scans + one shuffle, never a
    * table rewrite or a log replay.
    */
  private[graft] def o20Diff(prev: DataFrame, next: DataFrame,
      key: String, cols: Seq[String]): DataFrame = {
    val p = prev.select((key +: cols).map(c => col(c).as(s"p_$c")): _*)
    val n = next.select((key +: cols).map(c => col(c).as(s"n_$c")): _*)
    val j = p.join(n, col(s"p_$key") === col(s"n_$key"), "full_outer")
    val changed = cols.map(c => !(col(s"p_$c") <=> col(s"n_$c")))
      .reduce(_ || _)
    def rowOf(side: String, tag: String) =
      j.select((col(s"${side}_$key").as(key) +:
        cols.map(c => col(s"${side}_$c").as(c))) :+
        lit(tag).as("change_type"): _*)
    rowOf("n", "insert").filter(col(s"p_$key").isNull)
      .unionByName(rowOf("p", "delete").filter(col(s"n_$key").isNull))
      .unionByName(rowOf("p", "update_preimage")
        .filter(col(s"p_$key").isNotNull && col(s"n_$key").isNotNull && changed))
      .unionByName(rowOf("n", "update_postimage")
        .filter(col(s"p_$key").isNotNull && col(s"n_$key").isNotNull && changed))
  }

  /** O20 — CHANGE DATA FEED over the o12 snapshot table: the read-side
    * contract incremental CONSUMERS need at 100 TB — a downstream job
    * refreshes from the row-level diff between the version it last saw
    * and the current one, instead of rescanning the table (the o11
    * reasoning applied to arbitrary keyed tables, and the public
    * Delta CDF / Iceberg incremental-read shape). v0 commits the
    * customer dim, v1 commits o10's CDC merge of it; the feed is
    * derived STRICTLY from the two committed versions read through the
    * manifest — inserts (keys the merge created), deletes (keys the
    * merge dropped), update pre/post image pairs (balance rewrites),
    * and NO row for the untouched majority.
    *
    * The in-op require pins the feed's defining algebra — APPLYING the
    * feed to v0 reproduces v1 exactly ((v0 − deletes − preimages) ∪
    * inserts ∪ postimages, verified by anti-join in both directions) —
    * so the oracle hash certifies the row set and the require
    * certifies that the row set MEANS what a consumer assumes.
    *
    * Scale shape: one full-outer join on the key across two version
    * scans; with both versions range-clustered on the key (a14/o15)
    * the join co-partitions, and the feed's size is O(changes), so
    * downstream incremental consumption costs O(delta) — the entire
    * point. Production formats compute the same diff from add/remove
    * file metadata without the join when available; the relational
    * form here is the format-independent fallback that needs nothing
    * but the two snapshots.
    */
  def o20ChangeDataFeed(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o20_")
    try {
      val base = customer(s, d).select(col("c_custkey").as("cust_id"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))
      o12Commit(dir.toString, 0, base)
      o12Commit(dir.toString, 1,
        o10Apply(Snapshot.read(s, dir.toString, 0), o10Changes(s, d)))
      val v0 = Snapshot.read(s, dir.toString, 0)
      val v1 = Snapshot.read(s, dir.toString, 1)
      val feed = o20Diff(v0, v1, "cust_id", Seq("segment", "bal"))
        .localCheckpoint()
      // the defining algebra: v0 + feed == v1, exactly
      val applied = v0
        .join(feed.filter(col("change_type")
            .isin("delete", "update_preimage")).select("cust_id"),
          Seq("cust_id"), "left_anti")
        .unionByName(feed.filter(col("change_type")
            .isin("insert", "update_postimage"))
          .select("cust_id", "segment", "bal"))
      require(symEqual(applied, v1, Seq("cust_id", "segment", "bal")),
        "o20: applying the feed to v0 must reproduce v1 exactly")
      feed.orderBy("cust_id", "change_type")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o20Sql: String =
    s"""WITH m AS ($o10CoreSql),
      |base AS (
      |  SELECT c_custkey AS cust_id, c_mktsegment AS segment,
      |    c_acctbal AS bal
      |  FROM customer),
      |j AS (
      |  SELECT b.cust_id AS p_key, b.segment AS p_seg, b.bal AS p_bal,
      |    m.cust_id AS n_key, m.segment AS n_seg, m.bal AS n_bal
      |  FROM base b FULL JOIN m ON b.cust_id = m.cust_id)
      |SELECT * FROM (
      |  SELECT n_key AS cust_id, n_seg AS segment, n_bal AS bal,
      |    'insert' AS change_type
      |  FROM j WHERE p_key IS NULL
      |  UNION ALL
      |  SELECT p_key, p_seg, p_bal, 'delete' FROM j WHERE n_key IS NULL
      |  UNION ALL
      |  SELECT p_key, p_seg, p_bal, 'update_preimage' FROM j
      |  WHERE p_key IS NOT NULL AND n_key IS NOT NULL
      |    AND (p_seg IS DISTINCT FROM n_seg OR p_bal IS DISTINCT FROM n_bal)
      |  UNION ALL
      |  SELECT n_key, n_seg, n_bal, 'update_postimage' FROM j
      |  WHERE p_key IS NOT NULL AND n_key IS NOT NULL
      |    AND (p_seg IS DISTINCT FROM n_seg OR p_bal IS DISTINCT FROM n_bal))
      |ORDER BY cust_id, change_type""".stripMargin

  // ---- O18: schema evolution part 2 — rename/drop via FIELD IDS -------

  /** One column of an o18 table version: a permanent field id, the
    * version's logical name for it, and its SQL type. The id — not the
    * name — is what data files carry. */
  private[graft] case class O18Field(id: Int, name: String, dtype: String)

  /** Stage data for an o18 table under `token`: logical columns land in
    * parquet under their FIELD-ID physical names (`f<id>`), which is
    * what makes renames metadata-only — the Iceberg-spec mechanism
    * (columns resolved by id; names are a per-version mapping). */
  private[graft] def o18Stage(base: String, token: String, df: DataFrame,
      fields: Seq[O18Field]): Unit =
    df.select(fields.map(f => col(f.name).as(s"f${f.id}")): _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$base/data-$token")

  /** Commit version `v`: an atomically-created ([[TableLog.create]],
    * the o16 CAS primitive) `schema-v` file carrying BOTH the data
    * token and the field-id → name mapping — schema travels with the
    * version, and a metadata-only change (rename/drop/add) commits the
    * SAME token under a new mapping, rewriting nothing. */
  private[graft] def o18Commit(base: String, v: Int, token: String,
      fields: Seq[O18Field]): Boolean = {
    // one field per line (token owns line 1): the dtype may itself
    // contain commas/parens (decimal(10,2)); the only reserved
    // characters are the line break and, in the name, the `:` field
    // separator — both rejected at commit time so a read can never
    // silently mis-split
    fields.foreach { f =>
      require(!f.name.contains(":") && !f.name.contains("\n") &&
          !f.dtype.contains("\n"),
        s"o18: field name/dtype may not contain ':' or newline " +
          s"(got ${f.id}:${f.name}:${f.dtype})")
    }
    TableLog.create(base, s"schema-$v", token + "\n" +
      fields.map(f => s"${f.id}:${f.name}:${f.dtype}").mkString("\n"))
  }

  /** Read version `v` strictly through its schema file: each field
    * resolves BY ID against the data files — a field id present in the
    * files surfaces under the version's CURRENT name for it; an id the
    * files never carried (a column added after this data was written,
    * including a re-added name that got a fresh id) reads NULL. A
    * physical column whose id the version dropped is simply not
    * projected — its bytes stay in the files, unreachable. */
  private[graft] def o18Read(s: SparkSession, base: String,
      v: Int): DataFrame = {
    val Array(token, fieldSpec) =
      TableLog.read(base, s"schema-$v").split("\n", 2)
    // one field per line; dtype is the 3rd segment and may contain any
    // character but a newline (split limit 3 keeps decimal(10,2) whole)
    val fields = fieldSpec.split("\n").toSeq.filter(_.nonEmpty).map { e =>
      val Array(id, name, dtype) = e.split(":", 3)
      O18Field(id.toInt, name, dtype)
    }
    val raw = s.read.parquet(s"$base/data-${token.trim}")
    val present = raw.columns.toSet
    raw.select(fields.map { fl =>
      if (present(s"f${fl.id}")) col(s"f${fl.id}").cast(fl.dtype).as(fl.name)
      else lit(null).cast(fl.dtype).as(fl.name)
    }: _*)
  }

  /** O18 — rename/drop schema evolution via field ids, closing o17's
    * name-tracking gap (r17 verdict ask #3; the public Iceberg spec
    * behavior): o17 tracks columns by NAME, so a rename would silently
    * null history. Here columns are tracked by permanent FIELD ID and
    * every version carries its own id→name mapping, giving the three
    * production contracts under one oracle hash:
    *
    *  - v1 RENAME lang→language is METADATA-ONLY: it commits the SAME
    *    data token as v0 (pinned structurally below) and history's
    *    values surface under the new name — nothing rewritten, nothing
    *    nulled;
    *  - v2 DROP source unprojects id 3; the bytes stay in the files,
    *    unreachable through the schema;
    *  - v3 re-ADD of the NAME `source` allocates a FRESH id (4), so it
    *    reads NULL over history — the dropped column's bytes are never
    *    resurrected under the re-added name (the in-op require pins
    *    that id 3's bytes ARE physically present, so the NULL is the
    *    id mechanism, not absent data);
    *  - v4 commits new data that populates id 4: the re-added column
    *    carries values for post-evolution data while v3 keeps reading
    *    NULL — time travel stays schema-faithful per version.
    *
    * The output surfaces each version's NAME for field 2 as data
    * (`lang_name`), so the oracle hash certifies the rename is visible
    * exactly from v1 on. Scale shape: every evolution step is ONE
    * metadata file create (the o16 CAS primitive) — cost independent of
    * table size; reads cost exactly the named version's scan.
    */
  def o18FieldIdEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o18_")
    val base = dir.toString
    try {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("source"))
      val v0Fields = Seq(O18Field(1, "doc_id", "bigint"),
        O18Field(2, "lang", "string"), O18Field(3, "source", "string"))
      o18Stage(base, "w0", docs, v0Fields)
      require(o18Commit(base, 0, "w0", v0Fields), "o18: v0 commit failed")
      // v1: RENAME lang -> language (same token, new mapping)
      require(o18Commit(base, 1, "w0", Seq(O18Field(1, "doc_id", "bigint"),
        O18Field(2, "language", "string"), O18Field(3, "source", "string"))),
        "o18: v1 rename commit failed")
      // v2: DROP source (id 3 unprojected; bytes remain)
      require(o18Commit(base, 2, "w0", Seq(O18Field(1, "doc_id", "bigint"),
        O18Field(2, "language", "string"))), "o18: v2 drop commit failed")
      // v3: re-ADD the NAME source under a FRESH id — reads NULL over w0
      val v3Fields = Seq(O18Field(1, "doc_id", "bigint"),
        O18Field(2, "language", "string"), O18Field(4, "source", "string"))
      require(o18Commit(base, 3, "w0", v3Fields), "o18: v3 add commit failed")
      // v4: new data populating id 4 (the crawl ships source again —
      // staged from the source frame's own column names; ids are what
      // persist)
      o18Stage(base, "w1", docs, Seq(O18Field(1, "doc_id", "bigint"),
        O18Field(2, "lang", "string"), O18Field(4, "source", "string")))
      require(o18Commit(base, 4, "w1", v3Fields), "o18: v4 commit failed")

      // structural pins: rename was metadata-only (v0/v1 share bytes);
      // id 3's bytes exist in w0, so v3's NULL source is the id
      // mechanism, not absent data
      val w0Cols = s.read.parquet(s"$base/data-w0").columns.toSet
      require(w0Cols("f3"),
        "o18: dropped field's bytes must still be physically present")
      require(!s.read.parquet(s"$base/data-w1").columns.toSet.contains("f3"),
        "o18: post-drop data must not carry the dead field id")
      require(o18Read(s, base, 1).schema.fieldNames.toSeq ==
        Seq("doc_id", "language", "source"),
        "o18: the rename must surface in the version's schema")

      (0 to 4).map { v =>
        val r = o18Read(s, base, v)
        val langName = r.schema.fieldNames(1)
        r.select(lit(v).as("version"), col("doc_id"),
          lit(langName).as("lang_name"),
          col(langName).as("lang_val"),
          (if (r.schema.fieldNames.contains("source")) col("source")
           else lit(null).cast("string")).as("source"))
      }.reduce(_ unionByName _)
        .orderBy("version", "doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o18Sql: String =
    """SELECT * FROM (
      |  SELECT 0 AS version, doc_id, 'lang' AS lang_name,
      |    lang AS lang_val, source FROM documents
      |  UNION ALL
      |  SELECT 1, doc_id, 'language', lang, source FROM documents
      |  UNION ALL
      |  SELECT 2, doc_id, 'language', lang, CAST(NULL AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 3, doc_id, 'language', lang, CAST(NULL AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 4, doc_id, 'language', lang, source FROM documents)
      |ORDER BY version, doc_id""".stripMargin

  // ---- O19: partition evolution through snapshot commits --------------

  /** Commit version `v` of an o19 table: an atomically-created
    * ([[TableLog.create]] CAS) `layout-v` manifest listing the
    * version's data SEGMENTS, each with the partition spec it was written under
    * (`token:specCol` lines). Partition evolution = a new manifest
    * listing the old segments UNCHANGED plus new segments under the new
    * spec — never a rewrite. This is the public Iceberg
    * partition-spec-id mechanism: the spec travels with the FILES (per
    * segment), not with the table. */
  private[graft] def o19Commit(base: String, v: Int,
      segments: Seq[(String, String)]): Boolean =
    TableLog.create(base, s"layout-$v",
      segments.map { case (t, spec) => s"$t:$spec" }.mkString("\n"))

  /** The segments (token, specCol) version `v` resolves to. */
  private[graft] def o19Segments(base: String, v: Int): Seq[(String, String)] =
    TableLog.read(base, s"layout-$v").split("\n").filter(_.nonEmpty).toSeq
      .map { line =>
        val Array(t, spec) = line.split(":", 2)
        (t, spec)
      }

  /** Read version `v` across its segments: each segment scans under ITS
    * OWN partition layout (`basePath` resurfaces the Hive-style
    * partition column; Catalyst prunes each segment's directories by
    * its own spec), columns re-ordered to the logical schema before the
    * union. A filter on the OLD spec's column partition-prunes the old
    * segments and row-filters the new ones — both correct, the exact
    * Iceberg cross-spec read contract. */
  private[graft] def o19Read(s: SparkSession, base: String, v: Int,
      logical: Seq[String]): DataFrame =
    o19Segments(base, v).map { case (t, _) =>
      val seg = s"$base/seg-$t"
      s.read.option("basePath", seg).parquet(seg)
        .select(logical.map(col): _*)
    }.reduce(_ unionByName _)

  /** O19 — partition evolution (r17 verdict stretch #8): a snapshot
    * table whose PARTITIONING changes between versions without
    * rewriting a byte of pre-evolution data. v1 commits the corpus
    * Hive-partitioned by `lang` (the ingest-era layout); the pipeline
    * later re-keys its consumers by `source`, so the late-crawl appends
    * land partitioned by `source` and v2's manifest simply lists BOTH
    * segments, each tagged with its spec. In-op requires pin the
    * mechanism: the old segment's files are byte-identical (names +
    * sizes) across the evolution, the new segment carries the new
    * spec's directories, and reads span both layouts strictly through
    * the manifest. `PartitionEvolutionSpec` pins the pruning contract
    * (a `lang` filter partition-prunes the old segment while the new
    * segment row-filters) — the part a content hash cannot see.
    *
    * Scale shape: evolution is ONE metadata create; a 100 TB table
    * re-keyed for new query patterns pays only for data written AFTER
    * the change (plus optional background OPTIMIZE of old segments,
    * o15's job), exactly why production formats version the partition
    * spec instead of repartitioning the table.
    */
  def o19PartitionEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o19_")
    val base = dir.toString
    try {
      val cols = Seq("doc_id", "lang", "source")
      val docs = documents(s, d).select(cols.map(col): _*)
      val appends = documents(s, d).filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + lit(5000000000L)).as("doc_id"), col("lang"),
          lit("late-crawl").as("source"))
      // v1: ingest-era layout — partitioned by lang
      docs.write.partitionBy("lang").parquet(s"$base/seg-a")
      require(o19Commit(base, 1, Seq("a" -> "lang")), "o19: v1 commit failed")
      def files(seg: String): Seq[(String, Long)] =
        TableLog.files(java.nio.file.Paths.get(base, s"seg-$seg"),
          TableLog.noMarkers)
      val aBefore = files("a")
      // partition evolution: appends land under the NEW spec; v2 lists
      // both segments, old one untouched
      appends.write.partitionBy("source").parquet(s"$base/seg-b")
      require(o19Commit(base, 2, Seq("a" -> "lang", "b" -> "source")),
        "o19: v2 commit failed")
      require(files("a") == aBefore,
        "o19: partition evolution rewrote pre-evolution files")
      require(graft.Tables.listDir(java.nio.file.Paths.get(base, "seg-b"))
        .exists(_.getFileName.toString.startsWith("source=")),
        "o19: the new segment must carry the NEW spec's directories")
      o19Read(s, base, 1, cols).withColumn("version", lit(1))
        .unionByName(o19Read(s, base, 2, cols).withColumn("version", lit(2)))
        .select(col("version"), col("doc_id"), col("lang"), col("source"))
        .orderBy("version", "doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o19Sql: String =
    """WITH b AS (SELECT doc_id, lang, source FROM documents),
      |a AS (SELECT doc_id + 5000000000 AS doc_id, lang,
      |        'late-crawl' AS source
      |      FROM documents WHERE doc_id % 7 = 3)
      |SELECT 1 AS version, doc_id, lang, source FROM b
      |UNION ALL
      |SELECT 2 AS version, doc_id, lang, source FROM b
      |UNION ALL
      |SELECT 2 AS version, doc_id, lang, source FROM a
      |ORDER BY version, doc_id""".stripMargin

  // ---- O22: row-level deletes via deletion vectors ---------------------

  /** DELETE WHERE `pred` at the current version, WITHOUT rewriting a
    * data file: evaluate the predicate over the masked current read,
    * record the victims' (file, position) addresses, union them into
    * the cumulative vector (deletes compose — an already-masked row
    * can't re-match because the predicate ran over the masked view),
    * and CAS-commit a manifest naming the SAME data tokens + the new
    * vector (equality entries carry over untouched). Returns the new
    * version. Cost: one scan to find victims + O(deleted) metadata
    * written — never O(table) bytes. */
  private[graft] def o22Delete(s: SparkSession, base: String,
      pred: org.apache.spark.sql.Column, dvToken: String): Int = {
    val v = TableLog.latest(base)
    val m = Snapshot.manifestOf(base, v)
    val victims = Snapshot.read(s, base, v, addresses = true).filter(pred)
      .select(col("__dv_file").as("file_path"), col("__dv_pos").as("pos"))
    Snapshot.writeVector(s, base, m, victims, dvToken)
    require(Snapshot.commit(base, v + 1, m.copy(dv = Some(dvToken))),
      s"o22: delete commit at version ${v + 1} lost the CAS race")
    v + 1
  }

  /** OPTIMIZE: materialize the current masked read into a fresh data
    * token (the o15 rewrite job) and commit it with NO masks and the
    * `rewriteOf:<v>` marker — the masks retire, the deleted rows'
    * bytes are finally gone, and the marker RECORDS that no visible
    * row changed (what lets o24 feed the commit as empty instead of
    * guessing). This is the background job that keeps read-side mask
    * cost bounded; until it runs, every version's read stays correct
    * through its masks. */
  private[graft] def o22Optimize(s: SparkSession, base: String,
      newToken: String): Int = {
    val v = TableLog.latest(base)
    o16Stage(base, newToken, Snapshot.read(s, base, v).coalesce(2))
    require(Snapshot.commit(base, v + 1,
        Snapshot.Manifest(newToken, rewriteOf = Some(v))),
      s"o22: optimize commit at version ${v + 1} lost the CAS race")
    v + 1
  }

  /** O22 — row-level DELETE via deletion vectors / positional deletes
    * (r18 verdict ask #1; the public Delta deletion-vector / Iceberg
    * positional-delete mechanism): at 100 TB, a right-to-be-forgotten
    * delete of 100 rows must not rewrite petabytes. A delete commits a
    * per-file POSITION list as metadata; data files stay immutable;
    * reads subtract the mask through the manifest; a later OPTIMIZE
    * materializes the mask and retires it. The version ladder driven
    * here:
    *
    *  - v1: the corpus, 4-file layout;
    *  - v2: DELETE doc_id % 10 = 3 — same data token, vector dv-a
    *    (in-op require: not one data file changed);
    *  - v3: DELETE lang = 'de' — same data token, CUMULATIVE vector
    *    dv-b (deletes compose; the predicate ran over the masked view);
    *  - v4: OPTIMIZE — fresh token, NO vector; read equals v3's.
    *
    * In-op requires pin what the oracle hash cannot see: the deleted
    * rows stay PHYSICALLY present in the shared data token through v3
    * (the raw dir scan still counts them — unreachability is the mask,
    * not absent bytes), data files are byte-identical across the two
    * deletes, v4's raw files genuinely no longer carry the victims
    * (the vector retired by materialization, not by still being
    * applied), and every version time-travels faithfully (v1 reads the
    * victims forever). The oracle certifies all four versions' visible
    * row sets under one hash. `DeletionVectorSpec` pins the mechanism
    * edges in isolation.
    *
    * Scale shape: delete cost is one scan (victim addressing) plus
    * O(deleted) metadata; the masked read is the ordinary scan + one
    * BROADCAST anti-join on (file, pos) — no shuffle of the data side,
    * pushdown/pruning untouched; OPTIMIZE is the only step that pays
    * data bytes, exactly when a background job chooses to.
    */
  def o22DeletionVectors(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o22_")
    val base = dir.toString
    try {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("source"))
      // corpus row count rides the staging write (one pass, the
      // writeEnveloped discipline) — it feeds the physical-retention
      // require below, which otherwise re-scanned the corpus
      val fullN = o16StageCounted(base, "w0", docs.repartition(4))
      require(Snapshot.commit(base, 1, Snapshot.Manifest("w0")),
        "o22: v1 commit failed")
      def dataFiles(): Seq[(String, Long)] = TableLog.files(dir,
        p => p.toString.contains("/data-") && TableLog.noMarkers(p))
      val before = dataFiles()
      val v2 = o22Delete(s, base, col("doc_id") % 10 === 3, "a")
      val v3 = o22Delete(s, base, col("lang") === "de", "b")
      require(v2 == 2 && v3 == 3, "o22: version ladder out of order")
      // deletes moved ZERO data bytes — both vectors mask the same
      // immutable token
      require(dataFiles() == before,
        "o22: a deletion-vector delete must not touch data files")
      require(Snapshot.manifestOf(base, 2).token == "w0" &&
          Snapshot.manifestOf(base, 3).token == "w0",
        "o22: deletes must reuse the immutable data token")
      // the victims are PHYSICALLY present yet unreachable: the raw
      // dir scan still counts them, the masked read does not
      val rawN = s.read.parquet(s"$base/data-w0").count()
      require(rawN == fullN,
        s"o22: deleted rows' bytes must stay in the files ($rawN/$fullN)")
      val v4 = o22Optimize(s, base, "w1")
      require(Snapshot.manifestOf(base, v4).dv.isEmpty,
        "o22: OPTIMIZE must retire the vector")
      // the rewrite genuinely dropped the victims' bytes
      require(s.read.parquet(s"$base/data-w1").count() ==
          Snapshot.read(s, base, 3).count(),
        "o22: the materialized token must carry exactly the masked rows")
      (1 to 4).map(v => Snapshot.read(s, base, v).withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select(col("version"), col("doc_id"), col("lang"), col("source"))
        .orderBy("version", "doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o22Sql: String =
    """SELECT * FROM (
      |  SELECT 1 AS version, doc_id, lang, source FROM documents
      |  UNION ALL
      |  SELECT 2, doc_id, lang, source FROM documents
      |  WHERE doc_id % 10 <> 3
      |  UNION ALL
      |  SELECT 3, doc_id, lang, source FROM documents
      |  WHERE doc_id % 10 <> 3 AND lang <> 'de'
      |  UNION ALL
      |  SELECT 4, doc_id, lang, source FROM documents
      |  WHERE doc_id % 10 <> 3 AND lang <> 'de')
      |ORDER BY version, doc_id""".stripMargin

  // ---- O23: manifest-log checkpointing ---------------------------------

  /** How often o23 writers fold the manifest chain into a checkpoint. */
  private[graft] val O23Interval = 5

  /** Metadata-open counter for the read path — the o23 contract is a
    * NUMBER (opens past the checkpoint are O(1), not O(commits)), so
    * the reader counts every metadata file it touches and the query /
    * spec require on the count. */
  private[graft] final class O23Opens { var n: Int = 0 }

  /** Resolve the FULL committed version chain in O(1) metadata opens
    * past the last checkpoint (the public Delta `_last_checkpoint`
    * mechanism): read the pointer (1 open), read the checkpoint it
    * names (1 open) — the folded `v:token` map for every version up to
    * it — then probe FORWARD manifest-by-manifest for the tail
    * (1 open per commit since the checkpoint, +1 for the miss that
    * ends the scan). Past the first fold never a directory listing,
    * so 10⁶ historical commits cost a reader exactly as much as 10. A
    * stale pointer (crash between checkpoint write and pointer swap)
    * just lengthens the forward probe. A table with no pointer yet
    * (fewer than [[O23Interval]] commits) starts the probe at its
    * oldest listed manifest: a [[vacuum]] before the first fold has
    * unlinked `manifest-1`, and a probe from 1 would resolve an EMPTY
    * chain and let [[o23Publish]] reuse an expired id. */
  private[graft] def o23Versions(base: String,
      opens: O23Opens = new O23Opens): Seq[(Int, String)] = {
    // pointer + the checkpoint it names: two opens when present
    val fromCp: Seq[(Int, String)] =
      TableLog.get(base, TableLog.LastCheckpoint).toSeq.flatMap { ptr =>
        opens.n += 2
        Snapshot.checkpointOf(base, ptr.trim.toInt)
      }
    val firstTail = fromCp.lastOption.map(_._1 + 1)
      .getOrElse(TableLog.versions(base).headOption.getOrElse(1))
    // one probe per tail commit, plus the miss that ends the scan
    val tail = Iterator.from(firstTail).map { v =>
      opens.n += 1
      Snapshot.find(base, v).map(m => (v, m.token))
    }.takeWhile(_.isDefined).flatten.toSeq
    fromCp ++ tail
  }

  /** The O(commits) resolution o23 replaces — a full directory listing
    * plus one read per manifest. Kept ONLY so requires/specs can pin
    * checkpoint-read ≡ full-replay-read; production readers never call
    * it. */
  private[graft] def o23VersionsByListing(base: String): Seq[(Int, String)] =
    TableLog.versions(base).map(v => (v, Snapshot.manifestOf(base, v).token))

  private[graft] def o23Latest(base: String): Int =
    o23Versions(base).lastOption.map(_._1).getOrElse(0)

  /** Fold the chain through `upTo` into `checkpoint-<upTo>`, then swap
    * the `_last_checkpoint` pointer. The checkpoint file is
    * content-deterministic (any writer folding the same chain writes
    * the same bytes), so the create-if-absent ignores an existing twin;
    * the pointer swap is [[TableLog.advancePointer]]'s atomic rename,
    * MONOTONE (a stale checkpointer never moves it backward). `crashBeforePointer`
    * is the harness's injection point for the crash window between the
    * two steps — recovery is the reader's forward probe, pinned in
    * `ManifestCheckpointSpec`. */
  private[graft] def o23Checkpoint(base: String, upTo: Int,
      crashBeforePointer: Boolean = false): Unit = {
    val chain = o23Versions(base).takeWhile(_._1 <= upTo)
    require(chain.lastOption.exists(_._1 == upTo),
      s"o23: cannot checkpoint uncommitted version $upTo")
    Snapshot.writeCheckpoint(base, upTo, chain)
    if (!crashBeforePointer) TableLog.advancePointer(base, upTo)
  }

  /** Append one batch to an o23 log table (table = union of all
    * committed versions, the CasSink/readLog model): stage under the
    * writer's unique token, CAS-commit at latest+1 with retry, and fold
    * a checkpoint every [[O23Interval]] commits. The writer's own
    * latest-resolution goes through the checkpoint path too — at 10⁶
    * commits neither readers NOR writers pay an O(commits) listing. */
  private[graft] def o23Append(base: String, token: String,
      df: DataFrame): Int = {
    o16Stage(base, token, df)
    o23Publish(base, token)
  }

  /** The commit half of [[o23Append]] — CAS at latest+1 with retry +
    * the periodic checkpoint fold — over an ALREADY-staged token.
    * Factored out so a harness that pre-stages many slices in one
    * clustered write job (instead of one write job per append) drives
    * the exact same protocol per commit. */
  private[graft] def o23Publish(base: String, token: String): Int = {
    var v = 0
    var done = false
    while (!done) {
      v = o23Latest(base) + 1
      done = Snapshot.commit(base, v, Snapshot.Manifest(token))
    }
    if (v % O23Interval == 0) o23Checkpoint(base, v)
    v
  }

  /** Stage the `doc_id % n == i−1` slices of `df` as tokens
    * `data-<prefix>1..n` in ONE clustered write job plus n directory
    * renames, instead of n separate write jobs. The slices are ladder
    * HARNESS setup (the protocol under test is the per-commit
    * CAS + checkpoint fold, not the staging write): each token
    * directory is complete before any CAS names it, exactly the state
    * [[o16Stage]] leaves behind. */
  private[graft] def o23StageSlices(base: String, prefix: String,
      df: DataFrame, n: Int): Unit = {
    import java.nio.file.{Files, Paths}
    val scratch = s"$base/.slices-$prefix"
    df.withColumn("__slice", pmod(col("doc_id"), lit(n.toLong)))
      .repartition(col("__slice"))
      .write.partitionBy("__slice").parquet(scratch)
    (1 to n).foreach { i =>
      val src = Paths.get(scratch, s"__slice=${i - 1}")
      require(Files.isDirectory(src),
        s"o23: slice ${i - 1} of $n staged empty — harness corpus too small")
      Files.move(src, Paths.get(base, s"data-$prefix$i"))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch))
  }

  /** O23 — manifest-log checkpointing (r18 verdict ask #2):
    * `TableLog.latest` resolves the current version by LISTING every
    * numbered manifest — at 10⁶ commits every reader pays an
    * O(commits) directory scan.
    * The public Delta mechanism folded on here: every N commits the
    * writer materializes the version→token chain into `checkpoint-N`
    * and swaps a `_last_checkpoint` pointer; a reader opens the
    * pointer, the checkpoint, and probes only the tail — O(1) metadata
    * opens past the checkpoint, proved by an in-op require on the
    * reader's own open COUNTER, not by inspection. (st25's newest-first
    * replay probe composes directly: the checkpoint version is a floor
    * no probe needs to scan past.)
    *
    * The query drives 17 append commits (documents sliced by
    * doc_id % 17) through the checkpointing writer — checkpoints fold
    * at 5/10/15 — then reads the table strictly through the
    * checkpoint path. In-op requires: the pointer names 15, exactly
    * three checkpoints exist, the checkpoint-path resolution equals
    * the O(commits) listing resolution IDENTICALLY, and the reader's
    * counted opens are EXACTLY 3 + (latest − checkpoint) — pointer +
    * checkpoint + tail probes + the final miss — independent of the
    * 15 folded commits. The oracle certifies the assembled table (each
    * doc tagged with the version that carried it) under one hash.
    *
    * Scale shape: checkpoint cost is O(versions) metadata bytes every
    * N commits (amortized O(1) per commit); read cost drops from
    * O(commits) to O(tail); data files are never touched. */
  def o23ManifestCheckpoint(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o23_")
    val base = dir.toString
    try {
      val docs = documents(s, d).select(col("doc_id"), col("lang"))
      val n = 17
      // one clustered staging job for all 17 slices (was 17 write jobs
      // — the protocol cost under test is per-commit metadata, not the
      // harness staging), then the unchanged per-commit CAS + fold
      o23StageSlices(base, "b", docs, n)
      (1 to n).foreach { i =>
        val v = o23Publish(base, s"b$i")
        require(v == i, s"o23: append $i landed at version $v")
      }
      require(TableLog.read(base, TableLog.LastCheckpoint).trim == "15",
        "o23: the pointer must name the newest checkpoint")
      require(TableLog.checkpoints(base) == Seq(5, 10, 15),
        "o23: a checkpoint must fold every O23Interval commits")
      val opens = new O23Opens
      val chain = o23Versions(base, opens)
      require(chain == o23VersionsByListing(base),
        "o23: checkpoint-read must equal full-replay-read exactly")
      // 1 pointer + 1 checkpoint + (17-15) tail reads + 1 final miss
      require(opens.n == 3 + (n - 15),
        s"o23: reader opened ${opens.n} metadata files, " +
          s"expected ${3 + (n - 15)} — O(1) past the checkpoint")
      chain.map { case (v, t) =>
        s.read.parquet(Snapshot.dataPath(base, t))
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .select(col("version"), col("doc_id"), col("lang"))
        .orderBy("doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o23Sql: String =
    """SELECT CAST(doc_id % 17 + 1 AS INT) AS version, doc_id, lang
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- O24: change feed derived from deletion-vector metadata ----------

  /** The o20 change feed for one o22 version step, derived from the
    * COMMIT METADATA instead of a two-snapshot full-outer join — the
    * production CDF path for delete commits (public Delta computes CDF
    * for DV-only commits from the vector delta; the o20 join is the
    * format-independent fallback). Two commit shapes are readable from
    * the manifests alone:
    *
    *  - DV-only commit (same data token, vector grew): the feed is
    *    exactly the rows at the NEW mask positions — one scan of the
    *    shared token semi-joined with the broadcast DV delta (new
    *    vector minus old). O(delta) metadata + one pushdown-intact
    *    scan, never a shuffle of two full snapshots.
    *  - OPTIMIZE commit (fresh token, no vector): a pure physical
    *    rewrite — the feed is EMPTY by the o22Optimize contract
    *    (materialize-the-masked-read changes no visible row), zero
    *    scans.
    *
    * Any other transition (token changed AND rows changed) is not a
    * metadata-readable step and must fall back to [[o20Diff]]; the
    * require refuses loudly rather than guessing. */
  private[graft] def o24FeedOf(s: SparkSession, base: String,
      v: Int, cols: Seq[String], key: Option[String] = None): DataFrame = {
    val prev = Snapshot.manifestOf(base, v)
    val next = Snapshot.manifestOf(base, v + 1)
    // the new mask positions this commit added (next vector minus prev)
    lazy val dvDelta = Snapshot.vectorDelta(s, base, prev, next)
    lazy val prevMasked = Snapshot.read(s, base, v, addresses = true)
    def leftViaDv(delta: DataFrame): DataFrame =
      prevMasked.join(broadcast(delta),
        prevMasked("__dv_file") === delta("file_path") &&
          prevMasked("__dv_pos") === delta("pos"), "left_semi")
    if (next.token == prev.token && next.adds == prev.adds) {
      // pure delete commit: the vector grew and/or equality entries
      // appeared — the feed is the rows LEAVING, addressed by the
      // mask delta alone (O(delta) metadata + one semi-joined scan)
      val newEqs = next.eqs.filterNot(prev.eqs.contains)
      require(dvDelta.isDefined || newEqs.nonEmpty,
        s"o24: same-token step $v->${v + 1} carries no new mask")
      // one mask KIND per commit: a row masked by both a new vector
      // delta and a new eq entry in the same commit would feed twice
      // and double-apply downstream — refuse loudly (no committer
      // produces the mixed shape; this pins that contract)
      require(dvDelta.isEmpty || newEqs.isEmpty,
        s"o24: step $v->${v + 1} introduces both a vector delta and " +
          "new equality entries — commit the two mask kinds separately")
      val viaEq =
        newEqs.map(Snapshot.eqJoin(s, base, prevMasked, _, "left_semi"))
      (dvDelta.map(leftViaDv).toSeq ++ viaEq)
        .map(_.select(cols.map(col): _*))
        .reduce(_ unionByName _)
        .withColumn("change_type", lit("delete"))
    } else if (next.token == prev.token && next.eqs == prev.eqs &&
        next.adds.startsWith(prev.adds) && next.rewriteOf.isEmpty) {
      // DV-aware MERGE commit (the o28 shape): the dv delta masks
      // matched rows' OLD positions, the new add token(s) carry
      // inserts + update postimages. Classification is one key join
      // of the two DELTA-sized sides: a masked old row whose key
      // re-appears in the new files is an update preimage (else a
      // delete); a new row whose key was masked is the postimage
      // (else an insert). Never a snapshot join.
      val k = key.getOrElse(sys.error(
        s"o24: merge step $v->${v + 1} needs the merge key to classify " +
          "updates vs inserts"))
      val newRows = next.adds.drop(prev.adds.size)
        .map(t => s.read.parquet(Snapshot.dataPath(base, t)))
        .reduce(_ unionByName _).select(cols.map(col): _*)
      val preRows = dvDelta.map(leftViaDv)
        .getOrElse(prevMasked.limit(0)).select(cols.map(col): _*)
      val newKeys = newRows.select(k).distinct()
      val preKeys = preRows.select(k).distinct()
      preRows.join(broadcast(newKeys), Seq(k), "left_semi")
        .withColumn("change_type", lit("update_preimage"))
        .unionByName(preRows.join(broadcast(newKeys), Seq(k), "left_anti")
          .withColumn("change_type", lit("delete")))
        .unionByName(newRows.join(broadcast(preKeys), Seq(k), "left_semi")
          .withColumn("change_type", lit("update_postimage")))
        .unionByName(newRows.join(broadcast(preKeys), Seq(k), "left_anti")
          .withColumn("change_type", lit("insert")))
    } else {
      // a token-changing commit feeds EMPTY only when the writer
      // STAMPED it as a pure rewrite — an unmarked token change is an
      // ordinary overwrite (constructible as o16Stage + a commit with
      // a fresh token and no vector) and guessing "no change" for it
      // would silently feed nothing for a commit that changed
      // everything
      require(next.rewriteOf.contains(v),
        s"o24: token-changing step $v->${v + 1} carries no " +
          s"rewriteOf:$v marker — not a metadata-readable commit, " +
          "fall back to the o20 diff")
      require(next.dv.isEmpty && next.eqs.isEmpty,
        s"o24: rewrite commit ${v + 1} must retire every mask")
      // OPTIMIZE: no visible change; an empty frame in the feed schema
      Snapshot.read(s, base, v + 1).select(cols.map(col): _*)
        .withColumn("change_type", lit("delete")).limit(0)
    }
  }

  /** O24 — change data feed OVER deletion-vector deletes (the o20×o22
    * composition the r18 verdict names: o22 "makes o20's CDF delete
    * path honest at file granularity"). o20 derives the feed by
    * full-outer-joining two snapshots — two full scans and a key
    * shuffle even when the commit deleted 100 rows of 100 TB. For o22
    * commits the manifest already SAYS what changed: a DV-only commit
    * changed exactly the rows at its new mask positions, an OPTIMIZE
    * commit changed nothing visible. This query drives the o22 ladder
    * (v2: delete doc_id%10=3 → v3: cumulative delete lang='de' → v4:
    * OPTIMIZE) and derives every step's feed from metadata.
    *
    * In-op requires pin the derivation against the defining algebra:
    * each metadata-derived feed equals [[o20Diff]] over the two masked
    * reads EXACTLY (anti-join both ways — o20 emits only `delete` rows
    * for these steps, so row-set equality is the whole contract), the
    * v2 victims do NOT re-emit in the v3 step (the delta is the vector
    * DIFFERENCE, not the cumulative vector), and the OPTIMIZE step's
    * feed is empty. The oracle certifies both delete steps' row sets
    * under one hash.
    *
    * Scale shape: per delete commit, O(deleted) broadcast metadata +
    * one semi-joined scan of the shared token (pushdown intact, no
    * data-side shuffle); per optimize commit, zero I/O. The o20 join
    * remains the fallback for arbitrary snapshot pairs. */
  def o24DvChangeFeed(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o24_")
    val base = dir.toString
    val colsOut = Seq("doc_id", "lang", "source")
    try {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("source"))
      o16Stage(base, "w0", docs.repartition(4))
      require(Snapshot.commit(base, 1, Snapshot.Manifest("w0")),
        "o24: v1 commit failed")
      o22Delete(s, base, col("doc_id") % 10 === 3, "a")
      o22Delete(s, base, col("lang") === "de", "b")
      o22Optimize(s, base, "w1")
      // materialize each version's masked read ONCE: the three diffs and
      // three equality requires otherwise re-evaluate the masked scans
      // up to 12× (every `isEmpty` action is its own pass) — at scale,
      // 12 table scans where 4 suffice
      val reads = (1 to 4).map(v =>
        v -> Snapshot.read(s, base, v).localCheckpoint()).toMap
      def diffOf(v: Int): DataFrame =
        o20Diff(reads(v), reads(v + 1), "doc_id", Seq("lang", "source"))
          .select((colsOut.map(col) :+ col("change_type")): _*)
      val feeds = (1 to 3).map { v =>
        val feed = o24FeedOf(s, base, v, colsOut).localCheckpoint()
        require(symEqual(feed, diffOf(v), colsOut :+ "change_type"),
          s"o24: metadata-derived feed for step $v->${v + 1} must equal " +
            "the o20 snapshot diff exactly")
        feed.withColumn("version", lit(v + 1))
      }
      require(feeds(2).isEmpty,
        "o24: the OPTIMIZE step must feed no visible change")
      feeds.reduce(_ unionByName _)
        .select(col("version"), col("doc_id"), col("lang"), col("source"),
          col("change_type"))
        .orderBy("version", "doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o24Sql: String =
    """SELECT * FROM (
      |  SELECT 2 AS version, doc_id, lang, source, 'delete' AS change_type
      |  FROM documents WHERE doc_id % 10 = 3
      |  UNION ALL
      |  SELECT 3, doc_id, lang, source, 'delete'
      |  FROM documents WHERE doc_id % 10 <> 3 AND lang = 'de')
      |ORDER BY version, doc_id""".stripMargin

  // ---- O25: partition-level conflict classification + rebase -----------

  /** One committed version of an o25 partition-mapped table: the set of
    * partitions the commit TOUCHED (its conflict footprint) and the
    * full partition→token map after it. The map — not a single table
    * token — is what makes concurrent writers composable: a commit
    * replaces only its own partitions' entries. */
  private[graft] case class O25Snapshot(touched: Set[String],
      entries: Map[String, String])

  /** Stage one partition's data under `$base/p-<part>-<token>`. Tokens
    * and partition values must stay delimiter-free — validated here so
    * the manifest's line format can never silently mis-split (the o18
    * lesson applied at write time). */
  private[graft] def o25Stage(base: String, part: String, token: String,
      df: DataFrame): Unit = {
    require(!part.exists("=,\n:".contains(_)) &&
      !token.exists("=,\n:".contains(_)),
      s"o25: partition/token may not carry manifest delimiters: $part/$token")
    df.write.mode("overwrite").parquet(s"$base/p-$part-$token")
  }

  /** CAS-commit version `v` ([[TableLog.create]], the o16 primitive):
    * line 1 is `touched:<csv>`, each following line one `part=token`
    * entry. Two writers with the SAME footprint may race one version;
    * each lands its own body or none. */
  private[graft] def o25Commit(base: String, v: Int, touched: Set[String],
      entries: Map[String, String]): Boolean =
    TableLog.create(base, TableLog.manifest(v),
      s"touched:${touched.toSeq.sorted.mkString(",")}\n" +
        entries.toSeq.sorted.map { case (p, t) => s"$p=$t" }.mkString("\n"))

  private[graft] def o25SnapshotOf(base: String, v: Int): O25Snapshot = {
    val lines = TableLog.read(base, TableLog.manifest(v)).split("\n").toSeq
    val touched = lines.head.stripPrefix("touched:").split(",")
      .filter(_.nonEmpty).toSet
    O25Snapshot(touched, lines.tail.filter(_.nonEmpty).map { l =>
      val Array(p, t) = l.split("=", 2); p -> t
    }.toMap)
  }

  /** Read version `v`: the union of its partition entries, each tagged
    * with its partition value. A partition-filtered read opens ONLY
    * that entry's directory — partition pruning is the map lookup. */
  private[graft] def o25Read(s: SparkSession, base: String, v: Int,
      part: Option[String] = None): DataFrame = {
    val snap = o25SnapshotOf(base, v)
    val sel = part.fold(snap.entries)(p => snap.entries.filter(_._1 == p))
    sel.toSeq.sortBy(_._1).map { case (p, t) =>
      s.read.parquet(s"$base/p-$p-$t").withColumn("part", lit(p))
    }.reduce(_ unionByName _)
  }

  /** The writer's commit protocol with CONFLICT CLASSIFICATION — the
    * public Delta ConflictChecker / Iceberg validation shape. The
    * writer staged its partitions' data once (against the snapshot it
    * read at `seenV`) and now tries to publish `delta` entries:
    *
    *  - CAS win: committed, done.
    *  - CAS loss: classify every commit in (seenV, latest]. If ALL
    *    their touched sets are DISJOINT from this writer's, the loss
    *    is physical, not semantic — REBASE: re-apply the same entry
    *    delta onto the newer map and CAS again. Zero bytes restaged —
    *    at 100 TB the difference between a metadata retry and
    *    re-running a multi-hour job.
    *  - Overlap: a semantic conflict — some commit rewrote a partition
    *    this writer derived from. Returns Left(overlapping versions);
    *    the caller must re-derive from the current snapshot (blindly
    *    rebasing would silently drop the other writer's change — the
    *    lost update the classification exists to prevent).
    *
    * Returns Right((version, casAttempts)) on success. */
  private[graft] def o25CommitDelta(base: String, seenV: Int,
      touched: Set[String], delta: Map[String, String]):
      Either[Seq[Int], (Int, Int)] = {
    var attempts = 0
    var expect = seenV
    while (true) {
      attempts += 1
      if (o25Commit(base, expect + 1, touched,
          o25SnapshotOf(base, expect).entries ++ delta))
        return Right((expect + 1, attempts))
      // physical CAS loss: classify every commit this writer hasn't seen
      val latest = TableLog.latest(base)
      val overlap = ((seenV + 1) to latest).filter { i =>
        o25SnapshotOf(base, i).touched.intersect(touched).nonEmpty
      }
      if (overlap.nonEmpty) return Left(overlap)
      expect = latest
    }
    sys.error("unreachable")
  }

  /** O25 — optimistic concurrency with partition-level conflict
    * classification (the rung ABOVE o16's CAS: o16 proves a stale
    * commit loses; o25 proves the loser usually doesn't have to pay
    * for it). Three writers race over a lang-partitioned corpus:
    *
    *  - A rewrites the `de` partition (upper-cases source), commits
    *    v2 cleanly;
    *  - B rewrites `fr` (source → 'requeued') from the SAME v1
    *    snapshot; its CAS at v2 loses to A, the classifier finds
    *    {de} ∩ {fr} = ∅, and B REBASES — same staged bytes, commit v3.
    *    In-op requires: B's staged files are byte-identical across the
    *    retry, and B paid exactly 2 CAS attempts;
    *  - C deletes doc_id%3=0 rows FROM `de`, derived from v1 — stale:
    *    A rewrote `de` in between. The classifier returns overlap
    *    [v2]; a require pins that C's stale staging is genuinely WRONG
    *    (it would revert A's upper-casing — the lost update). C
    *    re-derives from v3's `de` entry and commits v4.
    *
    * The oracle certifies the final table (both rewrites + the
    * re-derived delete) under one hash.
    *
    * Scale shape: commit footprints and the classification are
    * O(partitions touched) driver metadata; a disjoint-writer retry
    * costs one manifest write (never restaged data); only a TRUE
    * semantic conflict re-pays derivation, and only for the
    * conflicted partitions. */
  def o25PartitionConflicts(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o25_")
    val base = dir.toString
    try {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("source"))
      val langs = Seq("de", "en", "es", "fr", "zh")
      langs.foreach(l => o25Stage(base, l, "base",
        docs.filter(col("lang") === l).drop("lang")))
      require(o25Commit(base, 1, langs.toSet,
        langs.map(_ -> "base").toMap), "o25: v1 commit failed")

      // A and B both read v1 and stage their disjoint rewrites
      val aDf = o25Read(s, base, 1, Some("de")).drop("part")
        .withColumn("source", upper(col("source")))
      o25Stage(base, "de", "a", aDf)
      val bDf = o25Read(s, base, 1, Some("fr")).drop("part")
        .withColumn("source", lit("requeued"))
      o25Stage(base, "fr", "b", bDf)
      def staged(part: String, token: String): Seq[(String, Long)] =
        TableLog.files(java.nio.file.Paths.get(base, s"p-$part-$token"),
          TableLog.noMarkers)
      val bStaged = staged("fr", "b")
      // A wins v2; B's first CAS loses, classifies disjoint, rebases
      require(o25CommitDelta(base, 1, Set("de"), Map("de" -> "a"))
          == Right((2, 1)), "o25: A's uncontended commit failed")
      val bRes = o25CommitDelta(base, 1, Set("fr"), Map("fr" -> "b"))
      require(bRes == Right((3, 2)),
        s"o25: B must rebase past A in exactly 2 CAS attempts, got $bRes")
      require(staged("fr", "b") == bStaged,
        "o25: a disjoint-writer rebase must not restage a byte")

      // C derived from v1 — stale under A's de rewrite
      val cStale = o25Read(s, base, 1, Some("de")).drop("part")
        .filter(col("doc_id") % 3 =!= 0)
      o25Stage(base, "de", "c0", cStale)
      val cRes = o25CommitDelta(base, 1, Set("de"), Map("de" -> "c0"))
      require(cRes == Left(Seq(2)),
        s"o25: C's stale commit must classify v2 as conflicting, got $cRes")
      // the classification prevented a real lost update: C's stale
      // staging would revert A's rewrite for every surviving row
      val cFresh = o25Read(s, base, 3, Some("de")).drop("part")
        .filter(col("doc_id") % 3 =!= 0)
      require(s.read.parquet(s"$base/p-de-c0")
          .join(cFresh, Seq("doc_id", "source"), "left_anti").count() > 0,
        "o25: the stale staging must genuinely differ from the re-derivation")
      o25Stage(base, "de", "c1", cFresh)
      require(o25CommitDelta(base, 3, Set("de"), Map("de" -> "c1"))
          == Right((4, 1)), "o25: C's re-derived commit failed")

      o25Read(s, base, 4)
        .select(col("doc_id"), col("part").as("lang"), col("source"))
        .orderBy("doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o25Sql: String =
    """SELECT doc_id, lang,
      |  CASE WHEN lang = 'de' THEN upper(source)
      |       WHEN lang = 'fr' THEN 'requeued'
      |       ELSE source END AS source
      |FROM documents
      |WHERE NOT (lang = 'de' AND doc_id % 3 = 0)
      |ORDER BY doc_id""".stripMargin

  // ---- O26: vacuum over a shared-token (DV) table --------------------

  /** O26 — retention vacuum over the deletion-vector table, reference-
    * counted (the o22×o13 composition): drives the o22 ladder (v1 =
    * corpus under token w0; v2/v3 = DV deletes SHARING w0; v4 =
    * OPTIMIZE into w1), vacuums down to the newest two through
    * [[vacuum]], and pins the shared-token contract:
    *
    *  - expired versions (v1, v2) become unreadable, manifests-first;
    *  - **data-w0 SURVIVES** — v3 (retained) still references it; a
    *    per-version unlink would have destroyed v3's data;
    *  - dv-a (referenced only by expired v2) is the ONLY debris —
    *    dv-b survives with v3;
    *  - an immediate re-run expires and deletes nothing (idempotent);
    *  - a second vacuum to retain=1 retires w0 and dv-b together
    *    (nothing references them once v3 expires) while v4 reads on.
    *
    * The oracle certifies the retained versions' visible rows after
    * the first vacuum under one hash.
    *
    * Scale shape: expiry is O(expired) manifest unlinks; the live-set
    * walk is O(retained versions) manifest reads + one directory
    * listing; deletion is the debris bytes only. Nothing ever rewrites
    * a retained file — at 100 TB, vacuum cost is the garbage's size,
    * not the table's. */
  def o26DvVacuum(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o26_")
    val base = dir.toString
    try {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("source"))
      o16Stage(base, "w0", docs.repartition(4))
      require(Snapshot.commit(base, 1, Snapshot.Manifest("w0")),
        "o26: v1 commit failed")
      o22Delete(s, base, col("doc_id") % 10 === 3, "a")
      o22Delete(s, base, col("lang") === "de", "b")
      o22Optimize(s, base, "w1")
      def dirExists(n: String) =
        java.nio.file.Files.isDirectory(dir.resolve(n))
      val (expired, debris) = vacuum(base, retain = 2)
      require(expired == Seq(1, 2) && debris == Seq("dv-a"),
        s"o26: expected to expire {1,2} and delete only dv-a, " +
          s"got $expired / $debris")
      // the shared data token survives: retained v3 references it
      require(dirExists("data-w0") && dirExists("dv-b") && dirExists("data-w1"),
        "o26: a token referenced by a retained version was deleted")
      // expired versions fail loudly
      Seq(1, 2).foreach(v => require(
        scala.util.Try(Snapshot.read(s, base, v)).isFailure,
        s"o26: expired version $v is still readable"))
      // idempotent: an immediate re-run finds nothing
      require(vacuum(base, retain = 2) == ((Seq(), Seq())),
        "o26: a repeat vacuum must be a no-op")
      val out = Seq(3, 4).map(v =>
          Snapshot.read(s, base, v).withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select(col("version"), col("doc_id"), col("lang"), col("source"))
        .orderBy("version", "doc_id")
        .localCheckpoint()
      // retiring v3 retires the shared token and its vector together
      val (e2, d2) = vacuum(base, retain = 1)
      require(e2 == Seq(3) && d2 == Seq("data-w0", "dv-b"),
        s"o26: expected v3's retirement to free w0+dv-b, got $e2 / $d2")
      require(Snapshot.read(s, base, 4).count() ==
          out.filter(col("version") === 4).count(),
        "o26: the surviving version must read on after the deep vacuum")
      out
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o26Sql: String =
    """SELECT * FROM (
      |  SELECT 3 AS version, doc_id, lang, source FROM documents
      |  WHERE doc_id % 10 <> 3 AND lang <> 'de'
      |  UNION ALL
      |  SELECT 4, doc_id, lang, source FROM documents
      |  WHERE doc_id % 10 <> 3 AND lang <> 'de')
      |ORDER BY version, doc_id""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "o26_dv_vacuum" -> o26DvVacuum,
    "o25_partition_conflicts" -> o25PartitionConflicts,
    "o24_dv_change_feed" -> o24DvChangeFeed,
    "o23_manifest_checkpoint" -> o23ManifestCheckpoint,
    "o22_deletion_vectors" -> o22DeletionVectors,
    "o21_shallow_clone" -> o21ShallowClone,
    "o20_change_data_feed" -> o20ChangeDataFeed,
    "o19_partition_evolution" -> o19PartitionEvolution,
    "o18_field_id_evolution" -> o18FieldIdEvolution,
    "o17_schema_evolution" -> o17SchemaEvolution,
    "o16_commit_conflict" -> o16CommitConflict,
    "o14_write_constraints" -> o14WriteConstraints,
    "o9_scd2_history" -> o9Scd2History,
    "o10_merge_upsert" -> o10MergeUpsert,
    "o11_incremental_agg" -> o11IncrementalAgg,
    "o12_time_travel" -> o12TimeTravel,
    "o15_optimize_snapshot" -> o15OptimizeSnapshot,
    "o13_snapshot_vacuum" -> o13SnapshotVacuum,
  )

  val oracle: Map[String, String] = Map(
    "o26_dv_vacuum" -> o26Sql,
    "o25_partition_conflicts" -> o25Sql,
    "o24_dv_change_feed" -> o24Sql,
    "o23_manifest_checkpoint" -> o23Sql,
    "o22_deletion_vectors" -> o22Sql,
    "o21_shallow_clone" -> o21Sql,
    "o20_change_data_feed" -> o20Sql,
    "o19_partition_evolution" -> o19Sql,
    "o18_field_id_evolution" -> o18Sql,
    "o17_schema_evolution" -> o17Sql,
    "o16_commit_conflict" -> o16Sql,
    "o14_write_constraints" -> o14Sql,
    "o9_scd2_history" -> o9Sql,
    "o10_merge_upsert" -> o10Sql,
    "o11_incremental_agg" -> o11Sql,
    "o12_time_travel" -> o12Sql,
    "o15_optimize_snapshot" -> o15Sql,
    "o13_snapshot_vacuum" -> o13Sql,
  )
}
