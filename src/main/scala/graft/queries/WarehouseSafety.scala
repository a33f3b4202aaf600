package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.table.{Snapshot, TableLog}

/** The two safety compositions the round-19 verdict named (round-20
  * asks #3 and #4): retention must not strand the structures OTHER
  * machinery resolves through, and conflict classification must reach
  * FILE granularity.
  *
  *  - **o29 checkpoint-aware vacuum** — a manifest-only vacuum over an
  *    o23-checkpointed log would unlink manifests and tokens while
  *    `checkpoint-N` / `_last_checkpoint` still resolve the expired
  *    versions; [[Warehouse.vacuum]] rewrites/advances the checkpoint
  *    BEFORE anything becomes unreadable (the checkpoint is an
  *    alternate resolution path — vacuuming data from under a stale
  *    one lets a reader resolve missing tokens).
  *  - **o30 file-level conflict classification** — o25 classifies at
  *    partition granularity; two DV deletes on DIFFERENT FILES of one
  *    unpartitioned table are disjoint work o25 cannot see. Each
  *    commit's invalidated-file set derives from the commit metadata
  *    alone (a DV commit: its vector delta's files; a rewrite: the
  *    whole previous file family; an append: nothing), and a CAS
  *    loser rebases iff no intervening commit invalidated a file it
  *    depends on — the public Delta ConflictChecker shape.
  */
object WarehouseSafety {

  // ---- O29: vacuum × checkpoint (retention safety, rung a) ------------

  /** O29 — retention safety over the checkpointed log (round-20 verdict
    * ask #3a, the o26×o23 composition): drives 17 appends through the
    * checkpointing writer (folds at 5/10/15), vacuums down to the
    * newest five, then proves the log LIVES ON by appending three more
    * batches through the ordinary o23 writer (whose own fold lands a
    * fresh checkpoint at 20).
    *
    * In-op requires pin what o26 alone cannot: after the vacuum the
    * pointer and the (single remaining) checkpoint resolve ONLY
    * retained versions — `checkpoint-5/10/15` are gone, `checkpoint-17`
    * folds exactly 13..17; checkpoint-read ≡ listing-read IDENTICALLY;
    * the reader's counted metadata opens stay O(1) past the checkpoint
    * (3 = pointer + checkpoint + the one probe miss); expired versions
    * fail loudly; expired tokens are deleted and retained tokens read
    * on; an immediate re-run expires and deletes nothing; and the
    * post-vacuum appends fold their own checkpoint (pointer advances
    * to 20, covering 13..20). The oracle certifies the final log —
    * retained slices + the new batches — under one hash.
    *
    * Scale shape: the rewrite is O(retained) metadata bytes; expiry is
    * O(expired) unlinks; deletion is the garbage's size. Nothing
    * rescans data, and readers never pay more than the checkpointed
    * O(tail) — during OR after the vacuum. */
  def o29RetentionCheckpoint(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o29_")
    val base = dir.toString
    try {
      val docs = documents(s, d).select(col("doc_id"), col("lang"))
      val n = 17
      // one clustered staging job for all 17 slices (the o23 harness
      // economy), then the unchanged per-commit CAS + checkpoint folds
      Warehouse.o23StageSlices(base, "b", docs, n)
      (1 to n).foreach { i =>
        require(Warehouse.o23Publish(base, s"b$i") == i,
          s"o29: append $i landed at the wrong version")
      }
      val (expired, debris) = Warehouse.vacuum(base, retain = 5)
      require(expired == (1 to 12) &&
          debris.toSet == (1 to 12).map(i => s"data-b$i").toSet,
        s"o29: expected to expire 1..12 and their tokens, " +
          s"got $expired / $debris")
      // no resolution path names an expired version
      require(TableLog.read(base, TableLog.LastCheckpoint).trim
          == "17", "o29: the pointer must advance to the rewritten " +
          "checkpoint")
      val cps = TableLog.checkpoints(base)
      require(cps == Seq(17),
        s"o29: stale checkpoints must retire with their versions, " +
          s"got $cps")
      require(Snapshot.checkpointOf(base, 17).map(_._1) == (13 to 17),
        "o29: the rewritten checkpoint must fold exactly the retained " +
          "versions")
      // checkpoint-read ≡ listing-read, still O(1) past the checkpoint
      val opens = new Warehouse.O23Opens
      val chain = Warehouse.o23Versions(base, opens)
      require(chain == Warehouse.o23VersionsByListing(base),
        "o29: checkpoint-read must equal listing-read after the vacuum")
      require(opens.n == 3,
        s"o29: reader opened ${opens.n} metadata files, expected 3 — " +
          "pointer + checkpoint + the probe miss")
      // expired fails loudly; idempotent re-run
      require(scala.util.Try(Snapshot.read(s, base, 12)).isFailure,
        "o29: an expired version must be unreadable")
      require(Warehouse.vacuum(base, retain = 5) == ((Seq(), Seq())),
        "o29: a repeat vacuum must be a no-op")
      // the log LIVES ON: three more appends, the writer's own fold
      // lands checkpoint-20 covering 13..20
      (0 until 3).foreach { j =>
        require(Warehouse.o23Append(base, s"c$j",
            docs.filter(col("doc_id") % 3 === j)) == 18 + j,
          s"o29: post-vacuum append $j landed at the wrong version")
      }
      require(TableLog.read(base, TableLog.LastCheckpoint).trim
          == "20", "o29: the post-vacuum fold must advance the pointer")
      require(Snapshot.checkpointOf(base, 20).map(_._1) == (13 to 20),
        "o29: the post-vacuum checkpoint must fold retained + new")
      Warehouse.o23Versions(base).map { case (v, t) =>
        s.read.parquet(Snapshot.dataPath(base, t))
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .select(col("version"), col("doc_id"), col("lang"))
        .orderBy("version", "doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o29Sql: String =
    """SELECT * FROM (
      |  SELECT CAST(doc_id % 17 + 1 AS INT) AS version, doc_id, lang
      |  FROM documents WHERE doc_id % 17 + 1 BETWEEN 13 AND 17
      |  UNION ALL
      |  SELECT CAST(doc_id % 3 + 18 AS INT), doc_id, lang
      |  FROM documents)
      |ORDER BY version, doc_id""".stripMargin

  // ---- O30: file-level conflict classification (o25's next rung) ------

  /** The part of a file path that names it stably across the
    * `file:`-URI form the scan's `_metadata.file_path` carries and the
    * plain form a directory listing yields. */
  private def fileKey(p: String): String = {
    val i = p.indexOf("/data-")
    require(i >= 0, s"o30: not a data-file path: $p")
    p.substring(i)
  }

  /** The part files of one data token, as fileKeys. */
  private def filesOf(base: String, token: String): Set[String] =
    TableLog.files(java.nio.file.Paths.get(base, s"data-$token"),
        p => TableLog.noMarkers(p) && p.toString.endsWith(".parquet"))
      .map { case (p, _) => fileKey(p) }.toSet

  /** The FILE set commit `v` invalidated, derived from the commit
    * metadata alone (never a data scan):
    *
    *  - a rewrite (`rewriteOf:` marker): the whole previous file
    *    family — every file of v−1's data tokens was replaced;
    *  - a DV commit (vector grew, tokens unchanged): exactly the files
    *    the vector DELTA names — O(delta) metadata read;
    *  - an equality-delete commit: the files of the tokens the new
    *    entries apply to (the eq writer scanned nothing, but it
    *    changed those files' visible rows);
    *  - a pure append (tokens grew, masks unchanged): nothing.
    */
  private[graft] def o30Invalidates(s: SparkSession, base: String,
      v: Int): Set[String] = {
    val prev = Snapshot.manifestOf(base, v - 1)
    val next = Snapshot.manifestOf(base, v)
    if (next.rewriteOf.isDefined)
      prev.dataTokens.flatMap(t => filesOf(base, t)).toSet
    else if (next.dv != prev.dv) {
      // an UNMARKED vector retirement (Some→None without rewriteOf) is
      // not a recognized commit shape — classifying it would guess;
      // refuse loudly (the o24FeedOf discipline) instead of throwing a
      // bare NoSuchElementException or, worse, classifying as a no-op
      require(next.dv.isDefined,
        s"o30: commit $v retires the vector without a rewriteOf marker " +
          "— not a recognized commit shape, cannot classify")
      Snapshot.vectorDelta(s, base, prev, next).get
        .select("file_path").distinct()
        .collect().map(r => fileKey(r.getString(0))).toSet
    } else if (next.eqs != prev.eqs)
      next.eqs.filterNot(prev.eqs.contains)
        .flatMap(_._2).flatMap(t => filesOf(base, t)).toSet
    else {
      // only a pure append (same token, masks unchanged, adds grew or
      // equal) invalidates nothing — an unmarked token-changing
      // overwrite must not slide past a rebase as if it were one
      require(next.token == prev.token && next.adds.startsWith(prev.adds),
        s"o30: commit $v changes the data token without a rewriteOf " +
          "marker — not a recognized commit shape, cannot classify")
      Set.empty
    }
  }

  /** A DV deleter's commit protocol with FILE-level conflict
    * classification. The writer derived `delta` — (file_path, pos)
    * victim addresses — against the snapshot it read at `seenV` and
    * staged it once under `dvdelta-<dvToken>` (the bytes that must
    * never be re-derived on a physical loss). Then:
    *
    *  - CAS win: the delta merges into the current vector and commits.
    *  - CAS loss: classify every commit in (seenV, latest]. If NO
    *    intervening commit invalidated a file this delta addresses,
    *    the loss is physical — REBASE: re-merge the SAME staged delta
    *    onto the newer vector and CAS again (appends and
    *    other-file deletes slide past each other; o25 would have
    *    called two same-partition writers conflicting).
    *  - Overlap: semantic conflict — some commit rewrote or re-masked
    *    a file these addresses point into; applying them anyway would
    *    mask wrong rows (or silently nothing, after a rewrite).
    *    Returns Left(conflicting versions); the caller re-derives.
    *
    * Merging vectors is O(mask) METADATA per attempt, never data
    * bytes; the staged delta itself is byte-identical across rebases
    * (pinned by the spec and the query). */
  private[graft] def o30CommitDvDelta(s: SparkSession, base: String,
      seenV: Int, dvToken: String): Either[Seq[Int], (Int, Int)] = {
    val delta = s.read.parquet(s"$base/dvdelta-$dvToken")
    val myDeps = delta.select("file_path").distinct()
      .collect().map(r => fileKey(r.getString(0))).toSet
    var attempts = 0
    var expect = seenV
    while (true) {
      attempts += 1
      val m = Snapshot.manifestOf(base, expect)
      val tok = s"$dvToken-r$attempts"
      Snapshot.writeVector(s, base, m, delta, tok)
      if (Snapshot.commit(base, expect + 1, m.copy(dv = Some(tok))))
        return Right((expect + 1, attempts))
      val latest = TableLog.latest(base)
      val overlap = ((seenV + 1) to latest).filter(v =>
        o30Invalidates(s, base, v).intersect(myDeps).nonEmpty)
      if (overlap.nonEmpty) return Left(overlap)
      expect = latest
    }
    sys.error("unreachable")
  }

  /** An OPTIMIZE writer's commit protocol: it materialized `seenV`'s
    * read under `newToken` and depends on EVERY file of that snapshot
    * — any intervening commit that invalidated one (a DV delete on a
    * file it is about to resurrect) is a semantic conflict and the
    * materialization must re-derive; only commits that invalidated
    * nothing it read (none exist today — an append changes the table
    * contents an OPTIMIZE must carry, so its deps are effectively the
    * whole snapshot) let it rebase. Returns Left(conflicts) or
    * Right((version, attempts)). */
  private[graft] def o30CommitOptimize(s: SparkSession, base: String,
      seenV: Int, newToken: String): Either[Seq[Int], (Int, Int)] = {
    val myDeps = Snapshot.manifestOf(base, seenV).dataTokens
      .flatMap(t => filesOf(base, t)).toSet
    var attempts = 0
    var expect = seenV
    while (true) {
      attempts += 1
      if (Snapshot.commit(base, expect + 1,
          Snapshot.Manifest(newToken, rewriteOf = Some(expect))))
        return Right((expect + 1, attempts))
      val latest = TableLog.latest(base)
      // an append ALSO conflicts with a stale materialization (the new
      // file's rows would vanish), caught by the rewriteOf marker
      // check downstream — but deps-based classification already
      // refuses every shape that changed a file this writer folded
      val overlap = ((seenV + 1) to latest).filter { v =>
        o30Invalidates(s, base, v).intersect(myDeps).nonEmpty ||
          Snapshot.manifestOf(base, v).adds !=
            Snapshot.manifestOf(base, v - 1).adds
      }
      if (overlap.nonEmpty) return Left(overlap)
      expect = latest
    }
    sys.error("unreachable")
  }

  /** O30 — file-level conflict classification (round-20 verdict ask
    * #4, o25's next rung): o25's footprint is the PARTITION — two
    * writers in one partition always conflict there, even when their
    * work is disjoint at file granularity. Here every commit's
    * invalidated-FILE set derives from commit metadata alone and the
    * three-way interleave the verdict names is driven for real, on a
    * table staged as four files (doc_id % 4 slices, so the oracle can
    * name each file's rows):
    *
    *  - **disjoint files**: D1 deletes in file0 (doc_id%4=0 ∧ %5=0),
    *    commits v2. D2 — derived at v1, victims all in file1 — loses
    *    the CAS, classifies v2 as touching only file0, and REBASES:
    *    v3 in exactly 2 attempts, its staged delta byte-identical
    *    (o25 would have re-derived: same table, same "partition");
    *  - **delete-commits-first**: an OPTIMIZE materialized at v1 —
    *    stale under BOTH deletes — loses and classifies [2, 3] as
    *    conflicting (they invalidated files it folded). The stale
    *    staging is proven genuinely wrong (it still carries the
    *    victims); the re-derived materialization commits v4;
    *  - **optimize-commits-first**: D3 derived victim ADDRESSES at v3
    *    (w0-file positions). v4's rewrite invalidated every file it
    *    depends on → conflict. The lost-update it prevents is pinned:
    *    the stale addresses match NOTHING in v4's scan — applying
    *    them would have silently deleted zero rows. D3 re-derives
    *    against v4 and commits v5.
    *
    * The oracle certifies all five versions' visible rows under one
    * hash. Scale shape: classification is O(intervening commits) ×
    * O(delta) metadata reads (the vector deltas), never a data scan;
    * a disjoint-file rebase costs one vector re-merge (O(mask)
    * metadata) + one CAS — the staged victim addresses, like o25's
    * staged partitions, are never re-derived on a physical loss. */
  def o30FileConflicts(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o30_")
    val base = dir.toString
    try {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("source"))
      // four files, one per doc_id%4 slice — the oracle-visible layout,
      // staged in ONE clustered write job (was four sequential appends;
      // each slice is still exactly one whole file)
      locally {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val scratch0 = s"$base/.stage-w0"
        docs.withColumn("__slice", pmod(col("doc_id"), lit(4L)))
          .repartition(col("__slice"))
          .write.partitionBy("__slice").parquet(scratch0)
        Files.createDirectories(Paths.get(base, "data-w0"))
        (0 until 4).foreach { i =>
          val sub = Paths.get(scratch0, s"__slice=$i")
          val part = graft.Tables.listDir(sub)
            .find(_.toString.endsWith(".parquet")).get
          // slice-prefixed name: two slices hashed into one write task
          // would otherwise mint colliding part-file names
          Files.move(part,
            Paths.get(base, "data-w0", s"slice$i-${part.getFileName}"))
        }
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(scratch0))
      }
      require(Snapshot.commit(base, 1, Snapshot.Manifest("w0")),
        "o30: v1 commit failed")
      def stageDelta(pred: org.apache.spark.sql.Column, tok: String,
          atV: Int): Unit =
        Snapshot.read(s, base, atV, addresses = true).filter(pred)
          .select(col("__dv_file").as("file_path"),
            col("__dv_pos").as("pos"))
          .coalesce(1).write.parquet(s"$base/dvdelta-$tok")
      def deltaBytes(tok: String): Seq[(String, Long)] =
        TableLog.files(java.nio.file.Paths.get(base, s"dvdelta-$tok"),
          TableLog.noMarkers)
      val p1 = col("doc_id") % 4 === 0 && col("doc_id") % 5 === 0
      val p2 = col("doc_id") % 4 === 1 && col("doc_id") % 5 === 0
      val p3 = col("doc_id") % 4 === 2 && col("doc_id") % 7 === 0
      // D1 and D2 both derive at v1, victims in DIFFERENT files
      stageDelta(p1, "d1", 1)
      stageDelta(p2, "d2", 1)
      val d2Staged = deltaBytes("d2")
      require(o30CommitDvDelta(s, base, 1, "d1") == Right((2, 1)),
        "o30: D1's uncontended commit failed")
      val d2Res = o30CommitDvDelta(s, base, 1, "d2")
      require(d2Res == Right((3, 2)),
        s"o30: D2 must rebase past the other-file delete in exactly " +
          s"2 CAS attempts, got $d2Res")
      require(deltaBytes("d2") == d2Staged,
        "o30: a disjoint-file rebase must not restage the delta")
      // OPTIMIZE derived at v1 — stale under both deletes
      val staleTok = "wStale"
      Warehouse.o16Stage(base, staleTok,
        Snapshot.read(s, base, 1).coalesce(2))
      val oRes = o30CommitOptimize(s, base, 1, staleTok)
      require(oRes == Left(Seq(2, 3)),
        s"o30: the stale optimize must classify both deletes as " +
          s"conflicting, got $oRes")
      // re-derive from v3 (count rides the staging write — the victim
      // require below otherwise re-derived the masked read), commit v4
      val v3N = Warehouse.o16StageCounted(base, "w1",
        Snapshot.read(s, base, 3).coalesce(2))
      require(s.read.parquet(s"$base/data-$staleTok").count() > v3N,
        "o30: the stale materialization must genuinely carry the victims")
      require(o30CommitOptimize(s, base, 3, "w1") == Right((4, 1)),
        "o30: the re-derived optimize failed")
      // D3 derived ADDRESSES at v3; the rewrite orphaned them
      stageDelta(p3, "d3", 3)
      val d3Res = o30CommitDvDelta(s, base, 3, "d3")
      require(d3Res == Left(Seq(4)),
        s"o30: the post-rewrite delete must classify the optimize as " +
          s"conflicting, got $d3Res")
      // the prevented lost-update: the stale addresses match NOTHING
      // in the rewritten scan — applying them would delete zero rows
      val stale = s.read.parquet(s"$base/dvdelta-d3")
      val v4Scan = Snapshot.read(s, base, 4, addresses = true)
      require(v4Scan.join(stale,
          v4Scan("__dv_file") === stale("file_path") &&
            v4Scan("__dv_pos") === stale("pos"), "left_semi").isEmpty,
        "o30: stale addresses must be meaningless against the rewrite " +
          "— the silent lost delete the classifier prevents")
      require(Warehouse.o22Delete(s, base, p3, "d3b") == 5,
        "o30: D3's re-derived delete landed at the wrong version")
      (1 to 5).map(v =>
          Snapshot.read(s, base, v).withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select(col("version"), col("doc_id"), col("lang"), col("source"))
        .orderBy("version", "doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o30Sql: String =
    """SELECT * FROM (
      |  SELECT 1 AS version, doc_id, lang, source FROM documents
      |  UNION ALL
      |  SELECT 2, doc_id, lang, source FROM documents
      |  WHERE NOT (doc_id % 4 = 0 AND doc_id % 5 = 0)
      |  UNION ALL
      |  SELECT 3, doc_id, lang, source FROM documents
      |  WHERE NOT (doc_id % 4 = 0 AND doc_id % 5 = 0)
      |    AND NOT (doc_id % 4 = 1 AND doc_id % 5 = 0)
      |  UNION ALL
      |  SELECT 4, doc_id, lang, source FROM documents
      |  WHERE NOT (doc_id % 4 = 0 AND doc_id % 5 = 0)
      |    AND NOT (doc_id % 4 = 1 AND doc_id % 5 = 0)
      |  UNION ALL
      |  SELECT 5, doc_id, lang, source FROM documents
      |  WHERE NOT (doc_id % 4 = 0 AND doc_id % 5 = 0)
      |    AND NOT (doc_id % 4 = 1 AND doc_id % 5 = 0)
      |    AND NOT (doc_id % 4 = 2 AND doc_id % 7 = 0))
      |ORDER BY version, doc_id""".stripMargin

  // ---- O32: protocol version gating (reader feature flags) -------------

  /** O32 — protocol/feature gating (the public Delta minReaderVersion /
    * Iceberg format-version mechanism), closing the hazard THIS round's
    * grammar extension created: the o22 manifest grew `add:`/`eq:`
    * lines, and a round-19-era parser (line 1 = token, optional `dv:`)
    * reading such a manifest would SILENTLY ignore them — resurrecting
    * every equality-deleted row and dropping every merged delta file.
    * Wrong rows, no error. The fix every public format ships: commits
    * that use a reader-impacting feature stamp `minReader:2`, and every
    * reader gates BEFORE interpreting a single feature line
    * ([[Snapshot.decode]]), so an old reader refuses loudly
    * naming the version gap.
    *
    * The ladder: v1 plain → v2 DV delete (still protocol-1 grammar —
    * no gratuitous lockout: a v1 reader reads DV tables fine) → v3
    * equality delete (stamps minReader:2). In-op requires:
    *
    *  - v1/v2 carry NO gate and parse under maxReader=1 — old readers
    *    keep working on old-grammar tables;
    *  - v3 carries minReader:2 and a maxReader=1 parse REFUSES, the
    *    message naming both versions;
    *  - the prevented corruption, demonstrated: the legacy GRAMMAR
    *    applied to v3's manifest resolves exactly (token, dv) — its
    *    read equals v2's visible rows, resurrecting every eq-deleted
    *    row (pinned row-for-row). The gate turns that silent wrong
    *    answer into the loud refusal above;
    *  - forward-compat: a forged future manifest (minReader:3) is
    *    refused by THIS reader too — the gate is symmetric in time.
    *
    * The oracle certifies the three versions' visible rows. Scale
    * shape: the gate is one metadata line and one integer compare per
    * manifest read — free — and it is what makes every OTHER grammar
    * extension on this ladder deployable to a fleet of readers that
    * upgrade at different times. */
  def o32ProtocolGate(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o32_")
    val base = dir.toString
    try {
      val cust = customer(s, d).select(col("c_custkey").as("cust_id"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("bal"))
      Warehouse.o16Stage(base, "w0", cust.repartition(4))
      require(Snapshot.commit(base, 1, Snapshot.Manifest("w0")),
        "o32: v1 commit failed")
      require(Warehouse.o22Delete(s, base, col("cust_id") % 10 === 7, "a")
          == 2, "o32: v2 delete landed at the wrong version")
      val delKeys = customer(s, d)
        .filter(col("c_custkey") % 6 === 1)
        .select(col("c_custkey").as("cust_id"))
      require(WarehouseDeletes.o27EqDelete(s, base, delKeys, "k") == 3,
        "o32: v3 eq delete landed at the wrong version")
      // old-grammar versions carry no gate; a v1 reader reads them
      require(Snapshot.manifestOf(base, 1, maxReader = 1)
          .minReader == 1 &&
        Snapshot.manifestOf(base, 2, maxReader = 1).minReader == 1,
        "o32: protocol-1 commits must stay readable by protocol-1 " +
          "readers")
      // the feature commit stamps the gate; an old reader refuses,
      // naming both versions
      require(Snapshot.manifestOf(base, 3).minReader == 2,
        "o32: an eq commit must stamp minReader:2")
      val refused = scala.util.Try(
        Snapshot.manifestOf(base, 3, maxReader = 1))
      require(refused.isFailure &&
          refused.failed.get.getMessage.contains("protocol 2") &&
          refused.failed.get.getMessage.contains("supports 1"),
        s"o32: a v1 reader must refuse the v2 manifest by name, " +
          s"got $refused")
      // the corruption the gate prevents: the legacy grammar (parsed
      // here by hand, as a version-1 reader would) sees only (token, dv)
      // in v3's manifest — its read IS v2's row set, every eq-deleted
      // row resurrected
      val legacyLines = TableLog.read(base, TableLog.manifest(3))
        .split("\n").map(_.trim).filter(_.nonEmpty)
      val legacyRead = Snapshot.scan(s, base, Snapshot.Manifest(
        legacyLines.head,
        legacyLines.find(_.startsWith("dv:")).map(_.stripPrefix("dv:"))))
      val v2Read = Snapshot.read(s, base, 2)
      val v3Read = Snapshot.read(s, base, 3)
      require(Warehouse.symEqual(legacyRead, v2Read,
          Seq("cust_id", "segment", "bal")) &&
        legacyRead.count() > v3Read.count(),
        "o32: the legacy grammar must demonstrably resurrect the " +
          "eq-deleted rows — the silent corruption the gate prevents")
      // forward-compat: a future feature refuses against THIS reader
      require(TableLog.create(base, TableLog.manifest(4),
        "w0\nminReader:3\nfutureFeature:x"), "o32: the forged v4 create lost")
      val future = scala.util.Try(Snapshot.manifestOf(base, 4))
      require(future.isFailure &&
          future.failed.get.getMessage.contains("protocol 3"),
        s"o32: a future-protocol manifest must refuse, got $future")
      (1 to 3).map(v =>
          Snapshot.read(s, base, v).withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select(col("version"), col("cust_id"), col("segment"), col("bal"))
        .orderBy("version", "cust_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o32Sql: String =
    """WITH base AS (
      |  SELECT c_custkey AS cust_id, c_mktsegment AS segment,
      |    c_acctbal AS bal
      |  FROM customer),
      |v2 AS (SELECT * FROM base WHERE cust_id % 10 <> 7),
      |v3 AS (SELECT * FROM v2 WHERE cust_id % 6 <> 1)
      |SELECT * FROM (
      |  SELECT 1 AS version, cust_id, segment, bal FROM base
      |  UNION ALL SELECT 2, cust_id, segment, bal FROM v2
      |  UNION ALL SELECT 3, cust_id, segment, bal FROM v3)
      |ORDER BY version, cust_id""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "o29_retention_checkpoint" -> o29RetentionCheckpoint,
    "o30_file_conflicts" -> o30FileConflicts,
    "o32_protocol_gate" -> o32ProtocolGate,
  )

  val oracle: Map[String, String] = Map(
    "o29_retention_checkpoint" -> o29Sql,
    "o30_file_conflicts" -> o30Sql,
    "o32_protocol_gate" -> o32Sql,
  )
}
