package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.table.{Snapshot, TableLog}

/** O31 — row tracking (round-20 verdict stretch #6, the public Delta
  * row-tracking shape): a stable per-row id that SURVIVES physical
  * rewrites, so change consumers can pair pre- and post-images without
  * a business key and OPTIMIZE stops looking like delete-everything +
  * insert-everything to downstream CDC.
  *
  * The id is never a global sort (a corpus-wide row_number would be a
  * driver-side scale killer): at ingest, ids exist only VIRTUALLY —
  * `rid = file_base + row_index`, where the per-file bases live in a
  * sidecar (`ridbase-<token>`: one row per FILE, computed from file
  * row counts at commit time — O(files) metadata, the Delta
  * `base_row_id` mechanism). The first rewrite MATERIALIZES the id as
  * a physical `__rid` column (rewritten files get fresh positions, so
  * the virtual rule can no longer hold — exactly when Delta
  * materializes too); readers pick per token: physical column if the
  * schema carries it, sidecar-derived otherwise, so mixed-generation
  * tables read seamlessly.
  */
object RowTracking {

  /** One data token's scan with (`__rid`, `__file`, `__pos`): physical
    * `__rid` when the files carry it, else sidecar-derived
    * base + row_index (one broadcast of the O(files) base map). */
  private def o31Scan(s: SparkSession, base: String,
      token: String): DataFrame = {
    val df = s.read.parquet(s"$base/data-$token")
    val withPos = df.withColumn("__file", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index"))
    if (df.columns.contains("__rid")) withPos
    else {
      val bases = s.read.parquet(s"$base/ridbase-$token")
      withPos.join(broadcast(bases),
          withPos("__file") === bases("file_path"))
        .withColumn("__rid", col("rid_base") + col("__pos"))
        .drop("file_path", "rid_base")
    }
  }

  /** The version's masked scan carrying row ids (dv mask only — o31
    * tables don't mix with equality entries; compose via o27's
    * conversion first). */
  private[graft] def o31Masked(s: SparkSession, base: String,
      v: Int): DataFrame = {
    val m = Snapshot.manifestOf(base, v)
    val scan = m.dataTokens.map(t => o31Scan(s, base, t))
      .reduce(_ unionByName _)
    m.dv match {
      case None => scan
      case Some(t) =>
        val dv = s.read.parquet(s"$base/dv-$t")
        scan.join(broadcast(dv),
          scan("__file") === dv("file_path") && scan("__pos") === dv("pos"),
          "left_anti")
    }
  }

  /** Ingest: stage the data, then write the sidecar base map — one row
    * per file, bases = exclusive prefix sums of per-file row counts in
    * file-name order. O(files) driver metadata from ONE column-pruned
    * count pass; no global sort anywhere. */
  private[graft] def o31Ingest(s: SparkSession, base: String,
      token: String, df: DataFrame): Long = {
    Warehouse.o16Stage(base, token, df)
    val counts = s.read.parquet(s"$base/data-$token")
      .groupBy(col("_metadata.file_path").as("file_path")).count()
      .orderBy("file_path")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bases = counts.map(_._2).scanLeft(0L)(_ + _).init
    import s.implicits._
    counts.map(_._1).zip(bases).toSeq.toDF("file_path", "rid_base")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/ridbase-$token")
    // total staged rows — already in the sidecar pass, so callers whose
    // proofs need the corpus count never pay another scan for it
    counts.map(_._2).sum
  }

  /** UPDATE ... WHERE pred, row-tracking style: victims' old positions
    * join the vector, the postimages land in one delta file CARRYING
    * their `__rid` physically — the id follows the row through the
    * rewrite, which is the entire point. */
  private[graft] def o31Update(s: SparkSession, base: String,
      pred: org.apache.spark.sql.Column, set: (String, org.apache.spark.sql.Column),
      addToken: String, dvToken: String): Int = {
    val v = TableLog.latest(base)
    val m = Snapshot.manifestOf(base, v)
    val victims = o31Masked(s, base, v).filter(pred).localCheckpoint()
    victims.withColumn(set._1, set._2)
      .drop("__file", "__pos")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/data-$addToken")
    val addrs = victims.select(col("__file").as("file_path"),
      col("__pos").as("pos"))
    Snapshot.writeVector(s, base, m, addrs, dvToken)
    require(Snapshot.commit(base, v + 1,
        m.copy(dv = Some(dvToken), adds = m.adds :+ addToken)),
      s"o31: update commit at version ${v + 1} lost the CAS race")
    v + 1
  }

  /** OPTIMIZE with row tracking: materialize the masked read INCLUDING
    * its `__rid` into the fresh token — rewritten rows get new
    * positions but keep their ids (Delta: row tracking preserved
    * across OPTIMIZE by physical materialization). */
  private[graft] def o31Optimize(s: SparkSession, base: String,
      newToken: String): Int = {
    val v = TableLog.latest(base)
    o31Masked(s, base, v).drop("__file", "__pos")
      .coalesce(2).write.mode("overwrite").parquet(s"$base/data-$newToken")
    require(Snapshot.commit(base, v + 1,
        Snapshot.Manifest(newToken, rewriteOf = Some(v))),
      s"o31: optimize commit at version ${v + 1} lost the CAS race")
    v + 1
  }

  /** The update CDF derived from commit metadata, paired by ROW ID —
    * no business key needed (what o24's merge shape cannot do without
    * one): preimages are the masked rows at the vector delta's
    * addresses, postimages the delta file's rows; same `__rid` on both
    * sides = an update, a pre without a post = delete, a post without
    * a pre = insert. */
  private[graft] def o31FeedOf(s: SparkSession, base: String,
      v: Int, cols: Seq[String]): DataFrame = {
    val prev = Snapshot.manifestOf(base, v)
    val next = Snapshot.manifestOf(base, v + 1)
    require(next.token == prev.token && next.adds.startsWith(prev.adds) &&
        next.dv.exists(!prev.dv.contains(_)),
      s"o31: step $v->${v + 1} is not an update-shaped commit")
    val delta = Snapshot.vectorDelta(s, base, prev, next).get
    val prevMasked = o31Masked(s, base, v)
    val pre = prevMasked.join(broadcast(delta),
        prevMasked("__file") === delta("file_path") &&
          prevMasked("__pos") === delta("pos"), "left_semi")
      .select((col("__rid") +: cols.map(col)): _*)
    val post = next.adds.drop(prev.adds.size)
      .map(t => o31Scan(s, base, t)).reduce(_ unionByName _)
      .select((col("__rid") +: cols.map(col)): _*)
    val postRids = post.select("__rid").distinct()
    val preRids = pre.select("__rid").distinct()
    pre.join(broadcast(postRids), Seq("__rid"), "left_semi")
      .withColumn("change_type", lit("update_preimage"))
      .unionByName(pre.join(broadcast(postRids), Seq("__rid"), "left_anti")
        .withColumn("change_type", lit("delete")))
      .unionByName(post.join(broadcast(preRids), Seq("__rid"), "left_semi")
        .withColumn("change_type", lit("update_postimage")))
      .unionByName(post.join(broadcast(preRids), Seq("__rid"), "left_anti")
        .withColumn("change_type", lit("insert")))
      .drop("__rid")
  }

  /** O31 — the registered ladder. Ids are assigned at ingest (virtual,
    * sidecar-derived), survive a DV delete, a MATERIALIZING first
    * OPTIMIZE, a row-tracked UPDATE, and a second OPTIMIZE generation.
    * In-op requires pin what the oracle cannot see:
    *
    *  - ids are unique at v1 and every (rid → doc_id) pair at v3
    *    equals v2's surviving pairs EXACTLY — the first rewrite moved
    *    every row to a new file+position yet no id changed;
    *  - the UPDATE keeps its victims' ids: v4's (rid → doc_id) map
    *    equals v3's (only `source` changed);
    *  - generation 2: v5's (rid, doc_id, source) triples equal v4's —
    *    ids survive a rewrite OF a rewrite, including the updated rows
    *    that now live in their third physical location;
    *  - the rid-paired update CDF for the v3→v4 step equals the o20
    *    business-key diff EXACTLY — row tracking recovers update
    *    semantics from metadata with no key at all.
    *
    * The oracle certifies all five versions' visible rows under one
    * hash. Scale shape: the sidecar is O(files) metadata; id
    * derivation is a broadcast of the base map; materialization rides
    * rewrites that were happening anyway; the update CDF is O(delta)
    * like o24's. */
  def o31RowTracking(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_o31_")
    val base = dir.toString
    val cols = Seq("doc_id", "lang", "source")
    try {
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        col("source"))
      // the staged row count rides o31Ingest's sidecar pass — the
      // uniqueness require below otherwise re-scanned the corpus twice
      val nDocs = o31Ingest(s, base, "w0", docs.repartition(4))
      require(Snapshot.commit(base, 1, Snapshot.Manifest("w0")),
        "o31: v1 commit failed")
      // ONE materialization per version: the ladder's requires otherwise
      // re-derive each version's masked scan 2-4× (every isEmpty/count
      // action is its own pass over the table at any scale)
      val snaps = scala.collection.mutable.Map[Int, DataFrame]()
      def snap(v: Int): DataFrame = snaps.getOrElseUpdate(v,
        o31Masked(s, base, v)
          .select(col("__rid"), col("doc_id"), col("lang"), col("source"))
          .localCheckpoint())
      def rids(v: Int): DataFrame = snap(v).select("__rid", "doc_id")
      // uniqueness + cardinality in ONE aggregate action (was 4 actions:
      // two counts of the read, two corpus counts)
      val v1Stats = snap(1)
        .agg(count(lit(1)), count_distinct(col("__rid"))).head()
      require(v1Stats.getLong(0) == nDocs && v1Stats.getLong(1) == nDocs,
        "o31: ingest ids must be unique, one per row")
      require(Warehouse.o22Delete(s, base, col("doc_id") % 10 === 6, "a")
          == 2, "o31: v2 delete landed at the wrong version")
      // first OPTIMIZE: every row moves, no id changes
      require(o31Optimize(s, base, "w1") == 3,
        "o31: optimize landed at the wrong version")
      require(s.read.parquet(s"$base/data-w1").columns.contains("__rid"),
        "o31: the rewrite must MATERIALIZE the id column")
      require(Warehouse.symEqual(rids(3), rids(2), Seq("__rid", "doc_id")),
        "o31: the first rewrite changed a row id")
      // row-tracked UPDATE, then the rid-paired CDF equals the o20 diff
      require(o31Update(s, base, col("doc_id") % 12 === 5,
          "source" -> lit("relabeled"), "m1", "b") == 4,
        "o31: update landed at the wrong version")
      require(Warehouse.symEqual(rids(4), rids(3), Seq("__rid", "doc_id")),
        "o31: the update changed a row id")
      val feed = o31FeedOf(s, base, 3, cols).localCheckpoint()
      val diff = Warehouse.o20Diff(
          snap(3).select(cols.map(col): _*),
          snap(4).select(cols.map(col): _*),
          "doc_id", Seq("lang", "source"))
        .select((cols.map(col) :+ col("change_type")): _*)
      require(Warehouse.symEqual(feed, diff, cols :+ "change_type"),
        "o31: the rid-paired update CDF must equal the o20 key diff")
      require(!feed.filter(col("change_type") === "update_postimage")
          .isEmpty,
        "o31: the harness must exercise real updates")
      // generation 2: ids survive a rewrite OF a rewrite
      require(o31Optimize(s, base, "w2") == 5,
        "o31: second optimize landed at the wrong version")
      require(Warehouse.symEqual(
          snap(5).select("__rid", "doc_id", "source"),
          snap(4).select("__rid", "doc_id", "source"),
          Seq("__rid", "doc_id", "source")),
        "o31: the second rewrite generation changed a row id")
      (1 to 5).map(v => snap(v).withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select(col("version"), col("doc_id"), col("lang"), col("source"))
        .orderBy("version", "doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val o31Sql: String =
    """SELECT * FROM (
      |  SELECT 1 AS version, doc_id, lang, source FROM documents
      |  UNION ALL
      |  SELECT 2, doc_id, lang, source FROM documents
      |  WHERE doc_id % 10 <> 6
      |  UNION ALL
      |  SELECT 3, doc_id, lang, source FROM documents
      |  WHERE doc_id % 10 <> 6
      |  UNION ALL
      |  SELECT 4, doc_id, lang,
      |    CASE WHEN doc_id % 12 = 5 THEN 'relabeled' ELSE source END
      |  FROM documents WHERE doc_id % 10 <> 6
      |  UNION ALL
      |  SELECT 5, doc_id, lang,
      |    CASE WHEN doc_id % 12 = 5 THEN 'relabeled' ELSE source END
      |  FROM documents WHERE doc_id % 10 <> 6)
      |ORDER BY version, doc_id""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "o31_row_tracking" -> o31RowTracking,
  )

  val oracle: Map[String, String] = Map(
    "o31_row_tracking" -> o31Sql,
  )
}
