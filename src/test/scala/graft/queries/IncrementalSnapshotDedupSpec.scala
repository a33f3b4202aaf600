package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.{Snapshot, TableLog}

/** d18 — incremental dedup against a COMMITTED fingerprint snapshot.
  * Pins the two mechanism claims the registered query's oracle hash
  * cannot see:
  *
  *  - history text is NEVER rescanned: the day-1 step runs with the
  *    history corpus physically DELETED — only the committed two-column
  *    fingerprint index and the new batch's text exist;
  *  - the index version chain is faithful: v1 stays readable and
  *    byte-stable after the v2 CAS commit, v2 = v1 ∪ batch
  *    fingerprints, and a replayed v2 commit at the stale expectation
  *    loses loudly (idempotent-retry shape, no silent overwrite).
  */
class IncrementalSnapshotDedupSpec extends SparkSpecBase {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("day-1 dedup runs with history text deleted — the index IS the history") {
    val histDir = java.nio.file.Files.createTempDirectory("graft_d18s_hist_")
    val tableDir = java.nio.file.Files.createTempDirectory("graft_d18s_tab_")
    try {
      val hist = docsDf(Seq(
        1L -> "alpha beta gamma delta epsilon zeta",
        2L -> "one two three four five six seven",
        3L -> "red orange yellow green blue indigo violet"))
      hist.write.parquet(s"$histDir/docs")
      // day 0: fingerprint history FROM ITS FILES, commit index v1
      Warehouse.o16Stage(tableDir.toString, "idx0",
        Dedup.d4Simhash64Of(spark.read.parquet(s"$histDir/docs")))
      assert(Snapshot.commit(tableDir.toString, 1, Snapshot.Manifest("idx0")))
      // history text is gone — a rescan would now fail loudly
      org.apache.commons.io.FileUtils.deleteDirectory(histDir.toFile)

      val batch = docsDf(Seq(
        10L -> "alpha beta gamma delta epsilon zeta", // clone of hist 1
        11L -> "completely fresh content nothing shared here",
        12L -> "completely fresh content nothing shared here")) // in-batch dup
      val index = Snapshot.read(spark, tableDir.toString, 1)
      val (pairs, _) = Dedup.d18IncrementalStep(index, batch)
      val got = pairs.orderBy("provenance", "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getString(3))).toSeq
      assert(got.contains((1L, 10L, 0, "vs_index")),
        s"clone of history doc must pair vs_index at hamming 0: $got")
      assert(got.contains((11L, 12L, 0, "in_batch")),
        s"in-batch byte-dup must pair in_batch at hamming 0: $got")
      assert(!got.exists(p => p._4 == "vs_index" && p._1 != 1L),
        s"distinct history docs must not pair: $got")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(histDir.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(tableDir.toFile)
    }
  }

  test("index version chain: v1 immutable under the v2 commit, stale CAS loses") {
    val tableDir = java.nio.file.Files.createTempDirectory("graft_d18s_v_")
    val base = tableDir.toString
    try {
      val fp1 = Dedup.d4Simhash64Of(docsDf(Seq(
        1L -> "alpha beta gamma", 2L -> "one two three")))
      Warehouse.o16Stage(base, "idx0", fp1)
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("idx0")))
      val v1Rows = Snapshot.read(spark, base, 1)
        .collect().map(_.toSeq).toSet
      val fpNew = Dedup.d4Simhash64Of(docsDf(Seq(
        10L -> "brand new crawl doc")))
      Warehouse.o16Stage(base, "idx1",
        Snapshot.read(spark, base, 1).unionByName(fpNew))
      assert(Snapshot.commit(base, 2, Snapshot.Manifest("idx1")))
      // chain is faithful
      assert(TableLog.latest(base) == 2)
      assert(Snapshot.read(spark, base, 1)
        .collect().map(_.toSeq).toSet == v1Rows,
        "v1 must stay readable and unchanged after the v2 commit")
      val v2 = Snapshot.read(spark, base, 2).collect().map(_.toSeq).toSet
      assert(v2.size == v1Rows.size + 1 && v1Rows.subsetOf(v2),
        "v2 must be exactly v1 plus the batch fingerprints")
      // a crawl shard replaying its commit at the stale expectation
      // must LOSE (and would then retry against v2) — never overwrite
      Warehouse.o16Stage(base, "idx1-replay", fpNew)
      assert(!Snapshot.commit(base, 2, Snapshot.Manifest("idx1-replay")),
        "stale CAS must conflict loudly, not last-writer-win")
      assert(Snapshot.read(spark, base, 2)
        .collect().map(_.toSeq).toSet == v2,
        "the losing replay must not perturb the committed v2")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tableDir.toFile)
  }
}
