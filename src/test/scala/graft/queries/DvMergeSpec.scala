package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** o28 — DV-aware MERGE (the Delta MERGE-with-deletion-vectors shape).
  * The registered query drives the real CDC change-set; this spec pins
  * the mechanism edges on a controlled table:
  *
  *  - untouched data files are byte-identical across the merge — the
  *    commit writes ONE delta file and ONE vector, nothing else;
  *  - merge semantics equal o10Apply's (update / insert / delete /
  *    absent-key-delete-no-op) at a fraction of the write cost;
  *  - NO-OP updates commit nothing — no mask entry, no postimage row
  *    (they would otherwise break the metadata CDF's equality with the
  *    o20 diff);
  *  - the o24 metadata feed classifies all four change types from the
  *    commit alone;
  *  - OPTIMIZE folds base + delta + mask into one token, feeding empty
  *    through its marker.
  */
class DvMergeSpec extends SparkSpecBase {

  // (cust_id, segment, bal) base + (cust_id, op, new_bal) change-set —
  // o10Apply's exact shapes
  private def base5 = {
    import spark.implicits._
    Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0),
      (4L, "D", 40.0), (5L, "E", 50.0))
      .toDF("cust_id", "segment", "bal")
  }

  private def chgOf(rows: (Long, String, Double)*) = {
    import spark.implicits._
    rows.toDF("cust_id", "op", "new_bal")
  }

  private def listing(dir: java.nio.file.Path, tok: String) = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.toString.contains(s"/data-$tok/") &&
        !p.getFileName.toString.startsWith("_"))
      .map(p => (p.toString, java.nio.file.Files.size(p)))
      .toSeq.sortBy(_._1)
  }

  test("merge touches no base byte and matches o10Apply's algebra") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o28s_")
    val base = dir.toString
    try {
      Warehouse.o16Stage(base, "t0", base5.repartition(2))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      val before = listing(dir, "t0")
      // update 2 (real), update 3 (NO-OP: same bal), delete 4,
      // insert 9, delete 99 (absent — no-op)
      val chg = chgOf((2L, "U", 21.0), (3L, "U", 30.0), (4L, "D", 0.0),
        (9L, "U", 90.0), (99L, "D", 0.0))
      assert(WarehouseDeletes.o28Merge(spark, base, chg, "m1", "mv") == 2)
      assert(listing(dir, "t0") == before,
        "a DV-aware merge must leave the base files byte-identical")
      val got = Snapshot.read(spark, base, 2).orderBy("cust_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSeq
      assert(got == Seq((1L, "A", 10.0), (2L, "B", 21.0), (3L, "C", 30.0),
        (5L, "E", 50.0), (9L, "UNKNOWN", 90.0)))
      // the no-op update committed NOTHING: the delta file carries only
      // the real postimage + the insert, the vector only 2 and 4
      assert(spark.read.parquet(s"$base/data-m1").count() == 2)
      assert(spark.read.parquet(s"$base/dv-mv").count() == 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the o24 feed classifies all four change types from metadata") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o28s_")
    val base = dir.toString
    try {
      Warehouse.o16Stage(base, "t0", base5)
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      val chg = chgOf((2L, "U", 21.0), (4L, "D", 0.0), (9L, "U", 90.0))
      assert(WarehouseDeletes.o28Merge(spark, base, chg, "m1", "mv") == 2)
      val feed = Warehouse.o24FeedOf(spark, base, 1,
          Seq("cust_id", "segment", "bal"), key = Some("cust_id"))
        .orderBy("cust_id", "change_type")
        .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
      assert(feed == Seq((2L, "update_postimage"), (2L, "update_preimage"),
        (4L, "delete"), (9L, "insert")))
      // and it equals the o20 snapshot diff exactly
      val cols = Seq("cust_id", "segment", "bal")
      val diff = Warehouse.o20Diff(Snapshot.read(spark, base, 1),
          Snapshot.read(spark, base, 2), "cust_id",
          Seq("segment", "bal"))
        .select((cols.map(col) :+ col("change_type")): _*)
      val f2 = Warehouse.o24FeedOf(spark, base, 1, cols,
        key = Some("cust_id"))
      assert(f2.join(diff, cols :+ "change_type", "left_anti").isEmpty &&
        diff.join(f2, cols :+ "change_type", "left_anti").isEmpty)
      // without the key, the merge shape refuses rather than guesses
      val refused = scala.util.Try(
        Warehouse.o24FeedOf(spark, base, 1, cols).collect())
      assert(refused.isFailure)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("merges compose, and OPTIMIZE folds base + delta + mask away") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o28s_")
    val base = dir.toString
    try {
      Warehouse.o16Stage(base, "t0", base5)
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      assert(WarehouseDeletes.o28Merge(spark, base,
        chgOf((2L, "U", 21.0), (9L, "U", 90.0)), "m1", "v1") == 2)
      // the second merge updates a row the FIRST merge wrote (9 lives
      // in delta file m1) — its old position masks in m1, not t0
      assert(WarehouseDeletes.o28Merge(spark, base,
        chgOf((9L, "U", 91.0), (1L, "D", 0.0)), "m2", "v2") == 3)
      val got = Snapshot.read(spark, base, 3).orderBy("cust_id")
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(got == Seq((2L, 21.0), (3L, 30.0), (4L, 40.0), (5L, 50.0),
        (9L, 91.0)))
      assert(Warehouse.o22Optimize(spark, base, "t1") == 4)
      val m4 = Snapshot.manifestOf(base, 4)
      assert(m4.dataTokens == Seq("t1") && m4.dv.isEmpty &&
        m4.rewriteOf.contains(3))
      assert(Warehouse.o24FeedOf(spark, base, 3,
        Seq("cust_id", "segment", "bal")).isEmpty)
      assert(spark.read.parquet(s"$base/data-t1").count() == 5)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
