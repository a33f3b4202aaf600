package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** o32 — the reader protocol gate in isolation. The registered row
  * drives the refusal + the legacy-corruption demo; this pins the
  * gate's algebra:
  *
  *  - the gate is PER-VERSION (each manifest declares what reading IT
  *    requires): an old reader reads every version whose grammar it
  *    speaks — including post-OPTIMIZE versions after the features
  *    retire — and refuses exactly the feature-carrying ones;
  *  - the gate propagates through commits that CARRY features forward
  *    (a DV delete on top of an eq entry still stamps);
  *  - every consumer path gates automatically (all parsing goes
  *    through Snapshot.decode).
  */
class ProtocolGateSpec extends SparkSpecBase {

  private def table(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  test("per-version gating: old readers keep every version they can read correctly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_o32s_")
    val base = dir.toString
    try {
      import spark.implicits._
      Warehouse.o16Stage(base, "t0",
        table(Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("t0")))
      assert(WarehouseDeletes.o27EqDelete(spark, base,
        Seq(2L).toDF("k"), "eq0") == 2)
      // a DV delete CARRIES the eq entry forward — still gated
      assert(Warehouse.o22Delete(spark, base, col("k") === 4, "dv0") == 3)
      assert(Snapshot.manifestOf(base, 3).minReader == 2)
      // OPTIMIZE retires the features; the fresh version is protocol-1
      // again — per-version gating, not a monotone table-level lock
      assert(Warehouse.o22Optimize(spark, base, "t1") == 4)
      assert(Snapshot.manifestOf(base, 4).minReader == 1)
      def readableBy1(v: Int): Boolean =
        scala.util.Try(
          Snapshot.manifestOf(base, v, maxReader = 1)).isSuccess
      assert(readableBy1(1) && !readableBy1(2) && !readableBy1(3) &&
        readableBy1(4),
        "a v1 reader must read exactly the versions whose grammar it " +
          "speaks")
      // and the v2 reader reads everything, correctly
      assert(Snapshot.read(spark, base, 3).orderBy("k")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
      assert(Snapshot.read(spark, base, 4).count() == 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
