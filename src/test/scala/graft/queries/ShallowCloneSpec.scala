package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** o21 — shallow clone. Pins the divergence contracts around the
  * registered query's zero-copy/copy-on-write core: source edits after
  * the clone never reach the clone (it is pinned to the cloned VERSION's
  * files, which are immutable), and the documented vacuum caveat fails
  * LOUDLY (a clone whose source data was deleted errors on read instead
  * of returning partial data).
  */
class ShallowCloneSpec extends SparkSpecBase {

  private def mk() = (
    java.nio.file.Files.createTempDirectory("graft_o21s_a_"),
    java.nio.file.Files.createTempDirectory("graft_o21s_b_"))

  private def seed(base: String) = {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "lang")
    Warehouse.o16Stage(base, "a0", df)
    assert(Snapshot.commit(base, 1, Snapshot.Manifest("a0")))
  }

  test("source edits after the clone never reach the clone") {
    val (a, b) = mk()
    try {
      import spark.implicits._
      seed(a.toString)
      assert(Warehouse.o21ShallowCloneOf(a.toString, 1, b.toString))
      // the source moves on: v2 rewrites everything
      Warehouse.o16Stage(a.toString, "a1",
        Seq((1L, "CHANGED"), (2L, "CHANGED")).toDF("doc_id", "lang"))
      assert(Snapshot.commit(a.toString, 2, Snapshot.Manifest("a1")))
      val cloneLangs = Snapshot.read(spark, b.toString, 1)
        .orderBy("doc_id").collect().map(_.getString(1)).toSeq
      assert(cloneLangs == Seq("x", "y"),
        "the clone must keep serving the version it was cloned from")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(a.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(b.toFile)
    }
  }

  test("the vacuum caveat fails loudly: a clone over deleted source data errors") {
    val (a, b) = mk()
    try {
      seed(a.toString)
      assert(Warehouse.o21ShallowCloneOf(a.toString, 1, b.toString))
      // simulate a source-side vacuum that ignored live clones (the
      // documented operational caveat): the shared files vanish
      org.apache.commons.io.FileUtils
        .deleteDirectory(a.resolve("data-a0").toFile)
      val failed =
        try { Snapshot.read(spark, b.toString, 1).count(); false }
        catch { case _: Exception => true }
      assert(failed,
        "a clone over vacuumed source data must fail loudly, not serve partial data")
      // and a duplicate clone attempt CASes against the existing manifest
      assert(!Warehouse.o21ShallowCloneOf(a.toString, 1, b.toString))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(a.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(b.toFile)
    }
  }
}
