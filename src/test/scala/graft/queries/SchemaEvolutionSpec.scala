package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.Snapshot

/** Pins o17's snapshot schema evolution beyond the registered row's
  * in-op requires: schema NARROWING is a commit like any other (a
  * dropped column vanishes from the new version and time travel still
  * serves it from the old), and evolution composes with o13 retention
  * (vacuuming the pre-evolution version leaves the evolved schema
  * serving; the expired version fails loudly, never with a wrong
  * schema).
  */
class SchemaEvolutionSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_o17spec_").toString

  test("widen then narrow: each version reads with exactly its own schema") {
    val base = freshTable()
    try {
      Warehouse.o12Commit(base, 0,
        Seq((1L, "en")).toDF("doc_id", "lang"))
      Warehouse.o12Commit(base, 1,
        Seq((1L, "en", "cc")).toDF("doc_id", "lang", "source"))
      // the column is dropped again - narrowing is just another commit
      Warehouse.o12Commit(base, 2, Seq(Tuple1(1L)).toDF("doc_id"))
      assert(Snapshot.read(spark, base, 0)
        .schema.fieldNames.toSeq == Seq("doc_id", "lang"))
      assert(Snapshot.read(spark, base, 1)
        .schema.fieldNames.toSeq == Seq("doc_id", "lang", "source"))
      assert(Snapshot.read(spark, base, 2)
        .schema.fieldNames.toSeq == Seq("doc_id"))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("evolution composes with retention: vacuum keeps the evolved schema serving") {
    val base = freshTable()
    try {
      Warehouse.o12Commit(base, 0,
        Seq((1L, "en")).toDF("doc_id", "lang"))
      Warehouse.o12Commit(base, 1,
        Seq((1L, "en", "cc")).toDF("doc_id", "lang", "source"))
      val (expired, _) = Warehouse.vacuum(base, retain = 1)
      assert(expired == Seq(0))
      val v1 = Snapshot.read(spark, base, 1)
      assert(v1.schema.fieldNames.contains("source") && v1.count() == 1)
      val thrown = intercept[IllegalArgumentException] {
        Snapshot.read(spark, base, 0)
      }
      assert(thrown.getMessage.contains("not committed"),
        "an expired pre-evolution version must fail loudly, never " +
          "serve a stale schema")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }
}
