package graft.sink

import graft.{GraftSession, SparkSpecBase, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Pins the a13 compaction contract (r12 verdict #1):
  *   1. files-after ≤ ceil(bytes-before / target) for every directory —
  *      including a tiny target that forces MULTI-file bin-packing, not
  *      just coalesce-to-1;
  *   2. the row set is lossless through the swap;
  *   3. re-running compaction is a no-op (idempotence);
  *   4. no staging/retired debris survives a completed run, and staging
  *      names are dot-prefixed (hidden from partition discovery) while
  *      in flight.
  */
class CompactSpec extends SparkSpecBase {

  private def scratch(tag: String): (String, org.apache.hadoop.fs.FileSystem) = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_compactspec_${tag}_" +
      java.util.UUID.randomUUID().toString.take(8)
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    (base, fs)
  }

  private def fragmentedLayout(base: String, s: SparkSession = spark): Unit = {
    val docs = Tables.documents(s, sf)
      .select(col("doc_id"), col("source"), col("lang"))
    Sinks.writePartitioned(docs.repartition(8, col("doc_id")), base,
      Seq("source"), compact = false)
  }

  test("compaction meets the bin-pack bound and is lossless") {
    val (base, fs) = scratch("bound")
    try {
      fragmentedLayout(base)
      val rowsBefore = spark.read.parquet(base)
        .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted
      val dirsBefore = Compact.leafDataDirs(fs, new Path(base))
      assert(dirsBefore.nonEmpty)
      val fragmented = dirsBefore.exists(d =>
        fs.listStatus(d).count(st => st.isFile &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")) > 1)
      assert(fragmented, "harness must produce multi-file directories")

      val target = 64L << 20
      val results = Compact.compactPartitioned(spark, base, target)
      assert(results.exists(_.compacted))
      results.foreach { r =>
        assert(r.filesAfter <= Compact.targetFileCount(r.bytesBefore, target),
          s"${r.dir}: ${r.filesAfter} files over bound")
        if (r.compacted) assert(r.filesAfter < r.filesBefore)
      }
      val rowsAfter = spark.read.parquet(base)
        .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted
      assert(rowsAfter.toSeq == rowsBefore.toSeq, "row set changed through the swap")
    } finally fs.delete(new Path(base), true)
  }

  test("a mid-range target bin-packs to multiple files, still within bound") {
    val (base, fs) = scratch("multi")
    // Tiny test files all land in ONE scan partition under the default
    // file-grouping costs, which would make every compaction a
    // coalesce-to-1 regardless of target. Pin the grouping down so the
    // scan sees one partition per file — the shape a 100 TB directory
    // has naturally — on a scoped session.
    try GraftSession.withConf(spark, Seq(
        "spark.sql.files.maxPartitionBytes" -> "2048",
        "spark.sql.files.openCostInBytes" -> "0")) { c =>
      fragmentedLayout(base, c)
      val dirs = Compact.leafDataDirs(fs, new Path(base))
      val maxBytes = dirs.map(d => fs.listStatus(d)
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(_.getLen).sum).max
      val target = math.max(1L, maxBytes / 3) // largest dir needs 3-4 files
      val results = Compact.compactPartitioned(c, base, target)
      results.foreach { r =>
        assert(r.filesAfter <= Compact.targetFileCount(r.bytesBefore, target))
      }
      val multi = results.filter(r => r.compacted &&
        Compact.targetFileCount(r.bytesBefore, target) > 1)
      assert(multi.nonEmpty,
        "no fragmented directory needed >1 output file — harness too small")
      multi.foreach(r => assert(r.filesAfter > 1,
        s"${r.dir}: bin-pack collapsed to one file despite a ${r.bytesBefore}-byte dir"))
    } finally fs.delete(new Path(base), true)
  }

  test("compaction is idempotent and leaves no staging debris") {
    val (base, fs) = scratch("idem")
    try {
      fragmentedLayout(base)
      val first = Compact.compactPartitioned(spark, base, 64L << 20)
      assert(first.exists(_.compacted))
      val second = Compact.compactPartitioned(spark, base, 64L << 20)
      assert(second.forall(!_.compacted), "second run must be a no-op")
      assert(second.map(r => r.dir -> r.filesAfter).toMap ==
        first.map(r => r.dir -> r.filesAfter).toMap)
      // completed runs clean up: nothing hidden left anywhere in the tree
      def hiddenDebris(p: Path): Seq[String] =
        fs.listStatus(p).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith(".")) Seq(st.getPath.toString)
          else if (st.isDirectory) hiddenDebris(st.getPath)
          else Seq.empty
        }
      assert(hiddenDebris(new Path(base)).isEmpty)
    } finally fs.delete(new Path(base), true)
  }

  test("targetFileCount is the ceiling bin-pack bound") {
    assert(Compact.targetFileCount(0L, 100L) == 1)
    assert(Compact.targetFileCount(1L, 100L) == 1)
    assert(Compact.targetFileCount(100L, 100L) == 1)
    assert(Compact.targetFileCount(101L, 100L) == 2)
    assert(Compact.targetFileCount(1000L, 100L) == 10)
    intercept[IllegalArgumentException](Compact.targetFileCount(10L, 0L))
  }
}
