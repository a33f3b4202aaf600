package graft.streaming

import graft.{GraftSession, SparkSpecBase, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Pins streaming recovery under a STATE-PROVIDER change (r12 verdict
  * stretch #8 — the last operational unknown in the streaming surface):
  * a checkpoint written under the default HDFS-backed state store is
  * resumed by a session configured for RocksDB. Spark's documented
  * contract is that `spark.sql.streaming.stateStore.providerClass` is
  * one of the confs RECORDED IN THE CHECKPOINT's offsets metadata and
  * restored from there on resume — the checkpoint wins over the
  * session — so a provider flip mid-deployment must NOT corrupt state,
  * fail, or silently restart from empty: the resumed run keeps reading
  * the HDFS-backed state and the terminal aggregate reflects both
  * runs' data. This spec pins all three observables: the resume
  * completes, the recovered aggregate is exactly A∪B, and the offsets
  * metadata of BOTH runs records the original provider (proving the
  * session's RocksDB setting was overridden by the checkpoint, not
  * merely unused).
  */
class StateFormatRecoverySpec extends SparkSpecBase {

  private val hdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private def providerInOffsets(cp: java.nio.file.Path): Seq[String] = {
    val dir = cp.resolve("offsets")
    if (!java.nio.file.Files.isDirectory(dir)) return Seq.empty
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .map { p =>
        val txt = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        txt.linesIterator.find(_.contains("stateStore.providerClass"))
          .getOrElse("")
      }
  }

  test("RocksDB-configured session resumes an HDFS-provider checkpoint: state survives, checkpoint provider wins") {
    val rawSchema = Tables.eventsRaw(spark, sf).schema
    val root = java.nio.file.Files.createTempDirectory("graft_stfmt_")
    val data = root.resolve("data"); java.nio.file.Files.createDirectory(data)
    val cp = root.resolve("cp")
    val runId = java.util.UUID.randomUUID().toString.replace("-", "").take(12)

    /** Run the stream once on a clone of the spec session set to 4
      * shuffle partitions and state-store `provider`, then hand the
      * clone (which holds the memory sink's view) to `after`. */
    def runOnce[A](sink: String, provider: String)(
        after: SparkSession => A): A =
      GraftSession.withConf(spark, Seq(
          "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.streaming.stateStore.providerClass" -> provider)) { c =>
        try {
          val ev = Tables.normalizeTs(c.readStream
              .schema(rawSchema).parquet(data.toString))
            .withWatermark("ts", "10 minutes")
          val q = EventWindows.tumbling(ev)
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", cp.toString)
            .trigger(Trigger.AvailableNow())
            .start()
          assert(q.awaitTermination(180000), s"$sink did not finish in time")
          after(c)
        } finally c.catalog.dropTempView(sink)
      }

    try {
      val src = java.nio.file.Paths.get(s"$sf/events.parquet")
      java.nio.file.Files.copy(src, data.resolve("a.parquet"))
      runOnce(s"stfmt_run1_$runId", hdfsProvider)(_ => ())
      java.nio.file.Files.copy(src, data.resolve("b.parquet"))
      // run 2: the session asks for RocksDB; the checkpoint was written
      // under the HDFS-backed provider
      val mismatches =
        runOnce(s"stfmt_run2_$runId", StreamRun.rocksDbProvider) { c =>
          // state survived: every (window, type) count doubled exactly
          val run2 = c.table(s"stfmt_run2_$runId")
          val expected = EventWindows.tumbling(Tables.events(c, sf))
            .select(col("window_start"), col("event_type"),
              (col("n") * 2).as("n"))
          run2.select(col("window_start"), col("event_type"), col("n"))
            .join(expected, Seq("window_start", "event_type"), "full")
            .filter(run2("n").isNull || expected("n").isNull ||
              run2("n") =!= expected("n"))
            .count()
        }
      assert(mismatches == 0,
        "recovered aggregate is not exactly A ∪ B — state was lost or doubled")

      // the checkpoint's provider won on resume: every offsets entry
      // (including run 2's new batch) records the HDFS-backed provider
      val provs = providerInOffsets(cp)
      assert(provs.size >= 2, s"expected ≥2 offsets entries, got ${provs.size}")
      assert(provs.forall(_.contains("HDFSBackedStateStoreProvider")),
        s"offsets metadata lost the original provider:\n${provs.mkString("\n")}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
