package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.table.TableLog

/** The change-feed consumers' shared loop (st26, st27, st28): a
  * table's numbered manifests ARE the notification channel — a new
  * commit is a new `manifest-N` file — so a file stream over them
  * delivers versions in commit order, and each micro-batch feeds the
  * versions it carries.
  */
private[streaming] object ManifestFeed {

  /** Move `manifest-v`'s mtime `v` minutes ahead, so a
    * `maxFilesPerTrigger=1` stream delivers the versions as separate
    * micro-batches in commit order. */
  def stamp(base: String, v: Int): Unit =
    Files.setLastModifiedTime(Paths.get(base, TableLog.manifest(v)),
      FileTime.fromMillis(System.currentTimeMillis() + v * 60000L))

  /** One catch-up run over the manifests at `base`. Every version not
    * yet in the `fed` ledger goes, in order, through the retention gap
    * guard ([[FeedRetention.requireNoGap]]: an unread version vacuumed
    * from under the consumer fails loudly, never skips), then `feed`,
    * then the ledger. `feed` must be idempotent per version (an
    * overwrite of the version's own output): feed FIRST, ledger SECOND
    * means a crash in between replays the version and rewrites the same
    * bytes, where ledger-first would skip it for good — silent feed
    * loss. The ledger doubles as the processed-version set, so a batch
    * re-fired after a crash feeds nothing twice. */
  def consume(run: StreamRun, base: String, fed: StreamRun.Ledger)(
      feed: Int => Unit): Unit = {
    def done: Set[Int] = fed.entries.map(_.toInt).toSet
    val manifests = run.session.readStream
      .option("pathGlobFilter", TableLog.ManifestGlob)
      .option("maxFilesPerTrigger", "1")
      .text(base)
      .select(col("_metadata.file_path").as("path"))
    run.catchUp(manifests.writeStream
      .foreachBatch { (bdf: DataFrame, _: Long) =>
        // driver-sized by construction: one row per LINE of a new
        // manifest (an o22 DV manifest has two), deduped to one per
        // version so no version feeds twice
        val vs = bdf.collect()
          .flatMap(r => TableLog.manifestVersion(r.getString(0)))
          .distinct.sorted
        vs.filterNot(done).foreach { v =>
          FeedRetention.requireNoGap(base, done, v)
          feed(v)
          fed.add(v)
        }
        ()
      }
      .option("checkpointLocation", run.dir.resolve("cp").toString))
  }
}
