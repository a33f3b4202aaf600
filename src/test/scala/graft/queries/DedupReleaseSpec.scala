package graft.queries

import graft.SparkSpecBase
import graft.tools.DumpPlans.{heldBy, isStrBroadcastJoin}

/** The MinHash and paragraph-dedup rows hold nothing per call: once the
  * session-shared caches are released, a call leaves no entry in the
  * session's cache (a `persist()` over a fresh input is never matched
  * again, so an unreleased one grows the cache on every call), and
  * e2e's collected frame keeps no string-keyed broadcast relation, and
  * with it a Tungsten page, alive.
  */
class DedupReleaseSpec extends SparkSpecBase {

  Seq("d3_minhash_lsh", "d10_incremental_minhash", "e2e_dedup_pipeline")
    .foreach { name =>
      test(s"$name leaves no cache entry once the shared caches are released") {
        Dedup.releaseSharedCaches(spark)
        spark.catalog.clearCache()
        graft.SparkEntry.queries(name)(spark, sf).collect()
        Dedup.releaseSharedCaches(spark)
        assert(spark.sharedState.cacheManager.isEmpty,
          s"$name left a cache entry behind")
      }
    }

  test("e2e's collected frame reaches no string-keyed broadcast join") {
    val df = EndToEnd.e2eDedupPipeline(spark, sf)
    df.collect()
    val held = heldBy(df).filter(isStrBroadcastJoin)
    assert(held.isEmpty, s"the frame holds ${held.map(_.simpleString(200))}")
  }
}
