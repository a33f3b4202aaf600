package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import graft.table.{Snapshot, TableLog}

/** Pins o16's optimistic-concurrency commit protocol — the CAS
  * primitive itself (atomic create-if-absent via link(2)), the
  * deterministic interleave the registered query drives, and the one
  * thing no deterministic replay can certify: a REAL two-thread race
  * where both writers hold the same expectation and exactly one may
  * win.
  */
class OptimisticCommitSpec extends SparkSpecBase {
  import Warehouse._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_o16spec_").toString

  private def cleanup(base: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))

  test("CAS publish: stale expectation loses loudly, fresh retry wins") {
    import spark.implicits._
    val base = tmp()
    try {
      val v1 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "lang")
      o16Stage(base, "w0", v1)
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("w0")))
      assert(TableLog.latest(base) == 1)
      // two writers observe latest=1; A commits first
      o16Stage(base, "wA", v1.withColumn("lang", lit("A")))
      o16Stage(base, "wB", v1.withColumn("lang", lit("B")))
      assert(Snapshot.commit(base, 2, Snapshot.Manifest("wA")))
      // B's CAS at the stale expectation must FAIL, not overwrite
      assert(!Snapshot.commit(base, 2, Snapshot.Manifest("wB")),
        "stale CAS won - lost update")
      // v2 is A's data, untouched by B's failed attempt
      assert(Snapshot.read(spark, base, 2).select("lang").distinct()
        .head().getString(0) == "A")
      // B retries at the fresh expectation and wins v3
      assert(Snapshot.commit(base, 3, Snapshot.Manifest("wB")))
      assert(Snapshot.read(spark, base, 3).select("lang").distinct()
        .head().getString(0) == "B")
      assert(TableLog.latest(base) == 3)
    } finally cleanup(base)
  }

  test("a staged-but-unpublished token is unreachable through any version") {
    import spark.implicits._
    val base = tmp()
    try {
      o16Stage(base, "w0", Seq((1L, "x")).toDF("doc_id", "lang"))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("w0")))
      o16Stage(base, "orphan", Seq((9L, "z")).toDF("doc_id", "lang"))
      // no manifest names the orphan; reads resolve only committed state
      assert(TableLog.latest(base) == 1)
      assert(Snapshot.read(spark, base, 1).agg(max("doc_id")).head()
        .getLong(0) == 1L)
      val thrown = intercept[IllegalArgumentException] {
        Snapshot.read(spark, base, 2)
      }
      assert(thrown.getMessage.contains("not committed"))
    } finally cleanup(base)
  }

  test("a real two-thread race: exactly one same-expectation CAS wins") {
    import spark.implicits._
    val base = tmp()
    try {
      o16Stage(base, "w0", Seq((1L, "x")).toDF("doc_id", "lang"))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("w0")))
      // both racers stage up front (staging never races - unique
      // tokens); the race is ONLY the CAS, repeated across rounds so a
      // lucky serialization can't green a broken primitive
      (1 to 8).foreach { round =>
        val ta = s"ra-$round"
        val tb = s"rb-$round"
        o16Stage(base, ta, Seq((10L + round, "a")).toDF("doc_id", "lang"))
        o16Stage(base, tb, Seq((20L + round, "b")).toDF("doc_id", "lang"))
        val expected = TableLog.latest(base)
        val gate = new java.util.concurrent.CountDownLatch(1)
        val results = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
        val threads = Seq(ta, tb).map { tok =>
          new Thread(() => {
            gate.await()
            results.put(tok,
              Snapshot.commit(base, expected + 1, Snapshot.Manifest(tok)))
          })
        }
        threads.foreach(_.start())
        gate.countDown()
        threads.foreach(_.join(30000))
        val wins = Seq(ta, tb).count(results.get(_))
        assert(wins == 1,
          s"round $round: $wins writers won the same-expectation CAS")
        // the manifest resolves to exactly the winner's token
        val winner = Seq(ta, tb).find(results.get(_)).get
        val named = java.nio.file.Files.readString(java.nio.file.Paths
          .get(base, s"manifest-${expected + 1}")).trim
        assert(named == winner, s"manifest names $named, winner was $winner")
      }
      // 8 rounds x 1 winner on top of v1
      assert(TableLog.latest(base) == 9)
    } finally cleanup(base)
  }

  test("N-writer contention liveness: every writer commits within its loss bound, no append lost") {
    import spark.implicits._
    val base = tmp()
    try {
      o16Stage(base, "seed", Seq((0L, "seed")).toDF("doc_id", "lang"))
      assert(Snapshot.commit(base, 1, Snapshot.Manifest("seed")))
      val n = 6
      // N writers in real retry-until-commit loops on real threads:
      // read latest, re-derive (append own row to the committed state),
      // stage under a fresh token, CAS; on loss, retry against the new
      // state. Liveness theorem pinned below: a CAS loss means SOME
      // competitor committed that slot, and each commits exactly once,
      // so attempts per writer are bounded by n — no livelock possible.
      val attempts = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to n).map { i =>
        new Thread(() => {
          try {
            gate.await()
            var committed = false
            var tries = 0
            while (!committed) {
              tries += 1
              require(tries <= n + 1,
                s"writer $i exceeded the theoretical retry bound")
              val latest = TableLog.latest(base)
              val token = s"w$i-t$tries"
              o16Stage(base, token,
                Snapshot.read(spark, base, latest)
                  .unionByName(Seq((i.toLong, s"writer-$i"))
                    .toDF("doc_id", "lang")))
              committed =
                Snapshot.commit(base, latest + 1, Snapshot.Manifest(token))
            }
            attempts.put(i, tries)
          } catch { case t: Throwable => failures.add(t) }
        })
      }
      threads.foreach(_.start())
      gate.countDown()
      threads.foreach(_.join(120000))
      assert(failures.isEmpty, s"writer threads failed: ${failures.peek()}")
      assert(attempts.size == n, "every writer must eventually commit")
      // progress: versions = seed + exactly one per writer
      assert(TableLog.latest(base) == 1 + n)
      // each writer's loss count is bounded by the others' commits
      (1 to n).foreach(i => assert(attempts.get(i) <= n,
        s"writer $i took ${attempts.get(i)} attempts (> bound $n)"))
      // nothing lost: the FINAL version carries the seed and all n
      // appended rows — every retry re-derived from the fresh state
      val fin = Snapshot.read(spark, base, 1 + n)
      assert(fin.count() == 1 + n)
      assert((0 to n).forall(k =>
        fin.filter(col("doc_id") === k.toLong).count() == 1),
        "a retried commit dropped a competitor's append — lost update")
    } finally cleanup(base)
  }

  test("the registered query's ledger: v3 carries every appended row") {
    val out = Warehouse.o16CommitConflict(spark, sf).cache()
    try {
      val v1 = out.filter(col("version") === 1)
      val v2 = out.filter(col("version") === 2)
      val v3 = out.filter(col("version") === 3)
      val nApp = v2.count() - v1.count()
      assert(nApp > 0, "harness lost its appends")
      // the retried OPTIMIZE preserved the racing ingest's rows exactly
      assert(v3.count() == v2.count())
      assert(v3.join(v2, Seq("doc_id", "lang", "source"), "left_anti")
        .isEmpty, "v3 invented rows v2 never had")
      assert(v2.join(v3, Seq("doc_id", "lang", "source"), "left_anti")
        .isEmpty, "the OPTIMIZE retry lost ingested rows - lost update")
      // appended keys live above the re-key offset
      assert(v3.filter(col("doc_id") >= 5000000000L).count() == nApp)
    } finally out.unpersist()
  }
}
