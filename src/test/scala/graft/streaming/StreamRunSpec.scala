package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import graft.SparkSpecBase

/** A stream row runs on a session of its own: the caller's conf is
  * never written, the row cleans up on every exit, and the caller's
  * listeners still see the row's work.
  */
class StreamRunSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private abstract class QuietListener extends StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def assertCleanedUp(run: StreamRun, views: Seq[String]): Unit = {
    assert(run.session.streams.active.isEmpty, "a query outlived its row")
    views.foreach(v =>
      assert(!run.session.catalog.tableExists(v), s"view $v outlived its row"))
    assert(!Files.exists(run.dir), "the scratch dir outlived its row")
  }

  test("a batch query planned while a stream row runs keeps the caller's conf") {
    val before = spark.conf.getAll
    val callerPartitions = before("spark.sql.shuffle.partitions").toInt
    assert(callerPartitions != StreamRun.statePartitions)
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    // holds the row's query at start() until the batch query is planned
    val gate = new QuietListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = {
        started.countDown()
        release.await(120, TimeUnit.SECONDS)
      }
    }
    spark.streams.addListener(gate)
    val row = Future(StreamDedup.st6StreamDedup(spark, sf).collect())(
      ExecutionContext.global)
    try {
      assert(started.await(120, TimeUnit.SECONDS), "the row's query never started")
      val during = spark.conf.getAll
      val batch = spark.range(1000).groupBy((col("id") % 7).as("k")).count()
      batch.collect()
      val shuffles = collect(batch.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions
      }
      assert(shuffles.nonEmpty)
      assert(shuffles.forall(_ == callerPartitions),
        s"batch query planned at $shuffles partitions, caller has $callerPartitions")
      assert(during == before, "the row wrote the caller's conf")
    } finally {
      release.countDown()
      spark.streams.removeListener(gate)
    }
    assert(Await.result(row, 5.minutes).nonEmpty)
    assert(spark.conf.getAll == before)
  }

  test("a body that throws after start() stops its query and cleans up") {
    val before = spark.conf.getAll
    var captured: StreamRun = null
    val view = "streamrun_spec_live"
    intercept[IllegalStateException] {
      StreamRun(spark, "spec_body") { run =>
        captured = run
        // never finishes on its own: only the clean-up can stop it
        run.session.readStream.format("rate").load()
          .writeStream.format("memory").queryName(view).start()
        assert(run.session.streams.active.nonEmpty)
        assert(run.session.catalog.tableExists(view))
        throw new IllegalStateException("body failed after start()")
      }
    }
    assertCleanedUp(captured, Seq(view))
    assert(spark.conf.getAll == before)
  }

  test("a foreachBatch function that throws fails the row and cleans up") {
    val before = spark.conf.getAll
    var captured: StreamRun = null
    val view = "streamrun_spec_batch"
    val e = intercept[StreamingQueryException] {
      StreamRun(spark, "spec_batch") { run =>
        captured = run
        val s = run.session
        s.range(3).createOrReplaceTempView(view)
        run.stageEvents(sf)
        run.catchUp(s.readStream.schema(graft.Tables.eventsRaw(s, sf).schema)
          .parquet(run.dir.toString)
          .writeStream.foreachBatch { (_: DataFrame, _: Long) =>
            sys.error("injected batch failure")
          })
        s.range(1).toDF()
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("injected batch failure"))))
    assertCleanedUp(captured, Seq(view))
    assert(!spark.catalog.tableExists(view))
    assert(spark.conf.getAll == before)
  }

  test("the caller's listeners see the row's progress and batch executions") {
    val progress = new ConcurrentLinkedQueue[java.util.UUID]()
    val batches = new AtomicInteger()
    val streams = new QuietListener {
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress.id)
    }
    val executions = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.isInstanceOf[IncrementalExecution]) batches.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.streams.addListener(streams)
    spark.listenerManager.register(executions)
    try {
      assert(StreamDedup.st6StreamDedup(spark, sf).collect().nonEmpty)
      eventually(timeout(30.seconds)) {
        assert(!progress.isEmpty, "no progress event of the row's query")
        assert(batches.get > 0, "no micro-batch execution of the row")
      }
    } finally {
      spark.streams.removeListener(streams)
      spark.listenerManager.unregister(executions)
    }
  }
}
