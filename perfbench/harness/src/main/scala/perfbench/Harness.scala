package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run in one JVM: set up a session, run a cold pass,
  * then warm passes for the time budget, driven by one closed-loop
  * client (a pass starts once the previous one has finished and its row
  * results have been checked against the cold pass's). Writes
  * `result.json` (and, when traced, the spans and listener counts) to
  * the output directory; `run.py` turns that into metrics.
  *
  * Usage: Harness <workload> <inputDir> <outDir> <seconds> <trace 0|1>
  */
object Harness {

  /** Per-pass bookkeeping handed to the workload. */
  final class Pass(val idx: Int, val traced: Boolean, val dir: String,
      tracer: Tracer) {
    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]
    val ledger = ArrayBuffer.empty[(String, String)]
    val results = ArrayBuffer.empty[(String, DataFrame, Array[Row])]
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    private val later = ArrayBuffer.empty[(String, () => Double)]
    val held = ArrayBuffer.empty[DataFrame]
    private var broken = false

    /** One operation: a layer call or a row call. An exception fails it;
      * once one fails, the pass's later operations fail unrun. */
    def op[T](layer: String, name: String)(body: => T): Option[T] = {
      attempted += 1
      if (broken) { failed += 1; ledger += name -> "skipped"; None }
      else try {
        val v = if (traced) tracer.span(name, layer, idx)(body) else body
        ledger += name -> "done"
        Some(v)
      } catch { case e: Throwable =>
        failed += 1; broken = true; ledger += name -> "error"
        errors += s"$name: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
        None
      }
    }

    /** A count the traced run reports, taken after the timed pass from
      * the relations the layer boundaries hold. */
    def countLater(name: String)(f: => Double): Unit =
      if (traced) later += name -> (() => f)

    def takeCounts(): Unit = later.foreach { case (n, f) =>
      counts(n) = scala.util.Try(f()).getOrElse(-1.0) }

    /** Layer boundary: when traced, materialize `df` here so its work
      * lands in this layer's span; `keep` caches it either way. */
    def boundary(df: DataFrame, keep: Boolean = false): DataFrame =
      if (traced || keep) {
        val c = df.persist()
        held += c
        if (traced) c.write.format("noop").mode("overwrite").save()
        c
      } else df
  }

  trait Workload {
    def run(spark: SparkSession, in: String, pass: Pass): Unit
    /** Oracle SQL per row, for rows checked against DuckDB. */
    def oracle: Map[String, String] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, in, out, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    Files.createDirectories(Paths.get(out))
    val heap = new HeapWatch
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    // fixed warm-up, independent of the workload's inputs
    spark.range(200000).selectExpr("sum(id * 2)", "count(distinct id % 1000)").collect()
    val readyMs = System.currentTimeMillis()
    val setupS = (readyMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val wl: Workload = workload match {
      case "slate_batch" => Slate
      case "query_rows" => Rows.queryRows
      case other => sys.error(s"unknown workload $other")
    }

    val passes = ArrayBuffer.empty[Map[String, Any]]
    val refDigest = scala.collection.mutable.Map.empty[String, String]
    val microbatches = ArrayBuffer.empty[Long]
    val tracedProgress = ArrayBuffer.empty[Map[String, Any]]
    var attempted, failed = 0
    val errors = ArrayBuffer.empty[String]
    val runStart = System.nanoTime()
    var idx = 0
    def elapsed = (System.nanoTime() - runStart) / 1e9
    val minWarm = if (traced) 2 else 1
    // pass 0 is the cold pass; in a traced run warm passes alternate
    // traced and untraced so the tracing overhead is measured in-run
    while (idx == 0 || idx <= minWarm || elapsed < seconds) {
      val passTraced = traced && idx > 0 && idx % 2 == 1
      val p = new Pass(idx, passTraced, s"$out/pass_$idx", tracer)
      val t0 = Clock.nowMs
      if (passTraced) tracer.span("pass", "pass", idx)(wl.run(spark, in, p))
      else wl.run(spark, in, p)
      val t1 = Clock.nowMs
      // ---- outside the timed region: check, count, release
      if (passTraced) tracer.drain()
      // rows whose result is the cold pass's, which run.py checks
      // against the oracle
      val matched = ArrayBuffer.empty[String]
      for ((name, df, rows) <- p.results) {
        val d = Digest.of(df.schema, rows)
        if (idx == 0) {
          refDigest(name) = d
          Digest.saveReference(spark, df.schema, rows, s"$out/reference/$name")
        }
        if (refDigest.get(name).contains(d)) matched += name
        else {
          p.failed += 1
          p.errors += s"$name: result differs from the cold pass"
        }
      }
      // heap while the pass's results and caches are still referenced
      val gcMb = heap.fullGc()
      p.results.clear()
      p.takeCounts()
      p.held.foreach(_.unpersist(blocking = true))
      // blocks the program or Spark still hold once the harness's own
      // caches are gone
      val retainedMb = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0
      tracer.drain()
      val prog = tracer.progress.asScala.toSeq
      tracer.progress.clear()
      val mb = prog.map(_._2.getOrElse("triggerExecution", 0L))
      if (idx > 0 && !passTraced) microbatches ++= mb
      if (passTraced) tracedProgress ++= prog.map { case (t, d, state) =>
        Map("start" -> t, "durations" -> d, "state_rows" -> state) }
      attempted += p.attempted
      failed += p.failed
      errors ++= p.errors.map(e => s"pass $idx: $e")
      passes += Map("idx" -> idx, "traced" -> passTraced,
        "wall_s" -> (t1 - t0) / 1e3, "t0_ms" -> t0, "t1_ms" -> t1,
        "attempted" -> p.attempted, "failed" -> p.failed,
        "retained_mb" -> retainedMb, "live_mb" -> gcMb, "counts" -> p.counts.toMap,
        "microbatches" -> mb.size, "matched" -> matched.toSeq)
      idx += 1
    }
    if (traced) tracer.drain()
    // beside the references, in the layout tools/check_oracle.py reads;
    // only rows with a reference (one that failed is already counted)
    Files.createDirectories(Paths.get(s"$out/reference"))
    Files.write(Paths.get(s"$out/reference/oracle_sql.json"),
      Json.of(wl.oracle.filter { case (n, _) => refDigest.contains(n) })
        .getBytes(UTF_8))
    val result = Map(
      "workload" -> workload, "cpus" -> cpus, "setup_s" -> setupS,
      "passes" -> passes.toSeq, "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.toSeq,
      "live_heap_peak_mb" -> heap.peakMb(passes.toSeq.map(p =>
        (p("t0_ms").asInstanceOf[Double], p("t1_ms").asInstanceOf[Double]))),
      "microbatch_ms" -> microbatches.toSeq, "traced" -> traced)
    Files.write(Paths.get(s"$out/result.json"), Json.of(result).getBytes(UTF_8))
    if (traced) writeTrace(tracer, tracedProgress.toSeq, out)
    spark.stop()
  }

  private def writeTrace(t: Tracer, progress: Seq[Map[String, Any]],
      out: String): Unit = {
    val spans = t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "pass" -> s.pass,
      "start" -> s.start, "end" -> s.end, "io_read" -> s.io(0),
      "io_write" -> s.io(1), "io_write_ops" -> s.io(2)))
    val counters = t.counters.asScala.toSeq.map { case (id, c) =>
      Map("span" -> id, "jobs" -> c.jobs, "failed_jobs" -> c.failedJobs,
        "stages" -> c.stages, "tasks" -> c.tasks,
        "task_retries" -> c.taskRetries, "wait_ms" -> c.waitMs,
        "run_ms" -> c.runMs, "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
        "shuffle_write" -> c.shWrite, "shuffle_read" -> c.shRead,
        "fetch_wait_ms" -> c.fetchWaitMs, "spill" -> c.spill)
    }
    val jobs = t.jobs.asScala.toSeq.map { case (id, span, a, b, ok) =>
      Map("job" -> id, "span" -> span, "start" -> a, "end" -> b, "ok" -> ok) }
    val phases = t.phases.asScala.toSeq.map { case (n, a, b) =>
      Map("phase" -> n, "start" -> a, "end" -> b) }
    Files.write(Paths.get(s"$out/trace.json"), Json.of(Map(
      "spans" -> spans.toSeq, "counters" -> counters, "jobs" -> jobs,
      "phases" -> phases, "progress" -> progress)).getBytes(UTF_8))
  }
}

/** Live heap: heap in use right after a full collection, highest over
  * the passes. Two kinds of reading count: the full collections the
  * harness forces at the end of each pass, while the pass's results and
  * caches are still referenced, and any full collection the JVM runs on
  * its own while a pass is timed (from its GC notification). Readings
  * after young collections are left out: they include garbage promoted
  * to the old generation, which only a full or mixed collection frees,
  * so they follow the collector's timing rather than what the program
  * holds. */
final class HeapWatch {
  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (end time in epoch ms, heap used after) of each full GC */
  private val majors = new ConcurrentLinkedQueue[(Double, Long)]()
  private var forced = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter => em.addNotificationListener(
      new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            if (info.getGcAction == "end of major GC")
              majors.add((startMs + info.getGcInfo.getEndTime.toDouble,
                info.getGcInfo.getMemoryUsageAfterGc.asScala
                  .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum))
          }
      }, null, null)
    case _ =>
  }

  /** Force full GCs until the heap in use stops shrinking, and return
    * (and record) the least it reached, in MB. A collection queues
    * dropped broadcasts and shuffles for Spark's ContextCleaner; the
    * pauses let it release their blocks, so a later collection
    * measures what is still live. */
  def fullGc(): Seq[Double] = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    val readings = ArrayBuffer(used())
    while (readings.size < 8 && (readings.size < 3 ||
        readings(readings.size - 2) - readings.last > (1L << 20))) {
      Thread.sleep(150)
      readings += used()
    }
    forced = math.max(forced, readings.min)
    readings.map(_ / 1048576.0).toSeq
  }

  /** Highest reading, in MB, over the forced collections and the full
    * collections that ended inside one of the timed `windows`. */
  def peakMb(windows: Seq[(Double, Double)]): Double = {
    val during = majors.asScala.collect {
      case (t, b) if windows.exists { case (a, z) => a <= t && t <= z } => b }
    (during.toSeq :+ forced).max / 1048576.0
  }
}

/** Order-sensitive digest of a materialized result, and the reference
  * copy the Python checker compares against the DuckDB oracle. */
object Digest {
  def of(schema: org.apache.spark.sql.types.StructType, rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.simpleString.getBytes(UTF_8))
    rows.foreach(r => md.update(("\n" + r.mkString("\u0001")).getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def saveReference(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, rows: Array[Row],
      path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
}

/** Minimal JSON writer for the harness's own records. */
object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def of(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => of(k.toString) + ":" + of(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(of).mkString("[", ",", "]")
    case o => of(o.toString)
  }
}
