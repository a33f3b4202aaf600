package graft.tools

/** Dev profiling harness: time named `SparkEntry.queries` repeatedly and
  * optionally dump the formatted physical plan.
  *
  * Usage: `runMain graft.tools.Profile <sfDir> <reps> <name>[,<name>...]`
  * (reps 0 → just print the plan). Not part of the driver contract —
  * local iteration tooling only, like [[DumpPlans]].
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(",").map(_.trim).toSeq
    // A/B knobs for optimization experiments, e.g.
    // GRAFT_PROFILE_CONF="spark.foo=1;spark.bar=2"
    val extra = sys.env.get("GRAFT_PROFILE_CONF").toSeq
      .flatMap(_.split(";")).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
          case _ => None // tolerate empty/malformed entries (e.g. CONF="")
        }
      }
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, extra)
    spark.sparkContext.setLogLevel("WARN")
    // GRAFT_PROFILE_JOBS=1: print one line per Spark job (duration +
    // call site) so an operator's per-action cost is visible without
    // the UI — dev-only, like the rest of this tool.
    if (sys.env.get("GRAFT_PROFILE_JOBS").contains("1")) {
      val t0 = System.nanoTime()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(js.jobId, (System.nanoTime(),
              Option(js.properties.getProperty("callSite.short"))
                .getOrElse("?")))
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val (t, site) = starts.getOrDefault(je.jobId, (0L, "?"))
            println(f"JOB ${je.jobId}%4d at=${(t - t0) / 1e9}%8.2f " +
              f"took=${(System.nanoTime() - t) / 1e9}%7.3f  $site")
          }
        })
    }
    // same fixed-workload calibration as Bench.warmup_calib_sec — lets
    // two Profile runs on this drifting machine be compared honestly
    val calT0 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id * 2)").collect() // warmup
    graft.SparkEntry.entry(spark).count()
    println(f"PROFILE_CALIB ${(System.nanoTime() - calT0) / 1e9}%.3f s")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      if (reps == 0) fn(spark, sfDir).explain("formatted")
      else (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"PROFILE $name rep=$i rows=$n ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
