package graft
import java.nio.file.{Files, Paths}
import graft.JsonString.quote
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Bench's session, so correctness runs exercise the exact write
    // path the bench times
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // opt-in subset for local iteration (comma-separated names); the
    // driver never sets it, so its full-surface dump is unaffected
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // A failing query must be LOUD in the artifact, not just stderr:
    // round 11's testdata regeneration broke 23 queries and the only
    // trace was a silently smaller correctness file (r11 verdict #2).
    // Every failure is recorded in _errors.json; the file is written
    // even when empty so its absence means "Verify did not finish".
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JsonString.quote escapes every control char: a tab or CR in
    // builder-authored SQL would otherwise make the oracle checker's
    // json.load fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${quote(k)}: ${quote(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
  }
}
