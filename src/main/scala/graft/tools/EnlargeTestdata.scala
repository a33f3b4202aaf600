package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize an N× tagged-copy enlargement of a testdata directory
  * (r15 verdict carry #7: the full-surface composition bench needs the
  * WHOLE registered surface run over one enlarged dataset, not per-op
  * in-memory frames). Same enlargement models as [[ScaleHeadroom]]:
  *
  * - `documents`: word-tagged copies (no shared shingles/grams across
  *   copies), lang/source carried, n_chars recomputed, ids +i·1M —
  *   copies stay OUT of every `doc_id < 1M` bench/eval predicate, the
  *   production shape (eval sets don't grow with the crawl).
  * - `embeddings`: rotation (+sign flip past 64) per copy — norm-
  *   preserving, no cross-copy LSH collisions; ids +i·1M.
  * - `events`: ids +i·1e9, timestamps +i µs, user/entity space FIXED
  *   (more history over the same entities).
  * - `orders`/`lineitem`: order keys +i·1e9 consistently on both
  *   tables (copies join among themselves), customer/part/supplier
  *   references kept — the fact grows, dims stay fixed.
  * - dims (`region nation customer supplier part`): copied verbatim.
  *
  * Dev tooling only — writes OUTSIDE the library contract, never part
  * of a shipped job.
  *
  * Usage: `sbt "runMain graft.tools.EnlargeTestdata
  *   /root/testdata/sf0.1 /tmp/sf0.1x10 10"`
  */
object EnlargeTestdata {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf0.1x10")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    enlarge(spark, src, out, copies)
    println(s"""{"metric":"enlarge","src":"$src","out":"$out","copies":$copies}""")
    spark.stop()
  }

  /** The enlargement body over a caller-owned session — factored so
    * `EnlargeLayoutSpec` can pin the single-file layout contract
    * without the CLI's session lifecycle. */
  private[graft] def enlarge(spark: SparkSession, src: String,
      out: String, copies: Int): Unit = {

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // Driver-layout contract: each table is ONE parquet FILE named
    // <table>.parquet — the streaming harnesses stage inputs via
    // java.nio Files.copy of that path (a directory there copies
    // EMPTY and the stream silently sees zero rows; the first 10×
    // composition run failed exactly that way). Write via a staging
    // dir + rename of the single part file. Spark still splits the
    // single file by row group, so batch scan parallelism survives.
    def write(df: DataFrame, t: String): Unit = {
      import org.apache.hadoop.fs.Path
      val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stage = new Path(s"$out/.stage_$t")
      // 8 MB row groups: a single-FILE table must still present many
      // splits or every scan serializes into one task at 10×/100× —
      // production data grows its row-group/file count with volume,
      // and parquet splits at row-group boundaries
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .parquet(stage.toString)
      val part = fs.listStatus(stage).map(_.getPath)
        .find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"enlarge: no part file for $t"))
      val dest = new Path(s"$out/$t.parquet")
      fs.delete(dest, true)
      require(fs.rename(part, dest), s"enlarge: rename failed for $t")
      fs.delete(stage, true)
    }

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(read(t), t))

    write((0 until copies).map { i =>
      val base = read("documents")
      if (i == 0) base
      else {
        val tagged = regexp_replace(col("text"), "(\\S+)", s"c$i$$1")
        base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          tagged.as("text"), col("lang"), col("source"),
          length(tagged).cast("long").as("n_chars"))
      }
    }.reduce(_ unionByName _), "documents")

    write((0 until copies).map { i =>
      val base = read("embeddings")
      val r = i % 64
      val sgn = if ((i / 64) % 2 == 0) 1.0 else -1.0
      if (i == 0) base
      else base.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        transform(
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), lit(r + 1),
              size(col("embedding")) - lit(r)),
            slice(col("embedding"), lit(1), lit(r))),
          x => (x * lit(sgn)).cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _), "embeddings")

    write((0 until copies).map { i =>
      val base = read("events")
      if (i == 0) base
      else base.select(
        (col("event_id") + lit(i * 1000000000L)).as("event_id"),
        // timestampadd preserves the parquet's own timestamp flavor
        // (µs vs NTZ has shipped both ways — the TESTDATA drift note);
        // the copy must round-trip whatever encoding the source has
        expr(s"timestampadd(MICROSECOND, $i, ts)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _), "events")

    write((0 until copies).map { i =>
      val base = read("orders")
      if (i == 0) base
      else base.withColumn("o_orderkey",
        col("o_orderkey") + lit(i * 1000000000L))
    }.reduce(_ unionByName _), "orders")

    write((0 until copies).map { i =>
      val base = read("lineitem")
      if (i == 0) base
      else base.withColumn("l_orderkey",
        col("l_orderkey") + lit(i * 1000000000L))
    }.reduce(_ unionByName _), "lineitem")

  }
}
