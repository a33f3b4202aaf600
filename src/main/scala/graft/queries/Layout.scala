package graft.queries

import org.apache.spark.sql.{Column, DataFrame, GraftSessions, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession.withConf
import graft.Tables._

/** Scan-elimination layouts (r12 verdict "next round" #2). j4 proved the
  * SHUFFLE-elimination layout (bucketing); this family proves the
  * SCAN-elimination one: data range-clustered on the predicate column so
  * parquet min/max statistics let a reader skip everything outside the
  * queried range. At 100 TB this is the single biggest lever a layout
  * owns — partition/file/row-group pruning is how a full-corpus scan
  * becomes a 1% scan — and it is a property of HOW THE DATA WAS WRITTEN,
  * not of the query plan, which is why it earns an operator of its own.
  *
  * Three pruning mechanisms, one per operator:
  *   - a14: STATIC file/row-group skipping — a literal range predicate
  *     against footer min/max stats on a range-clustered layout.
  *   - a15: DYNAMIC partition pruning — the qualifying partition set is
  *     not known at plan time (it comes from a filtered dimension); the
  *     fact scan is pruned at RUNTIME by the broadcast join result.
  *   - a16: MULTI-DIMENSIONAL clustering (z-order) — bit-interleaved
  *     clustering so range predicates on EITHER of two columns skip
  *     files, where a linear sort serves only its leading column.
  */
object Layout {

  private[queries] val PruneFileCount = 8
  private[queries] val PruneLo = "2024-01-10 00:00:00"
  private[queries] val PruneHi = "2024-01-13 00:00:00"

  /** Write `events` range-clustered by `ts` into [[PruneFileCount]]
    * files with pairwise-disjoint ts ranges (`repartitionByRange` — the
    * one shuffle a clustering layout pays, once, at write time — then
    * sorted within each file for page-level locality). The result is a
    * layout where every file's parquet footer carries a tight
    * `[min(ts), max(ts)]` envelope that a range predicate can prune on.
    */
  private[queries] def writeSortedLayout(s: SparkSession, d: String,
      path: String): Unit = {
    // Spark's default parquet timestamp encoding is INT96 — a deprecated
    // type with unusable column statistics, which silently defeats BOTH
    // predicate pushdown and min/max skipping on ts. A clustering layout
    // that exists FOR pruning must write INT64 micros, so the operator
    // owns its file format instead of depending on ambient session state.
    withConf(s, MicrosTs) { c =>
      events(c, d)
        .select(col("event_id"), col("ts"), col("event_type"),
          col("user_id"), col("value"))
        .repartitionByRange(PruneFileCount, col("ts"))
        .sortWithinPartitions("ts")
        .write.parquet(path)
    }
  }

  /** The layout writes' scope: parquet timestamps as INT64 micros
    * ([[writeSortedLayout]] says why). */
  private val MicrosTs =
    Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  /** A14 — min-max data-skipping proof over the range-clustered layout:
    * a 3-day slice of a 30-day corpus is answered by scanning only the
    * files whose ts envelope intersects the slice. The oracle replays
    * the slice relationally against the ORIGINAL events table, so the
    * hash certifies the clustered layout is lossless and the pruned
    * scan misses nothing. The pruning itself — the scan emits only the
    * intersecting row groups while a round-robin control layout of the
    * same file count scans everything — is pinned on scan metrics in
    * `MinMaxPruneSpec` (the i8 page-prune discipline applied to parquet
    * footer stats). An in-query `require` keeps the proof honest: the
    * ts range predicate must appear in the scan's PushedFilters, or the
    * whole demonstration silently degrades to a post-scan filter.
    *
    * Scale shape: the layout write is one range shuffle (write-time,
    * amortized over every subsequent range query); the read is a
    * file-parallel scan of the intersecting slice only, no shuffle
    * before the bounded per-type aggregate.
    */
  def a14MinmaxPrune(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_a14_" +
      s.sparkContext.applicationId + "_" + Integer.toHexString(d.hashCode) +
      "_" + java.util.UUID.randomUUID().toString.take(8)
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(basePath, true)
    try {
      writeSortedLayout(s, d, s"$base/sorted")
      val sorted = s.read.parquet(s"$base/sorted")
      val sliced = sorted
        .filter(col("ts") >= lit(PruneLo).cast("timestamp") &&
          col("ts") < lit(PruneHi).cast("timestamp"))
      val pushed = sliced.queryExecution.executedPlan.toString
      require(pushed.contains("PushedFilters") &&
        pushed.contains("GreaterThanOrEqual(ts") &&
        pushed.contains("LessThan(ts"),
        "a14: ts range predicate did not reach the parquet scan - " +
          "pruning would be a post-scan filter, not data skipping")
      sliced
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          r6(dsum(col("value"))).as("total_value"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"))
        // scratch is deleted in finally — materialize before leaving
        .localCheckpoint()
        .orderBy("event_type")
    } finally fs.delete(basePath, true)
  }

  val a14Sql: String =
    s"""SELECT event_type, count(*) AS n,
      |  ${r6Sql("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)")}
      |    AS total_value,
      |  min(event_id) AS first_event, max(event_id) AS last_event
      |FROM events
      |WHERE ts >= TIMESTAMP '$PruneLo' AND ts < TIMESTAMP '$PruneHi'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- A15: dynamic partition pruning ---------------------------------

  /** The dim filter: every day-of-month ≡ 3 (mod 7) — {3, 10, 17, 24,
    * 31}, 5 of the corpus's 30 daily partitions. Chosen over a
    * day-of-WEEK filter because day-of-month arithmetic is identical in
    * Spark and DuckDB (dayofweek numbering differs between engines).
    */
  private[queries] val DppDomResidue = 3

  /** Write the standard production fact layout — `events`
    * HIVE-PARTITIONED by day (`.../day=2024-01-03/part-*.parquet`), the
    * layout every large event table ships with — plus a date dimension
    * as a separate parquet table. Both are read back from disk, so the
    * dim's qualifying day set is genuinely opaque at plan time.
    */
  private[queries] def writeDayPartitionedLayout(s: SparkSession, d: String,
      base: String): Unit = {
    withConf(s, MicrosTs) { c =>
      events(c, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .write.partitionBy("day").parquet(s"$base/fact")
    }
    s.range(0, 31)
      .select(
        date_format(date_add(to_date(lit("2024-01-01")),
          col("id").cast("int")), "yyyy-MM-dd").as("day"),
        (col("id") + 1).cast("int").as("dom"))
      .write.parquet(s"$base/dim")
  }

  /** The a15 join+aggregate over an already-written layout, factored so
    * the spec can run it with dynamic pruning toggled off as a control.
    */
  private[queries] def dppQuery(s: SparkSession, base: String): DataFrame = {
    val fact = s.read.parquet(s"$base/fact")
    val dim = s.read.parquet(s"$base/dim")
      .filter(col("dom") % 7 === lit(DppDomResidue))
    fact.join(dim, Seq("day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        r6(dsum(col("value"))).as("total_value"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
  }

  /** A15 — DYNAMIC partition pruning: the runtime scan-elimination
    * mechanism a14's static skipping cannot cover. The query is the
    * classic warehouse shape — a day-partitioned fact joined to a date
    * dimension with a selective filter (`dom % 7 = 3`) — where the
    * qualifying partition set is NOT visible to the planner (the dim is
    * a parquet table on disk, not literals). A static planner must scan
    * all 30 partitions; Spark's DPP instead broadcasts the filtered dim
    * first and injects its day set into the fact scan's partition
    * filters at RUNTIME (`dynamicpruningexpression(day IN ...)`),
    * scanning 5/30 partitions. The in-query `require` pins the
    * mechanism (the plan must carry the dynamicpruning subquery); the
    * scan-metric proof — pruned scan reads exactly the qualifying
    * partitions' rows, the DPP-disabled control reads ALL rows — is
    * pinned in `DynamicPruneSpec`. The oracle replays the day filter
    * relationally against the original events table: the hash certifies
    * the partitioned layout round-trip is lossless and runtime pruning
    * drops nothing.
    *
    * At 100 TB this is THE fact-table access path: a 3-year daily
    * fact joined to `dim_date WHERE is_holiday` reads only holiday
    * partitions — a ~2-order-of-magnitude scan cut no static optimizer
    * can make, because the qualifying set lives in data, not in the
    * query text.
    */
  def a15DynamicPrune(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_a15_" +
      s.sparkContext.applicationId + "_" + Integer.toHexString(d.hashCode) +
      "_" + java.util.UUID.randomUUID().toString.take(8)
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(basePath, true)
    try {
      writeDayPartitionedLayout(s, d, base)
      val out = dppQuery(s, base)
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("dynamicpruning"),
        "a15: no dynamicpruning expression in the fact scan's partition " +
          "filters - the join would statically scan every partition")
      out.localCheckpoint().orderBy("event_type")
    } finally fs.delete(basePath, true)
  }

  val a15Sql: String =
    s"""SELECT event_type, count(*) AS n,
      |  ${r6Sql("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)")}
      |    AS total_value,
      |  min(event_id) AS first_event, max(event_id) AS last_event
      |FROM events
      |WHERE (EXTRACT(DAY FROM ts)) % 7 = $DppDomResidue
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- A16: z-order (multi-dimensional) clustering ---------------------

  /** The a16 user slice, as integer fractions of the OBSERVED user
    * domain [0, max]: [30%, 45%) of (max+1) — chosen to sit strictly
    * inside ONE user quarter-band of the z-octants at every testdata
    * scale factor (the user domain grows with SF: 15 users at sf0.001,
    * 150 at sf0.01), so the slice is non-empty, selective, and
    * octant-prunable at each. Both engines compute the same integer
    * arithmetic (Scala driver literals / DuckDB scalar subquery with
    * `//`).
    */
  private[queries] def zUserBounds(maxUser: Long): (Long, Long) =
    (3L * (maxUser + 1) / 10L, 9L * (maxUser + 1) / 20L)

  /** Spread the low 8 bits of `x` so they occupy even bit positions
    * (b7 b6 … b0 → b7 0 b6 0 … b0) — the classic two-dimensional Morton
    * spread via shift/mask stages, all codegen-friendly integer ops.
    */
  private[queries] def spread8(x: Column): Column = {
    val a = x.bitwiseAND(lit(255))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F))
    val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x3333))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x5555))
  }

  /** 16-bit z-value interleaving 8 bits of (scaled) user_id with 8 bits
    * of (scaled) corpus-day index — user bits in odd positions, day bits
    * in even, so the top-3 octant bits are (user, day, user): octants
    * split user space into quarters × day space into halves. Both
    * dimensions are stretched onto the full 8-bit range by their
    * OBSERVED maxima (one bounded stats pass at write time — the k4
    * envelope discipline); without the stretch a domain occupying a
    * fraction of the bit range collapses into few octants and the boxes
    * stop pruning, which is exactly what a fixed assumed domain did at
    * the small scale factor. At production scale the bit budget grows
    * with the domain; the interleave shape is unchanged.
    */
  private[queries] def zValue(userId: Column, ts: Column,
      maxUser: Long, maxDay: Long): Column = {
    val u8 = (userId * lit(255) / lit(math.max(maxUser, 1L))).cast("int")
    val dayIdx = datediff(to_date(ts), to_date(lit("2024-01-01")))
    val d8 = (dayIdx * lit(255) / lit(math.max(maxDay, 1L))).cast("int")
    shiftleft(spread8(u8), 1).bitwiseOR(spread8(d8))
  }

  /** Write `events` z-order-clustered on (user_id, ts) into 8 files —
    * one per z-OCTANT (top 3 interleaved bits), so every file's
    * (user_id, ts) bounding box is an exact octant: user_id confined to
    * a quarter of its domain AND ts to half the corpus. Bit-aligned
    * octant boundaries (not sample-based range splits) are what make the
    * boxes exact — a quantile cut mid-octant produces files whose
    * bounding box spans both halves of the secondary dimension, which is
    * precisely the failure a measured prototype showed for
    * `repartitionByRange(z)`.
    *
    * Found en route and load-bearing, pinned in `ZorderPruneSpec`: with
    * the raw TIMESTAMP_NTZ ts column, Spark 4.1 lists the ts range
    * predicate in PushedFilters but performs NO row-group skipping on
    * it (footer stats present and tight, scan reads 100%); the same
    * layout with ts as TIMESTAMP (LTZ, micros) skips correctly. The
    * canonical [[graft.Tables.events]] reader already normalizes to LTZ,
    * and this writer would fail its spec otherwise — recording it here
    * because it is invisible at query level (correct answers, silent
    * full scan), exactly like the INT96 hazard a14 pinned.
    */
  /** Observed (max user_id, max day index) — the bounded one-row stats
    * pass the z-scaling needs at write time.
    */
  private[queries] def zDomain(s: SparkSession, d: String): (Long, Long) = {
    val row = events(s, d).agg(
      max(col("user_id")),
      max(datediff(to_date(col("ts")), to_date(lit("2024-01-01"))))).head()
    (row.getLong(0), row.getInt(1).toLong)
  }

  private[queries] def writeZorderLayout(s: SparkSession, d: String,
      path: String, maxUser: Long, maxDay: Long): Unit =
    withConf(s, MicrosTs) { c =>
      events(c, d)
        .select(col("event_id"), col("ts"), col("event_type"),
          col("user_id"), col("value"))
        .withColumn("z", zValue(col("user_id"), col("ts"), maxUser, maxDay))
        .withColumn("zoct", shiftright(col("z"), 13).bitwiseAND(lit(7)))
        .repartition(8, col("zoct"))
        .sortWithinPartitions("z")
        .drop("z")
        .write.partitionBy("zoct").parquet(path)
    }

  /** A16 — z-order clustering: the multi-dimensional answer to a14's
    * one-dimensional sort. A ts-sorted layout prunes ts slices perfectly
    * and user slices not at all; interleaving the two dimensions' bits
    * buys partial pruning on BOTH — each of the 8 octant files confines
    * user_id to a quarter of its domain and ts to half the corpus, so a
    * user-range query reads ~2/8 files and a ts-range query ~4/8,
    * without knowing at write time which dimension queries will filter
    * on. The oracle-checked query is the user-range slice (the
    * dimension the a14 layout CANNOT serve), replayed relationally
    * against the original events table; the `require` pins that the
    * user_id predicate reaches the scan. `ZorderPruneSpec` pins the
    * scan metrics for both dimensions against the linear-sort control.
    *
    * Scale shape: one hash shuffle on the octant key at write time
    * (at 100 TB: z-range partitioning into thousands of bit-aligned
    * tiles, same top-bits math); reads are file-parallel over the
    * intersecting octants only. This is the curse-of-dimensionality
    * trade in its standard production form (Delta/Iceberg OPTIMIZE
    * ZORDER): each of k dimensions prunes to ~(1/2)^(bits-per-dim
    * granted), rather than one dimension pruning perfectly.
    */
  def a16ZorderPrune(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_a16_" +
      s.sparkContext.applicationId + "_" + Integer.toHexString(d.hashCode) +
      "_" + java.util.UUID.randomUUID().toString.take(8)
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(basePath, true)
    try {
      val (maxUser, maxDay) = zDomain(s, d)
      val (uLo, uHi) = zUserBounds(maxUser)
      writeZorderLayout(s, d, s"$base/zorder", maxUser, maxDay)
      val sliced = s.read.parquet(s"$base/zorder")
        .filter(col("user_id") >= uLo && col("user_id") < uHi)
      val pushed = sliced.queryExecution.executedPlan.toString
      require(pushed.contains("GreaterThanOrEqual(user_id") &&
        pushed.contains("LessThan(user_id"),
        "a16: user_id range predicate did not reach the parquet scan - " +
          "z-order pruning would be a post-scan filter")
      sliced
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          r6(dsum(col("value"))).as("total_value"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"))
        .localCheckpoint()
        .orderBy("event_type")
    } finally fs.delete(basePath, true)
  }

  val a16Sql: String =
    s"""SELECT event_type, count(*) AS n,
      |  ${r6Sql("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)")}
      |    AS total_value,
      |  min(event_id) AS first_event, max(event_id) AS last_event
      |FROM events
      |WHERE user_id >= (SELECT 3 * (max(user_id) + 1) // 10 FROM events)
      |  AND user_id < (SELECT 9 * (max(user_id) + 1) // 20 FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- A17: statistics-driven join reordering (CBO) -------------------

  /** Stage the three a17 catalog tables (projected to the query's
    * columns), ANALYZE them, run the star query with textual order
    * fact→dim→dim under the given CBO setting, and return the
    * materialized result plus the optimized plan's leaf order. Factored
    * so `CboReorderSpec` can run the stats-blind control.
    */
  private[graft] def runCboReorderWithPlan(s: SparkSession, d: String,
      cboEnabled: Boolean): (DataFrame, Seq[String]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_a17_")
    val runId = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val (tLi, tOrd, tCust) = (s"a17_li_$runId", s"a17_ord_$runId",
      s"a17_cust_$runId")
    try {
      def stage(df: DataFrame, name: String, t: String): Unit =
        df.write.option("path", dir.resolve(name).toString).saveAsTable(t)
      stage(lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice")),
        "li", tLi)
      stage(orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority")), "ord", tOrd)
      stage(customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        "cust", tCust)
      Seq(tLi, tOrd, tCust).foreach(t =>
        s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
      withConf(s, Seq(
        "spark.sql.cbo.enabled" -> cboEnabled.toString,
        "spark.sql.cbo.joinReorder.enabled" -> cboEnabled.toString)) { c =>
        val q = c.table(tLi)
          .join(c.table(tOrd), col("l_orderkey") === col("o_orderkey"))
          .join(c.table(tCust), col("o_custkey") === col("c_custkey"))
          .filter(col("c_mktsegment") === "BUILDING" &&
            col("o_orderpriority") === "1-URGENT")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            r6(dsum(col("l_extendedprice"))).as("revenue"))
        val leaves = q.queryExecution.optimizedPlan.collectLeaves()
          .map(_.toString.linesIterator.next())
        (GraftSessions.rehome(s, q.localCheckpoint().orderBy("c_mktsegment")),
          leaves.toSeq)
      }
    } finally {
      Seq(tLi, tOrd, tCust).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  /** A17 — cost-based join reordering from table statistics: the
    * OPTIMIZER-side scale lever next to the layout ones (a14–a16 prune
    * scans; a17 re-plans the join tree). The star query is written in
    * the worst textual order — fact first, so a syntax-driven planner
    * joins fact×orders (the big×big pair) before any filter has cut
    * anything. With ANALYZE'd row/column stats and CBO on, Catalyst
    * reorders the join cluster so the two FILTERED dimensions join
    * first and the fact joins last against an already-tiny build side.
    * The in-query require pins exactly that (fact relation is the LAST
    * leaf of the optimized join tree); `CboReorderSpec` pins the
    * stats-blind control (CBO off → fact stays first, textual order)
    * and identical rows. The oracle replays the star relationally —
    * reordering changes the schedule, never the result.
    *
    * Scale shape: at 100 TB join order is frequently THE difference
    * between a runnable and an unrunnable query (intermediate result
    * sizes vary by orders of magnitude); stats collection is the cheap
    * prerequisite (one ANALYZE pass per table, amortized over every
    * query). AQE re-plans within a stage at runtime; CBO is the only
    * mechanism that can fix the join TREE before execution starts.
    */
  def a17CboReorder(s: SparkSession, d: String): DataFrame = {
    val (out, leaves) = runCboReorderWithPlan(s, d, cboEnabled = true)
    require(leaves.nonEmpty && leaves.last.contains("a17_li_"),
      "a17: CBO did not reorder the join tree - the unfiltered fact " +
        s"should join LAST against the filtered dims, got: $leaves")
    out
  }

  val a17Sql: String =
    s"""SELECT c_mktsegment, count(*) AS n,
      |  ${r6Sql("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)")}
      |    AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING' AND o_orderpriority = '1-URGENT'
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** A18 — one-pass column profiling: the statistics-gathering operator
    * that feeds everything else in this family (a17's CBO needs row and
    * column stats; a14/a16 layouts are chosen by min/max spread; skew
    * handling needs distinct counts). Per profiled column: non-null
    * count, exact distinct count, and min/max rendered through an
    * EXPLICIT cross-engine format (printf for doubles, a fixed
    * date-format for timestamps, raw for strings/ints) — profile output
    * is consumed by humans and catalogs, so the rendering is part of
    * the contract, not a display detail.
    *
    * Spark-first shape: one scan, pivoted row-wise by `stack` into
    * (col_name, one typed value column per source type), then TWO
    * aggregation levels. Level 1 groups by (col_name, value) with a
    * count-only buffer — a plain HashAggregate, map-side combined.
    * Level 2 derives everything from the distinct-value relation:
    * n_distinct = count, n_nonnull = sum of occurrences, min/max =
    * min/max (distinct preserves extremes). The naive single
    * `agg(countDistinct…, min…, max…)` formulation is a measured 4×
    * slower: Spark's HashAggregate requires fixed-size aggregate
    * buffers, so a string min/max in the same aggregate as a distinct
    * count demotes the WHOLE Expand pipeline to SortAggregate — a full
    * 5-column sort of rows×columns expanded data. Splitting the levels
    * keeps the data-sized stage hash-based; the string min/max only
    * ever sees the already-distinct values. Scale shape: at 100 TB
    * exact distinct is the one stat that doesn't collapse to fixed
    * state — production profiling swaps level 1 for HLL (k2's sketch,
    * mergeable, fixed 2 KB per column) and keeps min/max/non-null
    * exact; the operator keeps exact distincts here because the oracle
    * certifies values, not estimates.
    */
  def a18Profile(s: SparkSession, d: String): DataFrame = {
    val stacked = lineitem(s, d).select(expr(
      """stack(4,
        |'l_orderkey', l_orderkey, cast(null as double),
        |  cast(null as string), cast(null as timestamp_ntz),
        |'l_quantity', cast(null as bigint), l_quantity,
        |  cast(null as string), cast(null as timestamp_ntz),
        |'l_returnflag', cast(null as bigint), cast(null as double),
        |  l_returnflag, cast(null as timestamp_ntz),
        |'l_shipdate', cast(null as bigint), cast(null as double),
        |  cast(null as string), cast(l_shipdate as timestamp_ntz))
        |AS (col_name, v_long, v_dbl, v_str, v_ts)""".stripMargin))
    val present = col("v_long").isNotNull || col("v_dbl").isNotNull ||
      col("v_str").isNotNull || col("v_ts").isNotNull
    val distincts = stacked
      .groupBy(col("col_name"), col("v_long"), col("v_dbl"),
        col("v_str"), col("v_ts"))
      .agg(count(lit(1)).as("occ"))
    distincts.groupBy(col("col_name")).agg(
      coalesce(sum(when(present, col("occ"))), lit(0L)).as("n_nonnull"),
      count(when(present, lit(1))).as("n_distinct"),
      min(col("v_long")).as("mn_l"), max(col("v_long")).as("mx_l"),
      min(col("v_dbl")).as("mn_d"), max(col("v_dbl")).as("mx_d"),
      min(col("v_str")).as("mn_s"), max(col("v_str")).as("mx_s"),
      min(col("v_ts")).as("mn_t"), max(col("v_ts")).as("mx_t"))
      .select(col("col_name"), col("n_nonnull"), col("n_distinct"),
        expr(
          """CASE col_name
            |  WHEN 'l_orderkey' THEN cast(mn_l as string)
            |  WHEN 'l_quantity' THEN format_string('%.6f', mn_d)
            |  WHEN 'l_returnflag' THEN mn_s
            |  ELSE date_format(mn_t, 'yyyy-MM-dd HH:mm:ss') END""".stripMargin)
          .as("min_str"),
        expr(
          """CASE col_name
            |  WHEN 'l_orderkey' THEN cast(mx_l as string)
            |  WHEN 'l_quantity' THEN format_string('%.6f', mx_d)
            |  WHEN 'l_returnflag' THEN mx_s
            |  ELSE date_format(mx_t, 'yyyy-MM-dd HH:mm:ss') END""".stripMargin)
          .as("max_str"))
      .orderBy("col_name")
  }

  val a18Sql: String =
    """SELECT * FROM (
      |  SELECT 'l_orderkey' AS col_name, count(l_orderkey) AS n_nonnull,
      |    count(DISTINCT l_orderkey) AS n_distinct,
      |    CAST(min(l_orderkey) AS VARCHAR) AS min_str,
      |    CAST(max(l_orderkey) AS VARCHAR) AS max_str FROM lineitem
      |  UNION ALL
      |  SELECT 'l_quantity', count(l_quantity), count(DISTINCT l_quantity),
      |    printf('%.6f', min(l_quantity)), printf('%.6f', max(l_quantity))
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_returnflag', count(l_returnflag),
      |    count(DISTINCT l_returnflag), min(l_returnflag), max(l_returnflag)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_shipdate', count(l_shipdate), count(DISTINCT l_shipdate),
      |    strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
      |    strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') FROM lineitem
      |) ORDER BY col_name""".stripMargin

  /** A19 — statistics answered from METADATA ONLY: parquet aggregate
    * pushdown. a18 computes the profile by scanning data; a19 is the
    * companion scale lever — COUNT/MIN/MAX (and GROUP BY on partition
    * columns) answered from parquet footer statistics, so the "scan"
    * emits one pre-aggregated row per row-group instead of the rows
    * themselves. Two shapes, one query: global lineitem stats from an
    * unpartitioned table's footers, and per-day event stats where BOTH
    * the aggregate AND the group-by are pushed (`PushedAggregation` +
    * `PushedGroupBy: [day]` — the partition value is the group, footer
    * stats are the aggregate, zero data pages read). Both pushes are
    * require-pinned in-query: this operator's contract IS the
    * mechanism, silently falling back to a data scan would still
    * return the right rows. The oracle replays both relationally —
    * pushdown must change the I/O, never the answer.
    *
    * Spark-first shape: DSv2 parquet scan (`useV1SourceList` minus
    * parquet) + `spark.sql.parquet.aggregatePushdown` — planner work,
    * zero custom code. Scale shape: at 100 TB this is the difference
    * between a profiling/monitoring query costing a full-fact scan and
    * costing a footer sweep (~KB per file) — the reason production
    * catalogs answer row counts instantly. The pushdown contract (no
    * row filters, partition-column groups only, COUNT/MIN/MAX only) is
    * exactly the footer-stats feasibility boundary; a18 covers
    * everything past it.
    */
  def a19AggPushdown(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_a19_")
    try {
      writeDayPartitionedLayout(s, d, dir.toString)
      withConf(s, Seq(
        "spark.sql.sources.useV1SourceList" -> "avro,csv,json,kafka,orc,text",
        "spark.sql.parquet.aggregatePushdown" -> "true")) { c =>
        val global = c.read.parquet(s"$d/lineitem.parquet")
          .agg(count(col("l_orderkey")).as("n_rows"),
            min(col("l_orderkey")).as("min_v"),
            max(col("l_orderkey")).as("max_v"))
          .select(lit("lineitem:total").as("scope"),
            col("n_rows"), col("min_v"), col("max_v"))
        require(global.queryExecution.sparkPlan.toString
            .contains("PushedAggregation: [COUNT(l_orderkey)"),
          "a19: global COUNT/MIN/MAX must push to parquet footers - " +
            "a silent data-scan fallback defeats the operator")
        val grouped = c.read.parquet(s"$dir/fact")
          .groupBy(col("day"))
          .agg(count(col("event_id")).as("n_rows"),
            min(col("event_id")).as("min_v"),
            max(col("event_id")).as("max_v"))
          .select(concat(lit("events:"), col("day")).as("scope"),
            col("n_rows"), col("min_v"), col("max_v"))
        val gPlan = grouped.queryExecution.sparkPlan.toString
        require(gPlan.contains("PushedAggregation: [COUNT(event_id)") &&
            gPlan.contains("PushedGroupBy: [day]"),
          "a19: per-day stats must push BOTH the aggregate and the " +
            "partition-column group-by")
        GraftSessions.rehome(s,
          global.unionByName(grouped).orderBy("scope").localCheckpoint())
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val a19Sql: String =
    """SELECT * FROM (
      |  SELECT 'lineitem:total' AS scope, count(l_orderkey) AS n_rows,
      |    min(l_orderkey) AS min_v, max(l_orderkey) AS max_v FROM lineitem
      |  UNION ALL
      |  SELECT 'events:' || strftime(ts, '%Y-%m-%d'), count(event_id),
      |    min(event_id), max(event_id)
      |  FROM events GROUP BY strftime(ts, '%Y-%m-%d')
      |) ORDER BY scope""".stripMargin

  private[queries] val A20Codecs = Seq("snappy", "uncompressed", "zstd")

  /** Total bytes of the visible data files under a layout dir. */
  private[queries] def a20LayoutBytes(dir: java.nio.file.Path): Long = {
    val files = dir.toFile.listFiles()
    if (files == null) 0L
    else files.filter(f => f.isFile && !f.getName.startsWith("_") &&
      !f.getName.startsWith(".")).map(_.length).sum
  }

  /** Writes the a20 events projection under each codec and returns
    * (codec → layout bytes) — factored so `CodecLayoutSpec` can pin the
    * measured compression ratios. */
  private[graft] def a20WriteLayouts(s: SparkSession, d: String,
      base: java.nio.file.Path): Map[String, Long] = {
    val ev = events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    A20Codecs.map { c =>
      ev.write.option("compression", c).parquet(base.resolve(c).toString)
      c -> a20LayoutBytes(base.resolve(c))
    }.toMap
  }

  /** A20 — storage-codec layout proof: the same relation written under
    * snappy, zstd, and uncompressed parquet, each read back and
    * aggregated identically — the oracle hash certifies every codec
    * round-trips losslessly, and the in-query require pins the size
    * lever (zstd ≤ snappy < uncompressed) that motivates the choice.
    * At 100 TB the codec IS a first-order cost knob: it scales the
    * bytes every scan, shuffle spill, and replica pays — typically
    * 2–4× between uncompressed and zstd on textual/numeric mixes —
    * and it is purely a WRITE-TIME property (a14–a16's clustering,
    * a19's footer stats, and all pruning compose unchanged on top).
    * The classic trade: snappy decodes faster per byte, zstd stores
    * fewer bytes; scan-bound workloads usually win with zstd, CPU-
    * bound rewrites with snappy — measured ratios pinned in
    * `CodecLayoutSpec` so the numbers, not folklore, decide.
    */
  def a20CodecLayout(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_a20_")
    try {
      val sizes = a20WriteLayouts(s, d, dir)
      require(sizes("zstd") <= sizes("snappy") &&
          sizes("snappy") < sizes("uncompressed"),
        s"a20: codec size ordering violated: $sizes")
      A20Codecs.sorted.map { c =>
        s.read.parquet(dir.resolve(c).toString)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("user_id")).as("n_users"),
            r6(dsum(col("value"))).as("value_sum"),
            min(col("event_id")).as("min_event"),
            max(col("event_id")).as("max_event"))
          .select(lit(c).as("codec"), col("n_rows"), col("n_users"),
            col("value_sum"), col("min_event"), col("max_event"))
      }.reduce(_ unionByName _)
        .orderBy("codec")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val a20Sql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS codec, count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  ${r6Sql("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)")}
        |    AS value_sum,
        |  min(event_id) AS min_event, max(event_id) AS max_event
        |FROM events""".stripMargin
    s"""SELECT * FROM (
      |${A20Codecs.sorted.map(one).mkString("\nUNION ALL\n")}
      |) ORDER BY codec""".stripMargin
  }

  // ---- A21: manifest-level min/max file pruning ------------------------

  /** Per-file (path, min, max) stats of a written layout, collected in
    * ONE read pass via `input_file_name()` — the commit-time stats a
    * production writer gets for free from its write-task metrics. The
    * returned manifest is driver-sized: one row per FILE, never per
    * row/row-group. */
  private[graft] def a21StatsOf(s: SparkSession, path: String,
      statCol: String): Seq[(String, Long, Long)] =
    s.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(statCol)).as("lo"), max(col(statCol)).as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq

  /** The manifest-pruned read: files whose [lo, hi] envelope intersects
    * the predicate range, selected DRIVER-SIDE from the stats manifest
    * — no footer of a pruned file is ever opened (a14's footer skipping
    * still opens every footer; at 100 TB with 10⁶ files, THAT is the
    * next bottleneck, which is why production formats hoist min/max
    * into manifest metadata — the public Iceberg scan-planning design).
    * The residual predicate still applies: file granularity over-
    * approximates the row set. */
  private[graft] def a21PrunedRead(s: SparkSession,
      stats: Seq[(String, Long, Long)], lo: Long, hi: Long): (DataFrame, Int) = {
    val selected = stats.filter { case (_, flo, fhi) => fhi >= lo && flo <= hi }
    (s.read.parquet(selected.map(_._1): _*), selected.size)
  }

  /** A21 — MANIFEST-level min/max pruning, completing the skipping
    * ladder a14 (parquet footer stats) and a16 (z-order) climb: the
    * per-file envelope lives in table METADATA, so scan planning
    * selects the file set on the driver without opening a single
    * pruned file. The layout is the a14 discipline (range-clustered by
    * `event_id`, disjoint per-file envelopes); the stats manifest is
    * collected in one pass at write time; the quarter-range slice then
    * reads ONLY the intersecting files plus the residual row predicate.
    * In-op requires pin that pruning genuinely engaged (selected <
    * total, and the executed scan read exactly the selected files);
    * the oracle replays the slice against the original table, so the
    * hash certifies the manifest-pruned read is lossless.
    *
    * Scale shape: planning cost is O(files) driver metadata (at 10⁶
    * files: one manifest scan — production formats even index the
    * manifests; here the manifest IS the in-memory stats list); read
    * cost is the intersecting slice only. This is the layout lever
    * that turns "scan 100 TB" into "open 1% of the files", one rung
    * above a14's "read 1% of the row groups after opening every
    * footer".
    */
  def a21ManifestStatsPrune(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_a21_")
    val path = s"$dir/events_by_id"
    try {
      events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .repartitionByRange(PruneFileCount, col("event_id"))
        .sortWithinPartitions("event_id")
        .write.parquet(path)
      val stats = a21StatsOf(s, path, "event_id")
      require(stats.size > 1,
        "a21: the clustered layout must materialize multiple files")
      val maxId = stats.map(_._3).max
      val (lo, hi) = (maxId / 4, maxId / 2)
      val (pruned, nSel) = a21PrunedRead(s, stats, lo, hi)
      require(nSel > 0 && nSel < stats.size,
        s"a21: manifest pruning did not engage ($nSel of ${stats.size} files)")
      val sliced = pruned
        .filter(col("event_id") >= lo && col("event_id") <= hi)
        .orderBy("event_id")
      // the read's relation is exactly the selected files (checked
      // BEFORE the checkpoint truncates lineage)
      val scanned = sliced.inputFiles.length
      require(scanned == nSel,
        s"a21: scan reads $scanned files, manifest selected $nSel")
      sliced.localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val a21Sql: String =
    """WITH r AS (SELECT max(event_id) AS m FROM events)
      |SELECT event_id, event_type, value
      |FROM events, r
      |WHERE event_id >= m // 4 AND event_id <= m // 2
      |ORDER BY event_id""".stripMargin

  // ---- A22: manifest-level BLOOM-FILTER file skipping -------------------

  private[queries] val A22K = 3
  private[queries] val A22BitsPerKey = 16L

  /** Bloom size for a layout: [[A22BitsPerKey]] bits per expected key
    * per file (k=[[A22K]] → ~19% fill → fp ≈ 0.19³ ≈ 0.7% per probe),
    * rounded up to a power of two, floored at 8192. Sizing MUST follow
    * the data — the first cut of this operator fixed 8192 bits and
    * died at the 10× composition bench (6k keys/file → 90% fill → fp
    * ≈ 0.73: bloom "skipping" selected 12 of 16 files). Production
    * formats size exactly this way (parquet bloom filters take an
    * expected-NDV + target-fpp pair; Delta's bloom index the same). */
  private[graft] def a22BitsFor(nRows: Long, nFiles: Int): Long = {
    val perFile = math.max(1L, (nRows + nFiles - 1) / nFiles)
    java.lang.Long.highestOneBit(
      math.max(8192L, perFile * A22BitsPerKey) * 2 - 1)
  }

  /** The key's [[A22K]] bloom bit positions — xxhash64 seeded per probe,
    * the standard k-hash construction. Shared between manifest build
    * and lookup so the two sides can never disagree. */
  private[graft] def a22Positions(key: Column, bits: Long): Column =
    array((0 until A22K).map(i =>
      pmod(xxhash64(key, lit(i)), lit(bits))): _*)

  /** Per-file bloom manifest over `keyCol`, collected in ONE read pass:
    * (file → set bit positions). Driver-sized by design — each file
    * contributes at most `bits` positions ([[A22BitsPerKey]]/8 bytes
    * per row of bitmap in a production encoding), one manifest ROW per
    * file, never per row. */
  private[graft] def a22BloomManifest(s: SparkSession, path: String,
      keyCol: String, bits: Long): Seq[(String, Set[Long])] =
    s.read.parquet(path)
      .select(input_file_name().as("file"),
        explode(a22Positions(col(keyCol), bits)).as("bit"))
      .groupBy("file").agg(collect_set(col("bit")).as("bits"))
      .collect()
      .map(r => (r.getString(0),
        r.getSeq[Long](1).toSet))
      .sortBy(_._1).toSeq

  /** The bloom-pruned file set for a batch of point-lookup keys: a file
    * qualifies iff ALL of some key's positions are set — may-contain
    * semantics, false positives possible, false negatives impossible. */
  private[graft] def a22Select(manifest: Seq[(String, Set[Long])],
      keyBits: Seq[Seq[Long]]): Seq[String] =
    manifest.filter { case (_, bits) =>
      keyBits.exists(_.forall(bits.contains))
    }.map(_._1)

  /** A22 — manifest-level BLOOM file skipping, the rung a21's min/max
    * envelope cannot reach: a POINT lookup on a uniformly distributed
    * key (here a content hash — the "is this document already stored?"
    * probe every dedup pipeline runs) finds every file's [lo, hi]
    * envelope spanning the whole hash domain, so envelope pruning
    * selects ALL files (an in-op require proves exactly that on this
    * layout). The public mechanism (parquet bloom filters / Delta's
    * bloom index, hoisted manifest-side like Iceberg scan planning):
    * each file carries a compact membership bitmap over the key; a
    * lookup probes the bitmaps DRIVER-side and opens only may-contain
    * files.
    *
    * The query stores the corpus content-addressed (md5(text), hash-
    * clustered into [[PruneFileCount]]×2 files), builds the per-file
    * bloom manifest in one pass, then probes three content hashes. In-
    * op requires: the min/max envelope selection is ALL files for every
    * probe (the motivating failure), the bloom selection is under half
    * the layout, and the executed scan reads EXACTLY the selected files.
    * The oracle replays the lookup relationally — the hash certifies
    * may-contain pruning is lossless (no false negatives).
    *
    * Scale shape: planning is O(files × k) driver bitmap probes over
    * [[A22BitsPerKey]]/8 bytes-per-row of manifest metadata (2 B/row —
    * at 10⁶ files of 1 M rows each, 2 MB per file, shardable; compare
    * the 100 TB it skips); the read opens the true file(s) plus a
    * vanishing false-positive tail (fp ≈ fill^[[A22K]] ≈ 0.7% per
    * probe at the sized fill). Bits are sized FROM THE LAYOUT
    * ([[a22BitsFor]]) — a fixed-size bloom saturates as files grow and
    * silently stops skipping, measured at this repo's own 10×
    * composition bench. min/max, z-order, and bloom compose: envelopes
    * prune ranges, blooms prune points. */
  def a22BloomPrune(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_a22_")
    val path = s"$dir/docs_by_hash"
    try {
      val nDocs = documents(s, d).count()
      val bits = a22BitsFor(nDocs, PruneFileCount * 2)
      documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("content_key"),
          col("lang"), col("source"))
        .repartition(PruneFileCount * 2, col("content_key"))
        .write.parquet(path)
      val manifest = a22BloomManifest(s, path, "content_key", bits)
      require(manifest.size > 1,
        "a22: the hash-clustered layout must materialize multiple files")
      // the probes: content hashes of three known documents (collected
      // as bounded driver literals — the lookup's input, not a scan)
      val probeKeys = documents(s, d)
        .filter(col("doc_id").isin(7L, 23L, 55L))
        .select(md5(col("text"))).collect().map(_.getString(0)).toSeq
      require(probeKeys.size == 3, "a22: probe documents missing")
      // min/max envelopes are near-useless here: a uniform hash key
      // falls inside MOST files' [lo, hi] envelope (all of them once
      // files hold more than a handful of hashes — at the sweep's
      // sf0.001 layout, ~6 hashes/file leave slack at the extremes, so
      // the require is ≥ half rather than all; the bloom, below, must
      // strictly beat whatever the envelopes managed)
      val envelopes = s.read.parquet(path)
        .groupBy(input_file_name().as("file"))
        .agg(min(col("content_key")).as("lo"), max(col("content_key")).as("hi"))
        .collect().map(r => (r.getString(1), r.getString(2)))
      val envSel = probeKeys.map(k =>
        envelopes.count { case (lo, hi) => lo <= k && k <= hi })
      require(envSel.forall(_ >= envelopes.length / 2),
        s"a22: min/max envelopes point-pruned a uniform hash key " +
          s"($envSel of ${envelopes.length}) — the layout no longer " +
          "motivates the bloom manifest")
      // probe positions through the SAME expression as the manifest
      // build (a 3-row local relation — never a table scan), so the
      // two sides cannot drift
      import s.implicits._
      val keyBits = probeKeys.toDF("k")
        .select(a22Positions(col("k"), bits)).collect()
        .map(_.getSeq[Long](0).toSeq).toSeq
      val selected = a22Select(manifest, keyBits)
      require(selected.nonEmpty && selected.size <= manifest.size / 2 &&
          selected.size < envSel.min,
        s"a22: bloom skipping did not engage " +
          s"(${selected.size} of ${manifest.size} files, " +
          s"envelopes selected ${envSel.min}+)")
      val read = s.read.parquet(selected: _*)
        .filter(col("content_key").isin(probeKeys: _*))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
      val scanned = read.inputFiles.length
      require(scanned == selected.size,
        s"a22: scan reads $scanned files, bloom selected ${selected.size}")
      read.localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val a22Sql: String =
    """SELECT doc_id, lang, source FROM documents
      |WHERE md5(text) IN (
      |  SELECT md5(text) FROM documents WHERE doc_id IN (7, 23, 55))
      |ORDER BY doc_id""".stripMargin

  // ---- A23: HIDDEN partitioning (transform partitions, raw-column reads)

  private[queries] val A23Buckets = 8

  /** The two partition transforms, applied at write AND derived at
    * plan time from raw-column predicates — one definition so the two
    * sides can never disagree (the Iceberg hidden-partitioning
    * contract: transforms live in table metadata, not in queries). */
  private[graft] def a23DayOf(ts: Column): Column = to_date(ts)
  private[graft] def a23BucketOf(user: Column): Column =
    pmod(xxhash64(user), lit(A23Buckets.toLong))

  /** A23 — HIDDEN partitioning: the table is laid out by TRANSFORMS of
    * its columns (`day(ts)` × `bucket(8, user_id)` — the Iceberg
    * partition-transform design), and the READER never mentions either:
    * it filters the RAW columns (`ts` range, `user_id` equality) and
    * scan planning derives the partition predicates from the transform
    * definitions — day ∈ [day(lo), day(hi)], bucket = hash(user) mod 8
    * — selecting partition directories driver-side.
    *
    * This closes the classic Hive failure the public design exists
    * for: with explicit partition columns, a query that filters
    * `ts >= X` but forgets `day >= date(X)` silently full-scans; with
    * hidden partitioning there is nothing to forget — the transform is
    * table metadata, and every raw predicate prunes. a15's DPP prunes
    * by a JOINED dim at runtime; a23 prunes by TRANSFORM DERIVATION at
    * plan time; they compose.
    *
    * In-op requires: the derived selection is a strict subset of the
    * layout's partition directories (pruning engaged on BOTH
    * dimensions: 3 of ~30 days × 1 of 8 buckets), and the executed
    * scan reads ONLY files under the selected directories. The oracle
    * replays the raw-column filter over the unpartitioned table — the
    * hash certifies the derivation is lossless.
    *
    * Scale shape: planning is O(matching days × 1) driver metadata
    * (the bucket transform maps equality to exactly one bucket; the
    * day transform maps the range to its day interval); the read is
    * the matching slice only. At 100 TB with day × bucket(1024)
    * layout, a one-user-one-week probe opens 7 directories of ~1/7000
    * of the table — without the query knowing the layout exists. */
  def a23HiddenPartitioning(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_a23_")
    val path = s"$dir/events_hidden"
    try {
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      // Cluster by the partition transforms before the fan-out write
      // (guide §6 / Iceberg write.distribution-mode=hash): without it the
      // scan's task count bounds write parallelism — the single-split
      // test file made ONE task create all ~240 partition files
      // sequentially, and at 100 TB every task would write a file per
      // (day, bucket) it happens to hold (N×P small files). Clustered,
      // each directory gets exactly one writer.
      ev.withColumn("day", a23DayOf(col("ts")))
        .withColumn("bucket", a23BucketOf(col("user_id")))
        .repartition(col("day"), col("bucket"))
        .write.partitionBy("day", "bucket").parquet(path)
      // the probe: one user, one ts range — RAW columns only
      val user = 7L
      val (tsLo, tsHi) = (PruneLo, PruneHi)
      // derive partition predicates through the SAME transforms (a
      // 1-row local relation, the a22 discipline)
      import s.implicits._
      val derived = Seq((tsLo, tsHi, user)).toDF("lo", "hi", "u")
        .select(
          a23DayOf(col("lo").cast("timestamp")).cast("string").as("dlo"),
          a23DayOf(col("hi").cast("timestamp") - expr("INTERVAL 1 MICROSECOND"))
            .cast("string").as("dhi"),
          a23BucketOf(col("u")).as("b"))
        .head()
      val (dLo, dHi, bucket) = (derived.getString(0), derived.getString(1),
        derived.getLong(2))
      val allDirs = Option(new java.io.File(path).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("day="))
        .flatMap(dayDir => Option(dayDir.listFiles()).toSeq.flatten
          .filter(b => b.isDirectory && b.getName.startsWith("bucket="))
          .map(b => (dayDir.getName.stripPrefix("day="),
            b.getName.stripPrefix("bucket=").toLong, b.toString)))
      val selected = allDirs.filter { case (day, b, _) =>
        day >= dLo && day <= dHi && b == bucket
      }.map(_._3).sorted
      require(selected.nonEmpty && selected.size * 4 <= allDirs.size,
        s"a23: transform derivation did not prune " +
          s"(${selected.size} of ${allDirs.size} partition dirs)")
      val read = s.read.option("basePath", path).parquet(selected: _*)
        // residual RAW predicates — day/bucket never appear in the query
        .filter(col("user_id") === user &&
          col("ts") >= lit(tsLo).cast("timestamp") &&
          col("ts") < lit(tsHi).cast("timestamp"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
        .orderBy("event_id")
      // anchor the match on a directory boundary: a bare substring of
      // "day=X/bucket=N" would also accept "bucket=N0..N9" files and
      // silently weaken the guard if A23Buckets ever grows past 10
      val leaked = read.inputFiles.filterNot(f =>
        selected.exists(sel =>
          f.contains(sel.substring(sel.indexOf("day=")) + "/")))
      require(leaked.isEmpty,
        s"a23: the scan read outside the derived partitions: " +
          leaked.take(3).mkString(", "))
      read.localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  val a23Sql: String =
    s"""SELECT event_id, user_id, event_type, value FROM events
      |WHERE user_id = 7
      |  AND ts >= TIMESTAMP '$PruneLo' AND ts < TIMESTAMP '$PruneHi'
      |ORDER BY event_id""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a23_hidden_partitioning" -> a23HiddenPartitioning,
    "a22_bloom_prune" -> a22BloomPrune,
    "a21_manifest_prune" -> a21ManifestStatsPrune,
    "a20_codec_layout" -> a20CodecLayout,
    "a14_minmax_prune" -> a14MinmaxPrune,
    "a15_dynamic_prune" -> a15DynamicPrune,
    "a16_zorder_prune" -> a16ZorderPrune,
    "a17_cbo_reorder" -> a17CboReorder,
    "a18_profile" -> a18Profile,
    "a19_agg_pushdown" -> a19AggPushdown,
  )

  val oracle: Map[String, String] = Map(
    "a23_hidden_partitioning" -> a23Sql,
    "a22_bloom_prune" -> a22Sql,
    "a21_manifest_prune" -> a21Sql,
    "a14_minmax_prune" -> a14Sql,
    "a15_dynamic_prune" -> a15Sql,
    "a16_zorder_prune" -> a16Sql,
    "a17_cbo_reorder" -> a17Sql,
    "a18_profile" -> a18Sql,
    "a19_agg_pushdown" -> a19Sql,
    "a20_codec_layout" -> a20Sql,
  )
}
