package graft.queries

import org.apache.spark.sql.{DataFrame, GraftSessions, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.GraftSession.withConf
import graft.Tables._

/** Beyond-reference join operators (SURVEY §2.4 notes the reference has
  * no relational join engine; equi/broadcast/anti joins are exercised in
  * Relational/Enrich). Here: the time-series joins Spark lacks as
  * builtins, composed scale-first from exchange + window primitives.
  */
object Joins {

  /** J1 — as-of join: each probe row (click events) picks up the most
    * recent snapshot value (purchase events, deduped per (user, ts)) at
    * or before its timestamp.
    *
    * Spark-first shape: NOT a windowed theta-join (quadratic per key) —
    * tag both sides, union, and carry the last non-null snapshot value
    * forward over a (user, time) window. ONE shuffle on user_id, linear
    * scan per partition; the classic scalable as-of. Ties: a snapshot at
    * exactly the probe's ts applies (side 0 sorts before side 1), equal
    * probes commute (all carry the same value), equal snapshots are
    * pre-aggregated away.
    *
    * The DuckDB oracle replays it with a native ASOF LEFT JOIN —
    * independent implementation, same semantics.
    */
  def j1AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val snaps = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("snap_value"))
    val probes = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val tagged = snaps.select(col("user_id"), col("ts"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"), col("snap_value"))
      .unionByName(probes.select(col("user_id"), col("ts"), lit(1).as("side"),
        col("event_id"), lit(null).cast("double").as("snap_value")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_value", last(col("snap_value"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("asof_value"))
      .orderBy("event_id")
  }

  val j1Sql: String =
    """WITH snaps AS (
      |  SELECT user_id, ts, max(value) AS snap_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
      |probes AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, p.ts, s.snap_value AS asof_value
      |FROM probes p ASOF LEFT JOIN snaps s
      |  ON p.user_id = s.user_id AND p.ts >= s.ts
      |ORDER BY p.event_id""".stripMargin

  /** J2 — range (interval) join: for each order's ship window
    * [orderdate, orderdate + 0..4 days] (every 100th order — interval
    * joins are interval-side-bounded in practice), count all lineitem
    * shipments falling inside the window.
    *
    * Spark-first shape: Spark has no native interval join, and the naive
    * formulation (`JOIN ON p BETWEEN ws AND we`) plans as a
    * BroadcastNestedLoopJoin — every point against every window. Instead
    * the time axis is BINNED (weekly): windows explode into the ≤2 bins
    * they overlap, points key into their single bin, and the join is a
    * plain shuffle equi-join on bin with the exact BETWEEN as a residual
    * filter. Each true (window, point) pair meets in EXACTLY one bin (the
    * point's), so no dedup pass is needed — unlike multi-band LSH
    * emission. Bin width is the scale knob: wider bins → fewer exploded
    * rows, more residual-filtered candidates; at 100 TB pick it near the
    * median interval length so both stay linear.
    *
    * The DuckDB oracle replays the naive range predicate directly (its
    * IEJoin handles it natively) — an independent implementation of the
    * same semantics.
    */
  def j2RangeJoin(s: SparkSession, d: String): DataFrame = {
    def binOf(c: org.apache.spark.sql.Column) =
      floor(datediff(c, to_date(lit("1992-01-01"))) / 7).cast("long")
    // Window length comes from (o_orderkey div 100) % 5, NOT
    // o_orderkey % 5: the sampling modulus 100 is a multiple of 5, so the
    // latter would make every sampled window zero-length and silently
    // degrade the range join under test to same-day equality.
    val win = orders(s, d)
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("ws"),
        date_add(col("o_orderdate").cast("date"),
          (expr("o_orderkey div 100") % 5).cast("int")).as("we"))
    val wbins = win.withColumn("bin",
      explode(sequence(binOf(col("ws")), binOf(col("we")))))
    val pts = lineitem(s, d)
      .select(col("l_shipdate").cast("date").as("p"))
      .withColumn("bin", binOf(col("p")))
    val cnt = wbins.join(pts,
        wbins("bin") === pts("bin") && col("p").between(col("ws"), col("we")))
      .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n_shipments"))
    win.join(cnt, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"),
        date_format(col("ws"), "yyyy-MM-dd").as("ws"),
        date_format(col("we"), "yyyy-MM-dd").as("we"),
        coalesce(col("n_shipments"), lit(0L)).as("n_shipments"))
      .orderBy("o_orderkey")
  }

  val j2Sql: String =
    """WITH win AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS ws,
      |    CAST(o_orderdate AS DATE) + CAST((o_orderkey // 100) % 5 AS INT) AS we
      |  FROM orders WHERE o_orderkey % 100 = 0),
      |cnt AS (
      |  SELECT w.o_orderkey, count(*) AS n_shipments
      |  FROM win w JOIN lineitem l
      |    ON CAST(l.l_shipdate AS DATE) BETWEEN w.ws AND w.we
      |  GROUP BY w.o_orderkey)
      |SELECT w.o_orderkey, strftime(w.ws, '%Y-%m-%d') AS ws,
      |  strftime(w.we, '%Y-%m-%d') AS we,
      |  coalesce(c.n_shipments, 0) AS n_shipments
      |FROM win w LEFT JOIN cnt c USING (o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Write `df` as a BUCKETED, per-bucket-sorted external parquet table
    * and return its catalog-backed frame. Bucketing is the layout half
    * of the co-located-join contract: both sides bucketed by the join
    * key into the SAME bucket count scan back as hash-partitioned
    * relations, so the join needs NO exchange (pinned in
    * `BucketedJoinSpec`) — the technique that turns a repeated
    * fact×fact join at 100 TB from two corpus-sized shuffles per run
    * into zero.
    */
  def writeBucketed(s: SparkSession, df: DataFrame, keyCol: String,
      buckets: Int, table: String, path: String): DataFrame = {
    df.write.mode("overwrite")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .option("path", path).format("parquet").saveAsTable(table)
    s.table(table)
  }

  /** J4 — bucketed co-located join, run for REAL (the s9 discipline:
    * genuine filesystem + catalog behavior inside a hash-compared
    * query): lineitem and orders are written as bucketed tables
    * (8 buckets on the order key), read back through the catalog, and
    * joined bucket-to-bucket; the revenue-by-priority aggregate is the
    * oracle-checked answer, certifying the round trip was lossless.
    * The scale claim — the bucketed join plans with no shuffle
    * exchange on either side — is pinned by `BucketedJoinSpec` with
    * broadcast disabled (at oracle SF the optimizer may broadcast the
    * small side; the LAYOUT property is what this operator adds).
    */
  def j4BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_j4_")
    val runId = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val tLi = s"j4_li_$runId"
    val tOrd = s"j4_ord_$runId"
    try {
      val li = writeBucketed(s,
        lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount")),
        "l_orderkey", 8, tLi, dir.resolve("li").toString)
      val ord = writeBucketed(s,
        orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        "o_orderkey", 8, tOrd, dir.resolve("ord").toString)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          r6(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
        .orderBy("o_orderpriority")
        .localCheckpoint() // materialize before tables drop + scratch deletes
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $tLi")
      s.sql(s"DROP TABLE IF EXISTS $tOrd")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  val j4Sql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  floor(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,6))) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
      |    AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val saltCount = 16

  /** The salted sides of j5, factored so the spec can measure the
    * partition-balance property directly: the fact key is SALTED with a
    * deterministic per-row suffix (md5 of the event id — no RNG, the
    * repo determinism contract) and the dimension side is REPLICATED
    * once per salt, so the hot key's rows spread across
    * [[saltCount]] shuffle partitions instead of flooding one.
    */
  def saltedFactOf(fact: DataFrame): DataFrame =
    fact.withColumn("salt",
      pmod(md5Hash32(col("event_id").cast("string")),
        lit(saltCount.toLong)).cast("int"))

  def saltedDimOf(dim: DataFrame): DataFrame =
    dim.withColumn("salt",
      explode(sequence(lit(0), lit(saltCount - 1))))

  /** J5 — salted skew join: the manual skew-mitigation technique next
    * to t8's AQE-skew fallback (AQE splits oversized partitions at
    * runtime; salting PREVENTS them by construction — the tool to
    * reach for when a hot key is known in advance, e.g. the null/
    * default key of a reference join, or when AQE is unavailable
    * mid-pipeline). A deterministic hot key is manufactured — 70% of
    * events collapse onto customer 1 — so the plain shuffle join
    * would put 70% of the fact side in ONE task; the salted join
    * shuffles on (key, salt) and the dim side replicates
    * [[saltCount]]×, bounding every task at ~1/saltCount of the hot
    * key. The oracle replays the UNSALTED join relationally: the hash
    * certifies that salting changes the distribution and nothing
    * else. `SaltedJoinSpec` pins the balance property itself
    * (max-partition share with and without salt) and salted ≡ plain.
    *
    * Scale shape: dim replication is saltCount× a BOUNDED dimension
    * (still broadcastable or a small shuffle); the fact side pays the
    * same one shuffle it always did, just on a wider key. This is the
    * standard production answer when one key holds >p% of a 100 TB
    * fact table.
    */
  def j5SaltedSkewJoin(s: SparkSession, d: String): DataFrame = {
    val fact = events(s, d).select(
      when(expr("user_id % 10") < 7, lit(1L))
        .otherwise(col("user_id")).as("cust_id"),
      col("event_id"), col("value"))
    val dim = customer(s, d).select(col("c_custkey").as("cust_id"),
      col("c_mktsegment").as("segment"))
    j5Of(fact, dim)
  }

  /** The j5 core over any (cust_id, value) fact and (cust_id, segment)
    * dim — factored for [[graft.tools.ScaleHeadroom]].
    */
  private[graft] def j5Of(fact: DataFrame, dim: DataFrame): DataFrame =
    saltedFactOf(fact).join(saltedDimOf(dim), Seq("cust_id", "salt"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), r6(dsum(col("value"))).as("total_value"))
      .orderBy("segment")

  val j5Sql: String =
    """SELECT c_mktsegment AS segment, count(*) AS n,
      |  floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      |      * 1000000.0 + 0.5) / 1000000.0 AS total_value
      |FROM (SELECT CASE WHEN user_id % 10 < 7 THEN 1 ELSE user_id END
      |        AS cust_id, value
      |      FROM events) e
      |JOIN customer ON cust_id = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The j6 join core: the PLAIN (unsalted) shuffle join over the same
    * manufactured hot key as j5 — event_id carried through so the fact's
    * shuffle rows have realistic width.
    */
  private[graft] def j6Core(factM: DataFrame, dim: DataFrame): DataFrame =
    factM.join(dim, Seq("cust_id"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), r6(dsum(col("value"))).as("total_value"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))

  /** Execute [[j6Core]] under an AQE scope sized so runtime skew
    * handling can engage at oracle scale (thresholds are MBs-scale
    * knobs in production; here the hot partition is tens of KB). The
    * join is forced to sort-merge (broadcast off — the skewed shape
    * under test), executed to completion inside the scope, and when
    * `skewEnabled` the final adaptive plan MUST carry the
    * `skew=true` marker or the query refuses: silently falling back to
    * one straggler task is exactly the failure mode this operator
    * exists to rule out. Factored so `AqeSkewJoinSpec` can run the
    * identical plan with skew handling off as a control. `factM` and
    * `dim` may be frames of any session: they are re-homed onto the
    * scope's.
    */
  private[graft] def runAqeSkewJoinWithPlan(s: SparkSession,
      factM: DataFrame, dim: DataFrame,
      skewEnabled: Boolean): (DataFrame, String) =
    withConf(s, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> skewEnabled.toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB")) { c =>
      val out = j6Core(GraftSessions.rehome(c, factM),
        GraftSessions.rehome(c, dim))
      val materialized = out.localCheckpoint() // executes under this scope
      val fin = out.queryExecution.executedPlan.toString
      if (skewEnabled) require(fin.contains("skew=true"),
        "j6: AQE did not split the skewed join partition - the hot key " +
          "would run as one straggler task")
      (GraftSessions.rehome(s, materialized.orderBy("segment")), fin)
    }

  private[queries] def runAqeSkewJoin(s: SparkSession, factM: DataFrame,
      dim: DataFrame, skewEnabled: Boolean): DataFrame =
    runAqeSkewJoinWithPlan(s, factM, dim, skewEnabled)._1

  /** J6 — AQE runtime skew-join handling: the OTHER half of the skew
    * story next to j5. Salting (j5) PREVENTS skew by construction when
    * the hot key is known in advance; AQE skew handling DETECTS it at
    * runtime from shuffle-stage map statistics and splits the oversized
    * partition into mapper-range slices, replicating the matching dim
    * partition — no query rewrite, no prior knowledge of which key is
    * hot. Same manufactured 70%-hot-key fact as j5; the fact is staged
    * as a MULTI-FILE parquet table first because AQE's split granularity
    * is the mapper: a single-mapper shuffle (one input split) is
    * UNSPLITTABLE however skewed — measured here, and the production
    * reading is that skew handling depends on upstream parallelism, not
    * only on sizes. The oracle replays the plain relational join: the
    * hash certifies runtime splitting changes the schedule, never the
    * result. `AqeSkewJoinSpec` pins the control (same plan, skew
    * handling off → no skew=true marker, same rows).
    *
    * Scale shape: this is the zero-effort first answer to skew at
    * 100 TB (AQE is on by default); j5's salting remains the tool when
    * a single KEY exceeds what one dim replica can absorb or when the
    * skewed stage feeds a further keyed operation AQE cannot re-split.
    */
  def j6AqeSkewJoin(s: SparkSession, d: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_j6_" +
      s.sparkContext.applicationId + "_" + Integer.toHexString(d.hashCode) +
      "_" + java.util.UUID.randomUUID().toString.take(8)
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(basePath, true)
    try {
      events(s, d).select(
          when(expr("user_id % 10") < 7, lit(1L))
            .otherwise(col("user_id")).as("cust_id"),
          col("event_id"), col("value"))
        .repartition(8)
        .write.parquet(s"$base/fact")
      val factM = s.read.parquet(s"$base/fact")
      val dim = customer(s, d).select(col("c_custkey").as("cust_id"),
        col("c_mktsegment").as("segment"))
      runAqeSkewJoin(s, factM, dim, skewEnabled = true)
        .localCheckpoint() // scratch dir is deleted in finally
    } finally fs.delete(basePath, true)
  }

  val j6Sql: String =
    """SELECT c_mktsegment AS segment, count(*) AS n,
      |  floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      |      * 1000000.0 + 0.5) / 1000000.0 AS total_value,
      |  min(event_id) AS first_event, max(event_id) AS last_event
      |FROM (SELECT CASE WHEN user_id % 10 < 7 THEN 1 ELSE user_id END
      |        AS cust_id, event_id, value
      |      FROM events) e
      |JOIN customer ON cust_id = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The j7 join core: fact lineitems of URGENT orders, revenue per
    * return flag — the canonical selective-dim × big-fact shuffle join
    * the Bloom runtime filter exists for.
    */
  private[graft] def j7Core(li: DataFrame, urgent: DataFrame): DataFrame =
    li.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        r6(dsum(col("l_extendedprice"))).as("revenue"),
        min(col("l_orderkey")).as("first_key"),
        max(col("l_orderkey")).as("last_key"))

  /** Execute [[j7Core]] with Spark's runtime Bloom-filter injection
    * forced on (or off, for the spec's control) and the join forced to
    * shuffle. The application-side scan-size threshold is lowered to 0
    * because the production default (10 GB) is a BIGGER-than-testdata
    * gate, not a semantic one: at 100 TB the fact side clears it on its
    * own. When enabled, the executed plan MUST carry the
    * `might_contain` probe on the fact side or the query refuses —
    * silently degrading to an unfiltered shuffle is the failure mode
    * this operator exists to rule out.
    */
  private[graft] def runBloomFilterJoinWithPlan(s: SparkSession, d: String,
      bloomEnabled: Boolean): (DataFrame, String) = {
    val (materialized, plan, _) = runBloomFilterJoinExecuted(s, d, bloomEnabled)
    (materialized, plan)
  }

  /** The j7 scope: Bloom-filter injection on or off, the join forced
    * to shuffle. */
  private def bloomConf(enabled: Boolean): Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> enabled.toString,
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")

  /** [[j7Core]] under the forced-bloom conf scope on ANY fact/dim pair
    * (of any session), probe-required — the frame-parameterized core
    * for [[graft.tools.ScaleHeadroom]]. */
  private[graft] def j7BloomOf(s: SparkSession, li: DataFrame,
      urgent: DataFrame): DataFrame =
    withConf(s, bloomConf(enabled = true)) { c =>
      val out = j7Core(GraftSessions.rehome(c, li),
        GraftSessions.rehome(c, urgent))
      val materialized = out.localCheckpoint()
      require(out.queryExecution.executedPlan.toString.contains("might_contain"),
        "j7: bloom probe did not inject at this scale")
      GraftSessions.rehome(s, materialized)
    }

  /** [[runBloomFilterJoinWithPlan]] plus the EXECUTED (pre-checkpoint)
    * frame, whose plan carries the scan/filter metrics the spec pins.
    * That frame stays on the scope's session: re-homed, it would be a
    * new, unexecuted plan. */
  private[graft] def runBloomFilterJoinExecuted(s: SparkSession, d: String,
      bloomEnabled: Boolean): (DataFrame, String, DataFrame) =
    withConf(s, bloomConf(bloomEnabled)) { c =>
      val urgent = orders(c, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val out = j7Core(lineitem(c, d), urgent)
      val materialized = out.localCheckpoint() // executes under this scope
      val plan = out.queryExecution.executedPlan.toString
      if (bloomEnabled) require(plan.contains("might_contain"),
        "j7: no bloom_filter_might_contain probe on the fact scan - " +
          "the full fact would flow into the shuffle unfiltered")
      (GraftSessions.rehome(s, materialized.orderBy("l_returnflag")), plan, out)
    }

  /** J7 — runtime Bloom-filter join pruning: the NON-partition-column
    * counterpart to a15's dynamic partition pruning. a15's lever only
    * exists when the join key is the partition column; here the fact is
    * joined on a data column (`l_orderkey`), so no partition/file
    * pruning can apply — instead Spark builds a Bloom filter over the
    * SELECTIVE dim side (`bloom_filter_agg`, itself a map-side-
    * combinable sketch — k3's merge contract inside the optimizer) and
    * injects a `might_contain` probe into the fact side BELOW its
    * shuffle, so non-joining fact rows are dropped at the scan instead
    * of being shuffled, sorted, and discarded by the join. One-sided
    * error means dropped rows are provably non-joining — the oracle
    * replays the plain relational join and the hash certifies zero
    * result drift. `BloomRuntimeFilterSpec` pins the mechanism on plan
    * metrics: the probe's output is strictly below the fact scan's and
    * exactly the true join-side population (plus Bloom false
    * positives), and the bloom-off control carries no probe yet returns
    * identical rows.
    *
    * Scale shape: at 100 TB this is the difference between shuffling
    * the full fact (the dominant cost of a selective dim join) and
    * shuffling only the ~matching fraction; it composes with AQE and
    * needs no layout preparation, making it the zero-effort complement
    * to j4's bucketing (which removes the shuffle entirely but needs
    * the layout written in advance).
    */
  def j7BloomFilterJoin(s: SparkSession, d: String): DataFrame =
    runBloomFilterJoinWithPlan(s, d, bloomEnabled = true)._1

  val j7Sql: String =
    s"""SELECT l_returnflag, count(*) AS n,
      |  ${r6Sql("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)")}
      |    AS revenue,
      |  min(l_orderkey) AS first_key, max(l_orderkey) AS last_key
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j1_asof_join" -> j1AsofJoin,
    "j2_range_join" -> j2RangeJoin,
    "j4_bucketed_join" -> j4BucketedJoin,
    "j5_salted_skew_join" -> j5SaltedSkewJoin,
    "j6_aqe_skew_join" -> j6AqeSkewJoin,
    "j7_bloom_filter_join" -> j7BloomFilterJoin,
  )

  val oracle: Map[String, String] = Map(
    "j1_asof_join" -> j1Sql,
    "j2_range_join" -> j2Sql,
    "j4_bucketed_join" -> j4Sql,
    "j5_salted_skew_join" -> j5Sql,
    "j6_aqe_skew_join" -> j6Sql,
    "j7_bloom_filter_join" -> j7Sql,
  )
}
