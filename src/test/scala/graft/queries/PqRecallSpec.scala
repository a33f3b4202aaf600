package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Pins s18's ADC quality (r10 verdict #4: "recall within a pinned
  * bound of the uncompressed probe"): the 64-bit PQ codes (m=16
  * subspaces × 4 bits) must keep mean recall@5 against the exact
  * cosine top-5 far above the ~5/299 ≈ 0.017 chance floor. The build
  * is fully deterministic (first-ksub seed + decimal-exact Lloyd), so
  * the measured 0.38 at sf0.001 is exact; the pin keeps slack only
  * for driver testdata regeneration.
  */
class PqRecallSpec extends SparkSpecBase {

  test("s18 ADC recall@5 holds the pinned bound over the exact probe") {
    val out = Similarity.s18PqAdc(spark, sf).cache()
    try {
      val rec = out.groupBy("query_id").agg(first("recall_at_5").as("r"))
      val mean = rec.agg(avg("r")).head.getDouble(0)
      assert(mean >= 0.3, s"mean ADC recall@5 degraded to $mean")
      // internal consistency: per-query recall must equal the hit count
      val bad = out.groupBy("query_id")
        .agg(sum("hit").cast("double").as("h"), first("recall_at_5").as("r"))
        .filter(abs(col("h") / lit(5.0) - col("r")) > lit(1e-9)).count()
      assert(bad == 0, "recall_at_5 disagrees with the hit flags")
      // exactly 5 ranked rows per query, ranks 1..5
      val shape = out.groupBy("query_id")
        .agg(count(lit(1)).as("n"), max("rank").as("mx"))
        .filter(col("n") =!= 5 || col("mx") =!= 5).count()
      assert(shape == 0, "ADC top-5 lost rows or ranks")
    } finally out.unpersist()
  }

  /** Pins the COMPOSED IVF-PQ probe (s19): recall is charged BOTH loss
    * sources (cell restriction + quantization), so it must sit at or
    * under s18's full-scan ADC recall while the candidate counts prove
    * the cell restriction actually engaged (scanning the full corpus
    * would reproduce s18 and certify nothing).
    */
  test("s19 IVF-PQ recall holds its bound and the cell cut engages") {
    val out = Similarity.s19IvfPq(spark, sf).cache()
    try {
      val corpus = graft.Tables.embeddings(spark, sf)
        .filter(col("vec_id") < Similarity.s3Cap).count()
      val perQ = out.groupBy("query_id")
        .agg(first("recall_at_5").as("r"), first("n_cand").as("nc"))
        .collect()
      val mean = perQ.map(_.getDouble(1)).sum / perQ.length
      assert(mean >= 0.2, s"mean IVF-PQ recall@5 degraded to $mean")
      // nprobe=2 of 8 cells: every query must scan a strict subset
      perQ.foreach { r =>
        val nc = r.getLong(2)
        assert(nc > 0 && nc < corpus,
          s"query ${r.get(0)}: candidate count $nc not a strict subset" +
            s" of $corpus — the cell restriction did not engage")
      }
    } finally out.unpersist()
  }

  /** Pins the composed probe at the LARGER corpus (r11 stretch #8):
    * the same [[Similarity.ivfPqProbeOf]] composition the s19 row
    * certifies at 300 vectors, re-run over the full sf0.1 embeddings
    * (2000 vectors — 6.7×) at the s15-scaled configuration (nlist=32 ≈
    * 0.7·√n, nprobe=8 → the same 25% cell fraction as s19's 2-of-8).
    * The build is fully deterministic, so the measured mean recall@5 is
    * exact: 0.16 (40× the 5/1999 chance floor; quantization, not the
    * cell cut, is the dominant loss here — nprobe 4→8 doubles the
    * candidates and leaves the mean unchanged at 0.16). The pin keeps
    * slack only for driver testdata regeneration; the candidate counts
    * must prove the cell restriction engaged at ~nprobe/nlist of the
    * corpus.
    */
  test("ivf-pq recall floor holds at the 6.7x corpus (sf0.1, scaled nlist)") {
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists,
      "sf0.1 testdata absent")
    val e = Similarity.withNorm(spark, big)
    val corpus = e.count()
    val perQ = Similarity.ivfPqProbeOf(e, nlist = 32, nprobe = 8)
      .groupBy("query_id")
      .agg(first("recall_at_5").as("r"), first("n_cand").as("nc"))
      .collect()
    assert(perQ.length == 5, s"expected 5 queries, got ${perQ.length}")
    val mean = perQ.map(_.getDouble(1)).sum / perQ.length
    assert(mean >= 0.1, s"mean IVF-PQ recall@5 at $corpus vectors " +
      s"degraded to $mean (measured 0.16 at capture)")
    perQ.foreach { r =>
      val nc = r.getLong(2)
      // 8 of 32 cells ≈ 25% of the corpus; balanced cells keep every
      // probe within [10%, 50%] — full-corpus scans certify nothing
      assert(nc > corpus / 10 && nc < corpus / 2,
        s"query ${r.get(0)}: scanned $nc of $corpus — cell restriction " +
          "not engaged at the expected fraction")
    }
  }

  /** The loss DECOMPOSITION at the larger corpus: exact re-rank of a
    * 50-deep ADC shortlist (s20's remedy applied to the scaled probe)
    * lifts mean recall@5 from 0.16 to 0.44 (measured, deterministic
    * build) — proving quantization, not the cell restriction, is the
    * dominant loss at 2000 vectors, and that the two-stage shape
    * recovers it without touching the scan cost (re-rank reads 50
    * float rows per query, not the corpus).
    */
  test("exact re-rank of the scaled shortlist recovers the quantization loss (sf0.1)") {
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists,
      "sf0.1 testdata absent")
    val e = Similarity.withNorm(spark, big)
    val short = Similarity.ivfPqProbeOf(e, nlist = 32, nprobe = 8, shortK = 50)
      .select(col("query_id"), col("neighbor_id"))
    val q = e.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("nrm").as("qn"))
    val n = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("nrm").as("nn"))
    val rer = short.join(n, "neighbor_id").join(broadcast(q), "query_id")
      .withColumn("cos", expr("graft_dot(qe, ne)") / (col("qn") * col("nn")))
      .groupBy("query_id")
      .agg(expr("graft_topk(cos, neighbor_id, 5)").as("top"))
      .select(col("query_id"),
        explode(expr("transform(top, x -> x.id)")).as("neighbor_id"))
    val exact = e.join(broadcast(
        e.filter(col("vec_id") >= 32 && col("vec_id") < 37)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("nrm").as("qn"))),
        col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        expr("graft_dot(qe, embedding)") / (col("qn") * col("nrm")))
      .groupBy("query_id")
      .agg(expr("graft_topk(cos, vec_id, 5)").as("top"))
      .select(col("query_id"),
        explode(expr("transform(top, x -> x.id)")).as("neighbor_id"),
        lit(1).as("hit"))
    val rec = rer.join(exact, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg((sum(coalesce(col("hit"), lit(0))) / lit(5.0)).as("r"))
      .collect().map(_.getDouble(1))
    val mean = rec.sum / rec.length
    assert(mean >= 0.3,
      s"re-ranked scaled recall degraded to $mean (measured 0.44 at capture)")
    assert(mean > 0.16,
      s"re-rank did not improve on the pure-ADC mean (got $mean)")
  }

  /** Pins the s21 claim (r12 verdict "next round" #3): swapping the
    * coarse quantizer's first-n seed for maximin seeding + four Lloyd
    * rounds lifts the SAME two-stage composition (nlist=32, nprobe=8,
    * 50-deep shortlist, exact re-rank) at the SAME probe budget —
    * measured 0.44 → 0.52 mean recall@5 over the sf0.1 corpus, fully
    * deterministic on both sides (maximin has no RNG). The pin is the
    * strict inequality plus a floor with slack for testdata
    * regeneration; the probe budget equality is asserted on candidate
    * counts so the gain cannot come from scanning more.
    */
  test("s21 maximin+Lloyd centroids beat first-n seeding at the same probe budget (sf0.1)") {
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists,
      "sf0.1 testdata absent")
    val e = Similarity.withNorm(spark, big)

    def rerankRecallAndCands(
        cent: Option[org.apache.spark.sql.DataFrame]): (Double, Long) = {
      val probe = Similarity.ivfPqProbeOf(e, nlist = 32, nprobe = 8,
        shortK = 50, centroids = cent).cache()
      try {
        val cands = probe.groupBy("query_id").agg(first("n_cand").as("nc"))
          .agg(sum("nc")).head.getLong(0)
        val short = probe.select(col("query_id"), col("neighbor_id"))
        val n = e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ne"), col("nrm").as("nn"))
        val rer = short.join(n, "neighbor_id")
          .join(broadcast(e.filter(col("vec_id") >= 32 && col("vec_id") < 37)
            .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
              col("nrm").as("qn"))), "query_id")
          .withColumn("cos", expr("graft_dot(qe, ne)") / (col("qn") * col("nn")))
          .groupBy("query_id")
          .agg(expr("graft_topk(cos, neighbor_id, 5)").as("top"))
          .select(col("query_id"),
            explode(expr("transform(top, x -> x.id)")).as("neighbor_id"))
        val exact = e.join(broadcast(
            e.filter(col("vec_id") >= 32 && col("vec_id") < 37)
              .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
                col("nrm").as("qn"))),
            col("vec_id") =!= col("query_id"))
          .withColumn("cos",
            expr("graft_dot(qe, embedding)") / (col("qn") * col("nrm")))
          .groupBy("query_id")
          .agg(expr("graft_topk(cos, vec_id, 5)").as("top"))
          .select(col("query_id"),
            explode(expr("transform(top, x -> x.id)")).as("neighbor_id"),
            lit(1).as("hit"))
        val rec = rer.join(exact, Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg((sum(coalesce(col("hit"), lit(0))) / lit(5.0)).as("r"))
          .collect().map(_.getDouble(1))
        (rec.sum / rec.length, cands)
      } finally probe.unpersist()
    }

    val (baseMean, baseCands) = rerankRecallAndCands(None)
    val cent = Similarity.lloydCentroids(e,
      Similarity.maximinSeedIds(e, 32), rounds = 4)
    val (maxiMean, maxiCands) = rerankRecallAndCands(Some(cent))

    assert(maxiMean > baseMean,
      s"maximin centroids did not improve recall: $baseMean -> $maxiMean " +
        "(measured 0.44 -> 0.52 at capture)")
    assert(maxiMean >= 0.45, s"maximin recall floor broken: $maxiMean")
    // same probe budget: total candidates within 2x of each other
    assert(maxiCands <= baseCands * 2 && baseCands <= maxiCands * 2,
      s"probe budgets diverged: first-n=$baseCands maximin=$maxiCands")
  }

  /** The r13 verdict ask: push recall@5 past 0.52 at the same probe
    * budget, and pin the recall-vs-candidates PARETO CURVE rather than
    * one point. The measured lever is build-time only — two more Lloyd
    * rounds on the maximin seed (4 → 6; probe cost untouched):
    *
    *   nprobe    4      8      16      (candidates ~1.25k/2.5k/5k)
    *   first-n   0.320  0.440  0.520
    *   maximin4  0.400  0.520  0.600   (the s21 capture)
    *   maximin6  0.400  0.560  0.600
    *
    * Pinned: the 6-round build strictly beats 0.52 at the s21 budget
    * (nprobe=8, candidates within 2×), its curve is non-decreasing in
    * nprobe, and it dominates first-n seeding at EVERY probed point —
    * the whole curve moved, not one lucky cell.
    */
  test("six-round maximin centroids push recall past 0.52 across the curve (sf0.1)") {
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists,
      "sf0.1 testdata absent")
    val e = Similarity.withNorm(spark, big)

    def recallAndCands(cent: Option[org.apache.spark.sql.DataFrame],
        nprobe: Int): (Double, Long) = {
      val probe = Similarity.ivfPqProbeOf(e, nlist = 32, nprobe = nprobe,
        shortK = 50, centroids = cent).cache()
      try {
        val cands = probe.groupBy("query_id").agg(first("n_cand").as("nc"))
          .agg(sum("nc")).head.getLong(0)
        val q = e.filter(col("vec_id") >= 32 && col("vec_id") < 37)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("nrm").as("qn"))
        val n = e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ne"), col("nrm").as("nn"))
        val rer = probe.select(col("query_id"), col("neighbor_id"))
          .join(n, "neighbor_id").join(broadcast(q), "query_id")
          .withColumn("cos",
            expr("graft_dot(qe, ne)") / (col("qn") * col("nn")))
          .groupBy("query_id")
          .agg(expr("graft_topk(cos, neighbor_id, 5)").as("top"))
          .select(col("query_id"),
            explode(expr("transform(top, x -> x.id)")).as("neighbor_id"))
        val exact = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("cos",
            expr("graft_dot(qe, embedding)") / (col("qn") * col("nrm")))
          .groupBy("query_id")
          .agg(expr("graft_topk(cos, vec_id, 5)").as("top"))
          .select(col("query_id"),
            explode(expr("transform(top, x -> x.id)")).as("neighbor_id"),
            lit(1).as("hit"))
        val rec = rer.join(exact, Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg((sum(coalesce(col("hit"), lit(0))) / lit(5.0)).as("r"))
          .collect().map(_.getDouble(1))
        (rec.sum / rec.length, cands)
      } finally probe.unpersist()
    }

    val cent6 = Similarity.lloydCentroids(e,
      Similarity.maximinSeedIds(e, 32), rounds = 6)
    val curve6 = Seq(4, 8, 16).map(np => np -> recallAndCands(Some(cent6), np))
    val curve0 = Seq(4, 8, 16).map(np => np -> recallAndCands(None, np)).toMap

    // headline: strictly past 0.52 at the s21 budget
    val (r8, c8) = curve6.find(_._1 == 8).get._2
    val (_, s21c8) = recallAndCands(
      Some(Similarity.lloydCentroids(e,
        Similarity.maximinSeedIds(e, 32), rounds = 4)), 8)
    assert(r8 > 0.52, f"six-round recall@5 at nprobe=8 fell to $r8%.3f " +
      "(measured 0.560 at capture; s21's four-round build measured 0.520)")
    assert(c8 <= s21c8 * 2 && s21c8 <= c8 * 2,
      s"probe budgets diverged: rounds6=$c8 rounds4=$s21c8")

    // curve shape: non-decreasing in nprobe, dominates first-n per point
    val recs = curve6.map(_._2._1)
    assert(recs == recs.sorted,
      s"recall must be non-decreasing in nprobe: $curve6")
    curve6.foreach { case (np, (r, c)) =>
      val (r0, c0) = curve0(np)
      assert(r >= r0,
        f"six-round build fell below first-n at nprobe=$np: $r%.3f < $r0%.3f")
      assert(c <= c0 * 2 && c0 <= c * 2,
        s"candidate budgets diverged at nprobe=$np: $c vs $c0")
    }
    info(curve6.map { case (np, (r, c)) =>
      f"nprobe=$np recall=$r%.3f cands=$c" }.mkString("; "))
  }

  /** Pins the two-stage contract (s20): exact re-rank of the ADC
    * shortlist must recover recall the compressed ranking loses — mean
    * recall@5 at least the pure-ADC row's (it is strictly higher on
    * this corpus), and at least one survivor must come from BELOW the
    * ADC top-5 (otherwise the re-rank stage certifies nothing the ADC
    * cut didn't already give).
    */
  /** The k-means‖ point on the same harness (the other half of the
    * r13 verdict's seeding lever, next to s21's maximin): oversampled
    * candidate selection + weighted farthest-first reduction + six
    * Lloyd rounds, probed at the s21 budget (nlist=32, nprobe=8,
    * 50-deep shortlist, exact re-rank). k-means‖ is the seeding that
    * SCALES (O(rounds) corpus scans regardless of k vs maximin's k
    * sequential scans), so the pin certifies the scalable path does
    * not give up the recall the sequential one bought.
    */
  test("s24 k-means|| centroids hold the maximin-class recall at the same budget (sf0.1)") {
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists,
      "sf0.1 testdata absent")
    val e = Similarity.withNorm(spark, big)

    def recallAndCands(cent: Option[org.apache.spark.sql.DataFrame])
        : (Double, Long) = {
      val probe = Similarity.ivfPqProbeOf(e, nlist = 32, nprobe = 8,
        shortK = 50, centroids = cent).cache()
      try {
        val cands = probe.groupBy("query_id").agg(first("n_cand").as("nc"))
          .agg(sum("nc")).head.getLong(0)
        val q = e.filter(col("vec_id") >= 32 && col("vec_id") < 37)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("nrm").as("qn"))
        val n = e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ne"), col("nrm").as("nn"))
        val rer = probe.select(col("query_id"), col("neighbor_id"))
          .join(n, "neighbor_id").join(broadcast(q), "query_id")
          .withColumn("cos",
            expr("graft_dot(qe, ne)") / (col("qn") * col("nn")))
          .groupBy("query_id")
          .agg(expr("graft_topk(cos, neighbor_id, 5)").as("top"))
          .select(col("query_id"),
            explode(expr("transform(top, x -> x.id)")).as("neighbor_id"))
        val exact = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("cos",
            expr("graft_dot(qe, embedding)") / (col("qn") * col("nrm")))
          .groupBy("query_id")
          .agg(expr("graft_topk(cos, vec_id, 5)").as("top"))
          .select(col("query_id"),
            explode(expr("transform(top, x -> x.id)")).as("neighbor_id"),
            lit(1).as("hit"))
        val rec = rer.join(exact, Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg((sum(coalesce(col("hit"), lit(0))) / lit(5.0)).as("r"))
          .collect().map(_.getDouble(1))
        (rec.sum / rec.length, cands)
      } finally probe.unpersist()
    }

    val (baseMean, baseCands) = recallAndCands(None)
    val cent = Similarity.lloydCentroids(e,
      Similarity.kmparChosenIds(e, 32, l = 64, rounds = 3), rounds = 6)
    val (kmMean, kmCands) = recallAndCands(Some(cent))
    info(f"first-n=$baseMean%.3f kmpar=$kmMean%.3f cands=$baseCands/$kmCands")
    assert(kmMean > baseMean,
      f"k-means|| centroids did not improve on first-n: " +
        f"$baseMean%.3f -> $kmMean%.3f")
    assert(kmMean >= 0.55,
      f"k-means|| recall floor broken: $kmMean%.3f (measured 0.640 at " +
        "capture - ABOVE the six-round maximin capture of 0.560, at the " +
        "same candidate budget)")
    assert(kmCands <= baseCands * 2 && baseCands <= kmCands * 2,
      s"probe budgets diverged: first-n=$baseCands kmpar=$kmCands")
  }

  /** The r15 verdict carry (#3): residual PQ — encode `x − centroid`
    * instead of x, the FAISS IVF-PQ discipline — must lift the SAME
    * composition harness (k-means‖ centroids, nlist=32, nprobe=8,
    * 50-deep shortlist, exact re-rank) at the SAME candidate budget.
    * Measured (deterministic build): raw-PQ 0.640 → residual 0.840 at
    * an IDENTICAL candidate count (2537 = 2537) — the largest single
    * recall lever in the whole s-family, at zero probe cost. Pinned:
    * strict improvement, a floor with regeneration slack, and budget
    * equality within 2×.
    */
  test("s25 residual PQ beats raw PQ on the s24 harness at the same budget (sf0.1)") {
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists,
      "sf0.1 testdata absent")
    val e = Similarity.withNorm(spark, big)

    def recallAndCands(residual: Boolean,
        cent: org.apache.spark.sql.DataFrame): (Double, Long) = {
      val probe = Similarity.ivfPqProbeOf(e, nlist = 32, nprobe = 8,
        shortK = 50, centroids = Some(cent), residual = residual).cache()
      try {
        val cands = probe.groupBy("query_id").agg(first("n_cand").as("nc"))
          .agg(sum("nc")).head.getLong(0)
        val q = e.filter(col("vec_id") >= 32 && col("vec_id") < 37)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("nrm").as("qn"))
        val n = e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ne"), col("nrm").as("nn"))
        val rer = probe.select(col("query_id"), col("neighbor_id"))
          .join(n, "neighbor_id").join(broadcast(q), "query_id")
          .withColumn("cos",
            expr("graft_dot(qe, ne)") / (col("qn") * col("nn")))
          .groupBy("query_id")
          .agg(expr("graft_topk(cos, neighbor_id, 5)").as("top"))
          .select(col("query_id"),
            explode(expr("transform(top, x -> x.id)")).as("neighbor_id"))
        val exact = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("cos",
            expr("graft_dot(qe, embedding)") / (col("qn") * col("nrm")))
          .groupBy("query_id")
          .agg(expr("graft_topk(cos, vec_id, 5)").as("top"))
          .select(col("query_id"),
            explode(expr("transform(top, x -> x.id)")).as("neighbor_id"),
            lit(1).as("hit"))
        val rec = rer.join(exact, Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg((sum(coalesce(col("hit"), lit(0))) / lit(5.0)).as("r"))
          .collect().map(_.getDouble(1))
        (rec.sum / rec.length, cands)
      } finally probe.unpersist()
    }

    val cent = Similarity.lloydCentroids(e,
      Similarity.kmparChosenIds(e, 32, l = 64, rounds = 3), rounds = 6)
    val (rawMean, rawCands) = recallAndCands(residual = false, cent)
    val (resMean, resCands) = recallAndCands(residual = true, cent)
    info(f"raw=$rawMean%.3f residual=$resMean%.3f cands=$rawCands/$resCands")
    assert(resMean > rawMean,
      f"residual encoding did not improve on raw PQ: " +
        f"$rawMean%.3f -> $resMean%.3f")
    assert(resMean >= 0.75,
      f"residual-PQ recall floor broken: $resMean%.3f (measured 0.840)")
    assert(resCands <= rawCands * 2 && rawCands <= resCands * 2,
      s"probe budgets diverged: raw=$rawCands residual=$resCands")
  }

  test("s20 exact re-rank recovers recall over the pure ADC ranking") {
    def meanRecall(df: org.apache.spark.sql.DataFrame): Double = {
      val per = df.groupBy("query_id").agg(first("recall_at_5").as("r"))
        .collect().map(_.getDouble(1))
      per.sum / per.length
    }
    val rer = Similarity.s20Rerank(spark, sf).cache()
    try {
      val adc = meanRecall(Similarity.s18PqAdc(spark, sf))
      val two = meanRecall(rer)
      assert(two >= adc,
        s"re-rank recall $two fell below pure-ADC recall $adc")
      val deep = rer.filter(col("adc_rank") > 5).count()
      assert(deep > 0,
        "no survivor came from below the ADC top-5 — shortlist vacuous")
    } finally rer.unpersist()
  }
}
