package graft.queries

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Pins s26's OPQ-style dimension allocation: the snake permutation's
  * structural properties (bijection, strictly tighter per-subspace
  * energy balance than contiguous slicing), the recall lift on the
  * anisotropic corpus at an IDENTICAL candidate budget (registered
  * config and the sf0.1 s24-harness composition), and the honesty
  * claim — on the isotropic real embeddings the permutation changes
  * nothing it could be pinned on, which is WHY the registered row
  * injects anisotropy.
  */
class OpqSpec extends SparkSpecBase {

  test("the snake permutation is a bijection that balances subspace energy") {
    val anis = Similarity.s26AnisOf(spark, sf)
    val perm = Similarity.opqSnakePerm(anis)
    val nDims = Similarity.pqM * Similarity.pqSubDim
    assert(perm.length == nDims && perm.sorted == (1 to nDims),
      "permutation is not a bijection over the dims")
    // integer per-dim energies, then per-subspace totals under both
    // layouts: the permuted spread (max - min) must be strictly
    // tighter than the contiguous slicing's
    val en = anis
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("u",
        expr("CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"))
      .groupBy((col("pos") + 1).as("dim"))
      .agg(sum(col("u") * col("u")).as("en"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def spread(dimsOfSub: Int => Seq[Int]): Long = {
      val totals = (0 until Similarity.pqM).map(
        s => dimsOfSub(s).map(en).sum)
      totals.max - totals.min
    }
    val contiguous = spread(s =>
      (1 to Similarity.pqSubDim).map(k => s * Similarity.pqSubDim + k))
    val snaked = spread(s =>
      perm.slice(s * Similarity.pqSubDim, (s + 1) * Similarity.pqSubDim))
    info(s"subspace energy spread: contiguous=$contiguous snaked=$snaked")
    assert(snaked < contiguous,
      s"snake dealing did not tighten the energy balance " +
        s"($contiguous -> $snaked)")
  }

  test("registered config: OPQ lifts recall at an identical candidate budget") {
    val out = Similarity.s26OpqPermute(spark, sf).cache()
    try {
      def statsOf(variant: String): (Double, Long) = {
        val perQ = out.filter(col("variant") === variant)
          .groupBy("query_id")
          .agg(first("recall_at_5").as("r"), first("n_cand").as("nc"))
          .collect()
        (perQ.map(_.getDouble(1)).sum / perQ.length,
          perQ.map(_.getLong(2)).sum)
      }
      val (rawMean, rawCands) = statsOf("raw")
      val (opqMean, opqCands) = statsOf("opq")
      info(f"raw=$rawMean%.3f opq=$opqMean%.3f cands=$rawCands/$opqCands")
      assert(opqCands == rawCands,
        "a permutation preserves distances - the cell assignment and " +
          s"probe budget must be identical ($rawCands vs $opqCands)")
      assert(opqMean > rawMean,
        f"OPQ allocation did not lift recall on the anisotropic corpus: " +
          f"$rawMean%.3f -> $opqMean%.3f (measured 0.28 -> 0.44 at " +
          "sf0.001, 0.20 -> 0.36 at sf0.01)")
      assert(opqMean >= 0.35,
        f"OPQ recall floor broken: $opqMean%.3f (measured 0.44)")
    } finally out.unpersist()
  }

  /** The s24-harness composition point (the s25 pin's shape): k-means‖
    * centroids, nlist=32, nprobe=8, residual encoding, over the sf0.1
    * corpus made anisotropic — raw slicing vs snake-permuted at the
    * same budget. Both variants share the residual discipline; only
    * the subspace composition differs.
    */
  test("sf0.1 s24 harness: the allocation step lifts residual PQ at the same budget") {
    val big = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$big/embeddings.parquet").exists,
      "sf0.1 testdata absent")
    val anis = Similarity.s26AnisOf(spark, big).localCheckpoint()
    val perm = Similarity.opqSnakePerm(anis)

    def meanRecallAndCands(e: org.apache.spark.sql.DataFrame): (Double, Long) = {
      val cent = Similarity.lloydCentroids(e,
        Similarity.kmparChosenIds(e, 32, l = 64, rounds = 3), rounds = 6)
      val probe = Similarity.ivfPqProbeOf(e, nlist = 32, nprobe = 8,
        centroids = Some(cent), residual = true).cache()
      try {
        val perQ = probe.groupBy("query_id")
          .agg(first("recall_at_5").as("r"), first("n_cand").as("nc"))
          .collect()
        (perQ.map(_.getDouble(1)).sum / perQ.length,
          perQ.map(_.getLong(2)).sum)
      } finally probe.unpersist()
    }

    val (rawMean, rawCands) = meanRecallAndCands(anis)
    val (opqMean, opqCands) = meanRecallAndCands(
      Similarity.permuteEmb(anis, perm).localCheckpoint())
    info(f"sf0.1 anis: raw=$rawMean%.3f opq=$opqMean%.3f " +
      f"cands=$rawCands/$opqCands")
    // k-means over the permuted coordinates visits the same geometry;
    // budgets may differ only by assignment tie-breaks
    assert(opqCands <= rawCands * 2 && rawCands <= opqCands * 2,
      s"probe budgets diverged: raw=$rawCands opq=$opqCands")
    assert(opqMean > rawMean,
      f"allocation did not lift the composed probe: " +
        f"$rawMean%.3f -> $opqMean%.3f (measured 0.440 -> 0.840: the " +
        "allocation step recovers ON ANISOTROPIC DATA the same 0.840 " +
        "the isotropic corpus gives s25)")
    assert(opqMean >= 0.75,
      f"OPQ composed recall floor broken: $opqMean%.3f (measured 0.840)")
  }
}
