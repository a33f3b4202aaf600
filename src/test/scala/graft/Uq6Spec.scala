package graft

import org.apache.spark.sql.functions._

/** Pins the micro-unit quantization contract ([[Tables.uq6]]): floats
  * whose shortest decimal rendering has 7 decimals ending in 5 sit an
  * ulp BELOW the half when widened to double (e.g. -0.1975755f widens
  * to -0.19757549464…), so correct round-to-nearest keeps them at the
  * lower 6-decimal value. `CAST(float AS DECIMAL(18,6))` disagrees
  * between engines on exactly these values (DuckDB rounds the decimal
  * string, half away from zero) — the one-digit s18 hash flip this
  * spec memorializes. uq6 must follow the BINARY value, matching the
  * r6/LUT arithmetic both engines replay identically. The ADC tables
  * apply uq6 inside a `zip_with` lambda ([[queries.Similarity.uqDot]])
  * where they once spliced the same arithmetic into `expr` as text;
  * the first test pins that both forms agree on every case.
  */
class Uq6Spec extends SparkSpecBase {

  test("uq6 rounds the widened binary value, not the float's decimal string") {
    // the three corpus floats that flipped s18's hash at sf0.001:
    // all print as 7 decimals ending in 5, all widen to just below half;
    // then both zeros, and 1/128, whose widened double times 10⁶ is
    // exactly 7812.5 — a half micro-unit, which rounds up
    val cases = Seq(
      -0.1975755f -> -197575L,
      -0.1656795f -> -165679L,
      -0.2348055f -> -234805L,
      0.0f -> 0L,
      -0.0f -> 0L,
      0.0078125f -> 7813L)
    assert(0.0078125f.toDouble * 1000000.0 == 7812.5)
    // the text the DataFrame-side ADC tables once spliced into `expr`
    def uq(x: String) =
      s"CAST(floor(CAST($x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
    cases.foreach { case (f, expected) =>
      // [f] · [1.0] in the ADC tables' shape: a zip_with lambda folded
      // as a BIGINT sum, so both forms read uq(f) · 10⁶
      val r = spark.range(1)
        .select(array(lit(f)).as("a"), array(lit(1.0f)).as("b"))
        .select(Tables.uq6(lit(f)),
          aggregate(zip_with(col("a"), col("b"),
            (x, y) => Tables.uq6(x) * Tables.uq6(y)), lit(0L), (acc, v) => acc + v),
          expr(s"aggregate(zip_with(a, b, (x, y) -> ${uq("x")} * ${uq("y")})," +
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .head()
      val got = r.getLong(0)
      assert(got == expected,
        s"uq6($f) = $got, want $expected (binary ${f.toDouble})")
      assert(r.getLong(1) == expected * 1000000L && r.getLong(2) == r.getLong(1),
        s"$f: uq6 lambda ${r.getLong(1)} vs string ${r.getLong(2)}")
    }
  }

  test("uq6Mean mirrors its SQL rendering's association exactly") {
    // 18 members summing to -2402360 micro-units (the s18 cluster
    // shape): one BIGINT sum, /count, /1e6 — same two double ops the
    // oracle performs
    val m = spark.range(1)
      .select(Tables.uq6Mean(lit(-2402360L), lit(18L))).head().getDouble(0)
    assert(m == -2402360L.toDouble / 18L / 1000000.0)
  }
}
