package graft.clean

import graft.SparkSpecBase
import graft.tools.DumpPlans.executionsOf
import org.apache.spark.sql.functions._

class CleanSpec extends SparkSpecBase {
  import spark.implicits._

  test("dropRepeatedHeaderRows drops sentinel rows only for present columns") {
    val df = Seq(("Player", "1"), ("LeBron James", "2"), ("Rk", "3"))
      .toDF("Player", "x")
    val out = Clean.dropRepeatedHeaderRows(df).collect().map(_.getString(0))
    assert(out.toSet == Set("LeBron James", "Rk")) // "Rk" col absent → no Rk filter
  }

  test("guarded coercion keeps cast when >= half castable, rolls back otherwise") {
    val df = Seq(
      ("1.5", "abc"), ("2.0", "def"), ("x", "3.0"), ("4.5", "ghi"),
    ).toDF("mostly_num", "mostly_str")
    val out = Clean.guardedNumericCoercion(df, Seq("mostly_num", "mostly_str"))
    val schema = out.schema.map(f => f.name -> f.dataType.typeName).toMap
    assert(schema("mostly_num") == "double") // 3/4 castable >= 2
    assert(schema("mostly_str") == "string") // 1/4 castable < 2
    // exact boundary: 2/4 castable == half → keep cast (>= semantics)
    val b = Seq("1", "2", "x", "y").toDF("c")
    assert(Clean.guardedNumericCoercion(b, Seq("c")).schema.head.dataType.typeName == "double")
  }

  test("coercion ignores nulls in the original count") {
    val df = Seq(Some("1"), None, None, Some("x")).toDF("c")
    // nonNull=2, castable=1 → 1 >= 2/2.0 → coerce
    val stats = Clean.coercionStats(df, Seq("c"))
    assert(stats.head.nonNull == 2 && stats.head.castable == 1 && stats.head.coerce)
  }

  test("an empty candidate list runs no job: no stats, input unchanged") {
    val df = Seq(("a", "1")).toDF("Player", "x")
    val (out, ran) = executionsOf(spark) {
      assert(Clean.coercionStats(df, Seq.empty).isEmpty)
      Clean.guardedNumericCoercion(df, Seq.empty)
    }
    assert(ran.isEmpty, s"${ran.size} job(s) ran for no candidate columns")
    assert(out eq df)
  }

  test("guarded coercion evaluates each input row once") {
    val evals = spark.sparkContext.longAccumulator("clean-upstream-evals")
    val tick = udf { (i: Long) => evals.add(1); if (i % 4 == 2) "x" else s"$i.5" }
    val n = 40
    val df = spark.range(n).select(tick(col("id")).as("c"))
    val out = Clean.guardedNumericCoercion(df, Seq("c")).collect()
    assert(out.length == n)
    assert(out.count(_.isNullAt(0)) == n / 4) // cast kept: 3/4 castable
    assert(evals.value == n, s"upstream evaluated ${evals.value} times for $n rows")
  }

  test("the observed stats equal coercionStats, all-null and empty inputs too") {
    val fixtures = Seq(
      Seq(("1.5", "abc"), ("2.0", "def"), ("x", "3.0"), ("4.5", "ghi"))
        .toDF("mostly_num", "mostly_str"),
      Seq("1", "2", "x", "y").toDF("mostly_num"),
      Seq(Some("1"), None, None, Some("x")).toDF("mostly_num"),
      Seq[Option[String]](None, None).toDF("mostly_num"),
      Seq.empty[String].toDF("mostly_num"))
    for (df <- fixtures) {
      val cols = df.columns.toSeq
      val (_, observed) = Clean.checkpointWithStats(df, cols)
      assert(observed == Clean.coercionStats(df, cols))
    }
    for (df <- fixtures.takeRight(2)) {
      val (_, Seq(stat)) = Clean.checkpointWithStats(df, Seq("mostly_num"))
      assert(stat.nonNull == 0 && stat.coerce)
      assert(Clean.guardedNumericCoercion(df, Seq("mostly_num"))
        .schema.head.dataType.typeName == "double")
    }
  }

  test("reformatDateUs + repairCountry + normWs scalar semantics") {
    val df = Seq(("1990-03-15", "us US", "  a   b  ")).toDF("d", "cty", "s")
    val r = df.select(
      Clean.reformatDateUs($"d").as("d"),
      Clean.repairCountry($"cty").as("cty"),
      Clean.normWs($"s").as("s")).head()
    assert(r.getString(0) == "03/15/1990")
    assert(r.getString(1) == "US")
    assert(r.getString(2) == "a b")
    // garbage date → null, not error
    val g = Seq("not-a-date").toDF("d").select(Clean.reformatDateUs($"d")).head()
    assert(g.isNullAt(0))
  }

  test("keywordLengthFilter and excludePattern") {
    val df = Seq("short", "x" * 600,
      "a decent length text mentioning points totals " + "x" * 20,
      "a decent length text with nothing relevant here " + "y" * 20).toDF("t")
    val kept = Clean.keywordLengthFilter(df, "t", 30, 500, "(?i)points|rebounds")
      .count()
    assert(kept == 1)
    assert(Clean.excludePattern(df, "t", "(?i)short").count() == 3)
  }
}
