package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType

/** `GraftSession.local` sizes Spark's generated-class cache above its
  * 100-entry default: a query working set larger than that recompiles
  * every class on every pass. */
class CodegenCacheSpec extends SparkSpecBase {

  test("a compiled projection stays cached while 150 others compile") {
    spark // the session sizes the cache before the first compile
    def compile(i: Int): Unit = GenerateUnsafeProjection.generate(
      Seq(Add(BoundReference(0, LongType, nullable = false), Literal(i.toLong))))
    compile(0)
    (1 to 150).foreach(compile)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compile(0)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the first projection was evicted and compiled again")
  }
}
