package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** `Engine.session` holds the generated-code working set: a second
  * round over 160 distinct generated classes, in the same cyclic order,
  * compiles nothing. With Spark's default cache (100 entries, LRU) every
  * class of the second round would be compiled again. The cache is
  * sized once per JVM, when the code generator first loads; every spec
  * session comes from `Engine.session`, so this holds in any suite
  * order. */
class CodegenCacheSpec extends SparkSpecBase {

  test("a warm round over 160 generated classes compiles none of them") {
    // each statement's whole-stage class differs only in its literals,
    // which codegen inlines: one distinct class per statement; every
    // round plans its statements afresh, as a client's repeat would
    def round(): Unit = (1 to 160).foreach(k =>
      spark.range(3).selectExpr(s"id * $k + ${k + 7} AS v").collect())
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    round()
    val c1 = compiles
    assert(c1 - c0 >= 150, s"first round should compile a class per statement: ${c1 - c0}")
    round()
    assert(compiles == c1, s"second round compiled ${compiles - c1} classes")
  }
}
