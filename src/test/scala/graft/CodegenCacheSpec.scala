package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference,
  Literal, UnsafeProjection}
import org.apache.spark.sql.types.LongType

/** The engine session sizes CodeGenerator's JVM-wide class cache to the
  * engine's working set (GraftContext.sessionBuilder), so a class it has
  * built is reused, not recompiled. Pins the behaviour, not just the
  * conf: at Spark's default of 100 entries (4 Guava segments of 25) a
  * working set of 150 classes evicts itself on every pass.
  */
class CodegenCacheSpec extends SparkSuite {

  test("a second pass over 150 generated classes compiles nothing") {
    // the cache takes its size, once per JVM, from the session active at
    // the first codegen: build the engine session before any projection
    assert(spark.sparkContext.getConf
      .get("spark.sql.codegen.cache.maxEntries") == "4096")
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // numeric literals are inlined into the generated source, so every
    // projection is its own cache entry
    def pass(): Unit = (0 until 150).foreach { i =>
      UnsafeProjection.create(Seq(
        Add(BoundReference(0, LongType, nullable = false), Literal(i.toLong))))
    }
    val c0 = compiles
    pass()
    val c1 = compiles
    assert(c1 > c0, "the first pass compiled nothing: the count is not live")
    pass()
    assert(compiles - c1 == 0, s"second pass recompiled ${compiles - c1} classes")
  }
}
