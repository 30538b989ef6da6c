package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.functions.col

import graft.functions.GraftExtensions

/** Warm queries reuse their generated classes: `GraftExtensions` sizes
  * Spark's JVM-wide generated-class cache above the engine's catalog, so
  * a query that ran before compiles nothing when it runs again. Spark's
  * default cache holds 100 classes, fewer than one round of the query
  * registry touches.
  */
class CodegenCacheSpec extends SparkSpec {

  test("a second round of 150 distinct queries compiles no class") {
    // each literal is inlined into its own whole-stage class, so round
    // one compiles 150 distinct classes: more than Spark's default cache
    val queries = (1 to 150).map(i => () => spark.range(1)
      .select((col("id") * i + i).as("v")).collect().head.getLong(0))
    val (first, cold) = compilesIn(queries.map(_()))
    assert(first == (1 to 150).map(_.toLong))
    assert(cold >= 150, s"round one compiled only $cold classes")
    val (second, warm) = compilesIn(queries.map(_()))
    assert(second == first)
    assert(warm == 0, s"round two recompiled $warm classes")
  }

  test("the cache size is installed only when the user sets none") {
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(GraftExtensions.codegenCacheOverride(new SparkConf(false)) ==
      Some(GraftExtensions.CodegenCacheEntries))
    Seq("50", "100", "4000").foreach { v =>
      assert(GraftExtensions.codegenCacheOverride(
        new SparkConf(false).set(key, v)).isEmpty, s"user value $v overridden")
    }
  }
}
