package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{SparkEntry, SparkSpec}

/** Spark's generated-code cache is one LRU per JVM, sized by
  * [[GraftSession.CodegenCacheEntries]]. At Spark's default of 100 it is
  * smaller than the benchmark query mix's working set, so a warm round
  * evicts every class before its next use and recompiles all of them. */
class CodegenCacheSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  /** The `queries` benchmark mix (`perfbench/run.py`'s QUERY_MIX). */
  private val Mix = Seq("q01_scan_filter", "q02_epoch_norm", "q03_window_agg",
    "q05_sentinel", "q08_topn", "q10_join_star", "q14_analytic_window",
    "q101_bigram_lm", "q132_cluster_split", "q138_lsh_recall")

  /** Classes compiled while the mix runs once. */
  private def compiledBy(pass: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def runMix(queries: Seq[String] = Mix): Unit = queries.foreach { q =>
    SparkEntry.queries(q)(spark, Dir).collect()
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  /** Empties the JVM-wide cache, so that the first pass compiles the
    * mix's whole working set whichever suites ran before. The cache is
    * private to Spark's `CodeGenerator` (and its type to Spark), so it
    * is reached by reflection; the pinned Spark jars keep both names. */
  private def emptyCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("q138 compiles no generated class in a warm pass of the mix") {
    // Every class of a repeated query must come from the cache: a
    // per-run value in generated code (such as the adaptive stage id in
    // a class name) would recompile on every call.
    runMix()
    val second = Mix.map { q =>
      q -> compiledBy(runMix(Seq(q)))
    }.toMap
    info(s"classes compiled per query in the warm pass: $second")
    assert(second("q138_lsh_recall") == 0, s"a warm q138 compiled ${second("q138_lsh_recall")} classes")
  }

  test("a second pass of the query mix compiles at most a tenth of the first's classes") {
    emptyCodegenCache()
    val first = compiledBy(runMix())
    val second = compiledBy(runMix())
    info(s"compiled $first classes in the first pass, $second in the second")
    assert(second * 10 <= first,
      s"second pass compiled $second classes, first pass $first")
  }
}
