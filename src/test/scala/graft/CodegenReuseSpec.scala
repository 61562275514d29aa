package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Compiled generated classes are reused across jobs in one long-lived
  * session. Spark keeps them in one JVM-wide LRU cache, 100 entries unless
  * `GraftSession` sizes it; once more than 100 other classes have been
  * compiled since a job last ran, re-running that job at the default size
  * recompiles its classes. `CodegenMetrics.METRIC_COMPILATION_TIME` counts
  * one sample per compile, i.e. per cache miss.
  */
class CodegenReuseSpec extends SparkSpec {
  // the benchmark's warehouse jobs: together they compile more than 100
  // classes, so at the default size the first job's classes are evicted
  private val jobs = Seq("q_join_inner", "q_sort_total", "q_field_selection",
    "q_wordcount", "q_bucketed_join", "q_cube", "q_pagerank")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

  /** Empty the cache (it is private to `CodeGenerator`), so that every
    * compile below is a class this spec has not yet compiled, whatever
    * earlier suites in this JVM ran.
    */
  private def invalidateCodegenCache(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("re-running a job after 100+ other compiled classes compiles nothing") {
    spark // the session, and with it the cache size, exists before any codegen
    invalidateCodegenCache()
    run(jobs.head)
    val afterFirst = compiles
    jobs.tail.foreach(run)
    assert(compiles - afterFirst > 100,
      s"only ${compiles - afterFirst} classes compiled after ${jobs.head}")
    val before = compiles
    run(jobs.head)
    assert(compiles == before,
      s"${jobs.head} recompiled ${compiles - before} classes on its second run")
  }

  test("GlobalRank generates the same code on every run, whatever its offsets") {
    // the per-partition offsets follow sampled range bounds and differ
    // between runs; inlined as literals they would change the class
    run("q_sort_total")
    val before = compiles
    run("q_sort_total")
    assert(compiles == before,
      s"q_sort_total recompiled ${compiles - before} classes on its second run")
  }
}
