package graft.core

import org.apache.spark.sql.functions.lit

import graft.SparkSpec

/** Round-4 verdict #2: no query path may leak cached blocks into a
  * long-lived session. Every persist in a query builder goes through
  * [[Caching.register]]; after the caller materializes and calls
  * [[Caching.releaseAll]], the session cache manager must be EMPTY —
  * for every registry query, not just the ~15 that persisted at
  * the time of the audit. One sweep also proves the internal-release
  * paths (Dedup's component-loop persists, CleanPipeline) clean up
  * after themselves, since any stray entry fails the same assert.
  *
  * The sweep itself is [[graft.queries.RegistrySweep]], the suite's one
  * registry execution pass, which `RegistrySpec` shares.
  */
class CacheLifecycleSpec extends SparkSpec {

  test("every registry query leaves the cache manager empty after release") {
    val sweep = graft.queries.RegistrySweep
    val failed = sweep.failures
    val leaks = sweep.outcomes.filter(_.leaked).map(_.name)
    assert(sweep.outcomes.size == graft.queries.Registry.queries.size)
    assert(failed.isEmpty, s"queries that failed: ${failed.mkString("; ")}")
    assert(leaks.isEmpty, s"queries leaving cached blocks: ${leaks.mkString(", ")}")
  }

  test("registerCache persists (reuse works) and releaseAll drops the entry") {
    import Caching.RegisterSyntax
    val df = spark.range(100).withColumn("one", lit(1L)).registerCache()
    df.count()
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(Caching.releaseAll() >= 1)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
