package graft.queries

import scala.util.Try

import graft.TestSession
import graft.core.{Caching, Tables}

/** The suite's one registry execution sweep, shared by `RegistrySpec`
  * (every query executes) and `CacheLifecycleSpec` (every query leaves
  * the cache manager empty after release). It runs once per test JVM,
  * on whichever of the two suites asks first.
  *
  * Every query runs through the noop sink, which evaluates every
  * projected column (a `count()` would let Catalyst prune them). After
  * each query the sweep calls [[Caching.releaseAll]] and records whether
  * the session cache manager still holds blocks; a leaky query's blocks
  * are cleared so the next query is judged on its own.
  */
object RegistrySweep {

  /** Per query, in name order: the error it threw, if any, and whether
    * it left cached blocks behind after release. */
  final case class Outcome(name: String, error: Option[Throwable], leaked: Boolean)

  lazy val outcomes: Seq[Outcome] = {
    val spark = TestSession.spark
    val sfDir = TestSession.sfDir
    Tables.registerAll(spark, sfDir) // temp views for the `spark.sql` queries
    spark.catalog.clearCache() // start clean regardless of suite order
    Caching.releaseAll()
    Registry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val run = Try(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      Caching.releaseAll()
      val leaked = !spark.sharedState.cacheManager.isEmpty
      if (leaked) spark.catalog.clearCache()
      Outcome(name, run.failed.toOption, leaked)
    }
  }

  /** `name: error` for every query that threw, for an assertion message. */
  def failures: Seq[String] =
    outcomes.collect { case Outcome(n, Some(e), _) => s"$n: $e" }
}
