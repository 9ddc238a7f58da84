package graft.queries

import java.util.concurrent.atomic.AtomicReference

import scala.annotation.tailrec
import scala.util.Try

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Union, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.TestSession
import graft.core.{Caching, Sessions, Tables}

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
  *
  * A `QueryExecutionListener` on each frame's own session keeps its
  * noop write's `QueryExecution` (the one the write itself ran, so
  * nothing is analyzed or optimized twice), and the sweep records the
  * fan-outs ([[fanOuts]]) of its analyzed plan. The frame's session,
  * not the sweep's: a query may build its plan on a child session (q85
  * scopes its recursion limit to `s.newSession()`), whose executions a
  * parent-session listener never sees.
  */
object RegistrySweep {

  /** Per query, in name order: the error it threw, if any, whether it
    * left cached blocks behind after release, and the fan-outs of its
    * noop write's analyzed plan (None: no write plan was seen). */
  final case class Outcome(name: String, error: Option[Throwable], leaked: Boolean,
                           fanOuts: Option[Seq[String]])

  lazy val outcomes: Seq[Outcome] = {
    val spark = TestSession.spark
    val sfDir = TestSession.sfDir
    Tables.registerAll(spark, sfDir) // temp views for the `spark.sql` queries
    spark.catalog.clearCache() // start clean regardless of suite order
    Caching.releaseAll()
    val write = new AtomicReference[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) write.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    Registry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      write.set(null)
      val run = Try(fn(spark, sfDir)).flatMap { df =>
        val sess = df.sparkSession
        Sessions.drain(sess)
        sess.listenerManager.register(listener)
        try Try(df.write.format("noop").mode("overwrite").save())
        finally {
          Sessions.drain(sess)
          sess.listenerManager.unregister(listener)
        }
      }
      val fans = Option(write.get).map(qe => fanOuts(qe.analyzed))
      Caching.releaseAll()
      val leaked = !spark.sharedState.cacheManager.isEmpty
      if (leaked) spark.catalog.clearCache()
      Outcome(name, run.failed.toOption, leaked, fans)
    }
  }

  /** Every `Union` in `plan`, subqueries included, that has two
    * children whose cores (the child with its `Project`s and `Filter`s
    * stripped) are equal after `canonicalized`: one input read once per
    * arm where one pass over it could emit every arm. One line per such
    * union.
    *
    * `plan` is the ANALYZED plan, where the arms are as the builder
    * wrote them. The optimizer hides fan-outs from this test: it pushes
    * each arm's predicates beneath the shared input (q29's per-row
    * bucket filter lands under the distinct, c19's under the
    * repartition), folds arm projections into aggregates, and
    * specializes a full-outer join per arm (q28's three filters made it
    * an inner, a left and a right join) — each arm still re-reads the
    * input. Cached frames are inline there too, not yet swapped for
    * their `InMemoryRelation`. */
  def fanOuts(plan: LogicalPlan): Seq[String] = {
    @tailrec def core(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => core(c)
      case Filter(_, c) => core(c)
      case other => other
    }
    plan.collectWithSubqueries { case u: Union => u }.flatMap { u =>
      u.children.map(core).groupBy(_.canonicalized).collect {
        case (_, arms) if arms.size > 1 =>
          s"${arms.size} arms over ${arms.head.simpleString(3).take(160)}"
      }
    }.distinct
  }

  /** `name: error` for every query that threw, for an assertion message. */
  def failures: Seq[String] =
    outcomes.collect { case Outcome(n, Some(e), _, _) => s"$n: $e" }
}
