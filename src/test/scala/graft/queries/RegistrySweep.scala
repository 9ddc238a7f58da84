package graft.queries

import scala.annotation.tailrec
import scala.util.Try

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Union, V2WriteCommand}

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
  * A [[Sessions.capture]] of each noop write keeps the write's
  * `QueryExecution` (the one the write itself ran, so nothing is
  * analyzed, optimized or executed twice), and the sweep records the
  * fan-outs ([[fanOuts]]) of its analyzed plan and the
  * [[graft.tools.PlanAudit.verdict]] of its final executed plan.
  */
object RegistrySweep {

  /** Per query, in name order: the error it threw, if any, whether it
    * left cached blocks behind after release, and the fan-outs of its
    * noop write's analyzed plan and the plan-audit red flags of its
    * executed plan (None: no write plan was seen). */
  final case class Outcome(name: String, error: Option[Throwable], leaked: Boolean,
                           fanOuts: Option[Seq[String]], planFlags: Option[Seq[String]])

  lazy val outcomes: Seq[Outcome] = {
    val spark = TestSession.spark
    val sfDir = TestSession.sfDir
    Tables.registerAll(spark, sfDir) // temp views for the `spark.sql` queries
    spark.catalog.clearCache() // start clean regardless of suite order
    Caching.releaseAll()
    Registry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val captured = Try(fn(spark, sfDir)).map(df => Sessions.capture(spark)(Try(Sessions.run(df))))
      val run = captured.flatMap(_._1)
      val write = captured.toOption.flatMap(_._2.executions.filter { e =>
        e.failure.isEmpty && e.qe.logical.isInstanceOf[V2WriteCommand]
      }.lastOption).map(_.qe)
      val fans = write.map(qe => fanOuts(qe.analyzed))
      val flags = write.map(qe => graft.tools.PlanAudit.verdict(name, qe.executedPlan))
      Caching.releaseAll()
      val leaked = !spark.sharedState.cacheManager.isEmpty
      if (leaked) spark.catalog.clearCache()
      Outcome(name, run.failed.toOption, leaked, fans, flags)
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
    outcomes.collect { case Outcome(n, Some(e), _, _, _) => s"$n: $e" }
}
