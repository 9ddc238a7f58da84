package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Sessions
import graft.pipeline.QueryMetrics

/** Local perf iteration: time a subset of the registry through Bench's
  * run and release path (a fail-fast pass at sf0.001, then per query
  * one untimed warm-up run at the target SF and best-of-3 there through
  * the noop sink, blocking release between runs), then profile each
  * query in one more, UNTIMED run under one [[Sessions.capture]] — the
  * capture's listener stays off every timed run.
  * The target-SF warm-up builds that SF's tiers and resolves its
  * tables, so no timed run — and no `runs=` entry — includes a tier
  * build.
  *
  * Usage: `run_class.sh graft.tools.Time <sfDir> [-analyze] [name...]`
  * (no names: the whole registry). Per query:
  * {{{
  * <name>  best=<s>  build=<s>  plan=<ms>  runs=<s>,<s>,<s>  jobs=<n> stages=<n> tasks=<n> shufMB=<MB>
  *     job <id>  ran <executed>/<submitted> stages  wall=<ms> run=<ms> gap=<ms>  <stageId>:<stage name>(<tasks>t) | …
  * }}}
  * `build` is the construction layer: the median over the three timed
  * runs of a clock around `fn(spark, dir)` alone (memoized table
  * resolution, eager analysis, tier freshness probes), taken inside
  * the timed region — no listener, no extra run.
  * `plan` is optimization + physical planning of the profile run's
  * final action (the noop write), in ms, read from that write's own
  * `QueryPlanningTracker` — the same phases perfbench's `plans.plan_s`
  * sums.
  * `jobs`/`stages`/`tasks` count the jobs submitted and the stages and
  * tasks that ran, construction included; `shufMB` is the shuffle
  * volume of the same capture's executions (ScaleProbe's MAX rule).
  * One indented line per job names
  * the stages it actually ran — a job's submitted list includes
  * ancestors Spark skips as already computed — so a many-job query
  * shows WHICH materialization (cache fill, broadcast build, AQE
  * stage, final stage) each round-trip is, and splits its time, in ms:
  *  - `wall`: from the first submission to the last completion of the
  *    stages it ran — how long the job held the cluster;
  *  - `run`: the executor run time summed over those stages' tasks —
  *    the work inside `wall`, over all cores;
  *  - `gap`: from the last stage completion of the previous job that
  *    ran one to this job's start — driver time between jobs (planning
  *    the next AQE stage, a cache or broadcast hand-off); `-` while no
  *    earlier job has run a stage (`wall`: for a job that ran none).
  */
object Time {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, rest @ _*) = args
    val analyze = rest.contains("-analyze")
    val names = rest.filterNot(_ == "-analyze")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-time")
    // `-analyze` reproduces the nightly-pipeline world (TierRefresh's
    // analyze_raw step): raw tables carry exact rowCount/NDV, which is
    // the precondition for CBO join-reorder to consider them at all
    if (analyze) graft.io.TableStats.analyzeAll(spark, sfDir): Unit
    val sel = graft.SparkEntry.queries
      .filter(kv => names.isEmpty || names.contains(kv._1)).toSeq.sortBy(_._1)
    /** Build and run `fn` on `dir`; the build's seconds. */
    def run(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val built = (System.nanoTime() - t0) / 1e9
      Sessions.run(df)
      built
    }
    // Fail fast and LOUD: a query that can't analyze is named here with
    // its error, instead of dying anonymously mid-timing-loop.
    val warm = sel.filter { case (name, fn) =>
      val ok =
        try { run(fn, "/root/testdata/sf0.001"); true }
        catch { case e: Throwable =>
          System.err.println(s"[time] warmup FAILED $name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          false
        }
      Sessions.release(spark)
      ok
    }
    warm.foreach { case (name, fn) =>
      run(fn, sfDir): Unit
      Sessions.release(spark)
      val (ts, builds) = Seq.fill(3) {
        val t0 = System.nanoTime()
        val built = run(fn, sfDir)
        val t = (System.nanoTime() - t0) / 1e9
        Sessions.release(spark)
        (t, built)
      }.unzip
      // construction inside the capture: its jobs count too
      val prof = Sessions.capture(spark)(Sessions.run(fn(spark, sfDir)))._2
      val recs = prof.executions.map(QueryMetrics.of)
      Sessions.release(spark)
      val ran = prof.stages.map(s => s.stageId -> s).toMap
      val planMs = recs.lastOption.map(_.planMs).getOrElse(0L)
      println(f"$name%-28s best=${ts.min}%7.3f  build=${builds.sorted.apply(1)}%6.3f  plan=$planMs%4d" +
        f"  runs=${ts.map(t => f"$t%.3f").mkString(",")}" +
        f"  jobs=${prof.jobs.size} stages=${prof.stages.size} tasks=${prof.stages.map(_.numTasks).sum}" +
        f" shufMB=${ScaleProbe.shuffleBytes(recs) / 1e6}%.2f")
      // the previous job's last stage completion, for `gap`
      var prevDone: Option[Long] = None
      prof.jobs.foreach { j =>
        val executed = j.stageIds.flatMap(ran.get)
        val stageLabels = executed.map(s =>
          s"${s.stageId}:${s.name.takeWhile(_ != '\n').take(70)}(${s.numTasks}t)")
        val done = executed.flatMap(_.completionTime).maxOption
        val wall = for (a <- executed.flatMap(_.submissionTime).minOption; b <- done) yield b - a
        val run = executed.map(_.taskMetrics.executorRunTime).sum
        val gap = prevDone.map(j.time - _)
        def ms(v: Option[Long]) = v.fold("     -")(x => f"$x%6d")
        println(f"    job ${j.jobId}%3d  ran ${executed.size}%2d/${j.stageIds.size}%2d stages  " +
          f"wall=${ms(wall)} run=${ms(Some(run))} gap=${ms(gap)}  " +
          stageLabels.mkString(" | ").take(180))
        if (done.isDefined) prevDone = done
      }
    }
    spark.stop()
  }
}
