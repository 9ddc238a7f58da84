package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caching, Sessions}
import graft.pipeline.{Pipeline, TierRefresh}
import graft.queries.Registry
import graft.streaming.StreamTierIngest

/** Benchmark harness: runs one workload against the engine's public
  * entry points and writes its metrics as JSON.
  *
  *   perfbench.Main <analytics|corpus> <seed> <seconds> <trace 0|1>
  *                  <dataDir> <workDir> <goldens.json> <result.json>
  *                  [plant-throw query]
  *
  * `perfbench/run.py` builds the classes, copies the tables into
  * `dataDir`, and calls this; see perfbench/README.md for the workloads. */
object Main {

  /** Named subsets of the registry, several passes each. Every module
    * of the workload keeps a query; a whole-registry pass (~70 s for the
    * q family, ~110 s for the rest on 4 cores) does not fit a run. The
    * analytics queries read no tier; the corpus ones serve the shingle,
    * band-index and purchase tiers that [[nightJobs]] publishes. */
  val Analytics: Seq[String] = Seq(
    "q2_revenue_join", "q5_topk_window", "q44_grouping_sets", "q27_search_dsl",
    "q29_countmin_heavy", "q68_drift_report", "q28_scd2_merge")
  val Corpus: Seq[String] = Seq(
    "d1_exact_dedup", "d3_lsh_pairs", "s1_cosine_topk", "g1_pagerank", "t2_quality_score",
    "c2_corpus_mix", "m1_media_features")

  /** The nightly DAG the corpus workload runs: the raw-table ANALYZE of
    * the table the stream grows and the standing tiers its queries serve. */
  def nightJobs(dir: String): Seq[Pipeline.Job] =
    TierRefresh.analyzeJob(dir, Seq("documents")) +:
      TierRefresh.jobs(dir).filter(j => Set("shingle_tier", "band_index_tier", "purchase_tier")(j.name))

  /** The engine module each query's builder lives in, from the modules'
    * own registries; the rest (the queries package and io.Scd2's q28)
    * count as `queries`. */
  private val moduleOf: Map[String, String] = Seq(
    "search" -> (graft.search.SearchDsl.queries.keys ++ graft.search.QueryIntents.queries.keys),
    "functions" -> (graft.functions.KMV.queries.keys ++ graft.functions.CountMin.queries.keys ++
      graft.functions.HdrHist.queries.keys),
    "quality" -> graft.quality.Checks.queries.keys,
    "dedup" -> graft.dedup.Dedup.queries.keys,
    "sim" -> graft.sim.Similarity.queries.keys,
    "graph" -> graft.graph.Graph.queries.keys,
    "text" -> (graft.text.TextAnalysis.queries.keys ++ graft.text.Keywords.queries.keys ++
      graft.text.Bpe.queries.keys),
    "corpus" -> graft.corpus.Corpus.queries.keys,
    "multimodal" -> graft.multimodal.Multimodal.queries.keys,
  ).flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
  def module(q: String): String = moduleOf.getOrElse(q, "queries")

  /** The fewest timed passes a run makes, so that `suite_s` is the
    * median of at least three passes even when the host is slow. */
  val MinPasses = 3

  val Modules: Seq[String] =
    Seq("queries", "search", "functions", "quality", "dedup", "sim", "graph", "text", "corpus", "multimodal")

  final case class Op(name: String, seconds: Double)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, goldensPath, resultPath, rest @ _*) = args
    require(sys.env.get("GRAFT_EXTRA_CONF").forall(_.isEmpty),
      "GRAFT_EXTRA_CONF is set: the benchmark measures the default session only")
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val trace = new Trace(traceS == "1")
    sys.props("graft.graphstore.dir") = s"$workDir/store"

    def uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val spark = Sessions.local(cores = Runtime.getRuntime.availableProcessors, appName = "perfbench")
    val sessionS = uptimeS
    trace.install(spark)
    val goldensJson = new String(Files.readAllBytes(Paths.get(goldensPath)), StandardCharsets.UTF_8)
    val goldens = "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(goldensJson)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val nearDupDocs = "\"near_dup_docs\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(goldensJson)
      .toSeq.flatMap(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong)).toSet
    val plantThrow = rest.headOption.toSet

    val run = new Run(spark, trace, seed, goldens, nearDupDocs, plantThrow)
    val names = workload match {
      case "analytics" => Analytics
      case "corpus" => Corpus
      case other => sys.error(s"unknown workload $other")
    }
    val queryDir = workload match {
      case "analytics" => dataDir
      case _ => run.nightlySetup(dataDir, workDir)
    }
    val nightsS = uptimeS
    run.checkingPass(names, queryDir)
    // The analytics queries' first pass after the checking one still
    // ran ~20% slower than the later ones on 4 cores (codegen and JIT);
    // corpus's set-up nights have already warmed both.
    if (workload == "analytics") run.warmUpPass(names, queryDir)
    val setupS = uptimeS
    run.timedPasses(names, queryDir, seconds)
    val rssMb = peakRssMb()

    val e2e = Map(
      "setup_s" -> setupS,
      "suite_s" -> median(run.passWalls),
      "query_p50_s" -> quantile(run.ops.map(_.seconds), 0.5),
      "query_p90_s" -> quantile(run.ops.map(_.seconds), 0.9))
    val metrics = if (trace.on) run.perLayer(e2e) + ("jvm.peak_rss_mb" -> rssMb) else e2e
    val info = Map(
      "workload" -> workload, "seed" -> seed.toString, "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "queries_per_pass" -> names.size.toString, "passes" -> run.passWalls.size.toString,
      "timed_queries" -> run.ops.size.toString,
      "setup_parts_s" -> f"session=$sessionS%.1f nights=${nightsS - sessionS}%.1f check=${setupS - nightsS}%.1f",
      "pass_walls_s" -> run.passWalls.map(w => f"$w%.3f").mkString(" "),
      "query_median_s" -> run.ops.groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (q, os) => f"$q=${median(os.map(_.seconds))}%.3f" }.mkString(" "),
      "spark_conf" -> (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll).toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString(";"))
    val spanTable = trace.selfTimes.map { case (n, c, tot, self) => f"$n%-24s $c%6d $tot%10.3f $self%10.3f" }
    val json =
      s"""{"attempted":${run.attempted},"failed":${run.failures.size},""" +
        s""""failures":${run.failures.map(quote).mkString("[", ",", "]")},""" +
        s""""metrics":${metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")},""" +
        s""""info":${info.toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString("{", ",", "}")},""" +
        s""""spans":${spanTable.map(quote).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(resultPath), json)
    spark.stop()
  }

  /** State and steps of one run. */
  final class Run(spark: SparkSession, trace: Trace, seed: Long,
                  goldens: Map[String, Long], nearDupDocs: Set[Long], plantThrow: Set[String]) {
    val ops = collection.mutable.ArrayBuffer.empty[Op]
    val passWalls = collection.mutable.ArrayBuffer.empty[Double]
    val failures = collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    private val moduleS = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private val layer = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

    private def check(what: String)(ok: Boolean): Unit = {
      attempted += 1
      if (!ok) failures += what
    }

    private def builder(name: String): Registry.Q =
      if (plantThrow(name)) (_, _) => throw new IllegalStateException(s"planted failure in $name")
      else Registry.queries(name)

    private def release(): Unit = {
      Caching.releaseAll(blocking = true)
      spark.catalog.clearCache()
    }

    /** The untimed pass before the clock starts: checks each query's
      * output row count against the oracle's, and warms codegen and the
      * JIT for the timed passes. */
    def checkingPass(names: Seq[String], dir: String): Unit =
      names.foreach { name =>
        val rows = try {
          val obs = Observation(s"rows_$name")
          builder(name)(spark, dir).observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          Some(obs.get("n").asInstanceOf[Long])
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
          None
        }
        release()
        check(s"$name: rows ${rows.getOrElse("error")} != oracle ${goldens.get(name)}")(
          rows.isDefined && goldens.get(name).contains(rows.get))
      }

    /** An untimed pass that only warms up; failures were already
      * counted by the checking pass. */
    def warmUpPass(names: Seq[String], dir: String): Unit =
      names.foreach { name =>
        try builder(name)(spark, dir).write.format("noop").mode("overwrite").save()
        catch { case _: Exception => () }
        release()
      }

    /** Closed loop, one client: passes over `names` in a seeded order
      * until `seconds` have gone by and at least [[MinPasses]] have run;
      * the pass under way then finishes, so every pass in `passWalls` is
      * whole. */
    def timedPasses(names: Seq[String], dir: String, seconds: Int): Unit = trace.timedPhase(spark) {
      val deadline = System.nanoTime() + seconds * 1000000000L
      var pass = 0
      while (pass < MinPasses || System.nanoTime() < deadline) {
        val order = new Random(seed * 1000003L + pass).shuffle(names)
        val p0 = System.nanoTime()
        order.foreach { name =>
          val t0 = System.nanoTime()
          val ok = try {
            trace.span(module(name)) {
              val df = trace.span("core.build")(builder(name)(spark, dir))
              trace.span("exec.write")(df.write.format("noop").mode("overwrite").save())
            }
            true
          } catch { case e: Exception =>
            System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
            false
          }
          val dt = (System.nanoTime() - t0) / 1e9
          moduleS(module(name)) += dt
          ops += Op(name, dt)
          check(s"$name: timed execution failed")(ok)
          trace.span("core.release")(release())
        }
        passWalls += (System.nanoTime() - p0) / 1e9
        pass += 1
      }
    }

    // ---------------------------------------------------------------
    // The nightly write side, run once as the corpus workload's set-up
    // ---------------------------------------------------------------

    private val night1 = LocalDate.of(2026, 8, 11) // a Tuesday: no weekly gates

    /** A tier-refresh DAG run with each job body timed; its wall time
      * lands in `pipeline.<label>_s`. */
    private def night(label: String, jobs: Seq[Pipeline.Job], day: LocalDate,
                      runLog: String): Seq[Pipeline.Result] = {
      val bodyS = collection.mutable.Map.empty[String, Double]
      val timedJobs = jobs.map(j => j.copy()((s, dt) => {
        val t0 = System.nanoTime()
        try trace.span(jobLayer(j.name))(j.body(s, dt))
        finally bodyS(j.name) = bodyS.getOrElse(j.name, 0.0) + (System.nanoTime() - t0) / 1e9
      }))
      val t0 = System.nanoTime()
      val results = trace.span("pipeline.night")(Pipeline.run(spark, timedJobs, day, runLog))
      val wall = (System.nanoTime() - t0) / 1e9
      layer(s"pipeline.${label}_s") = wall
      layer("pipeline.overhead_s") += wall - bodyS.values.sum
      results.foreach { r =>
        check(s"$label ${r.job}: ${r.status} ${r.error.getOrElse("")}")(r.status == Pipeline.Succeeded)
        layer("pipeline.retries") += math.max(0, r.attempts - 1)
        val s = bodyS.getOrElse(r.job, 0.0)
        if (r.job == "analyze_raw") layer("io.analyze_s") += s
        else if (r.job.endsWith("_fold")) layer("streaming.fold_s") += s
        else if (r.job.endsWith("_sync")) layer("streaming.sync_s") += s
        else Seq("full", "merge", "noop").find(m => r.note.startsWith(s"mode=$m")).foreach { m =>
          layer(s"io.tier_${m}_s") += s
          layer(s"io.tiers_$m") += 1
        }
      }
      results
    }

    private def jobLayer(job: String): String =
      if (job == "analyze_raw") "io.analyze"
      else if (job.startsWith("stream_")) "streaming.job"
      else "io.tier"

    /** Night 1 over a warehouse copy whose documents miss a seeded
      * hold-back set; the held-back documents then arrive through the
      * stream gate as one file; night 2 folds and syncs them and merges
      * every tier. The corpus queries then read this warehouse, whose
      * documents again equal the original ones, so the oracle row
      * counts still apply. */
    def nightlySetup(dataDir: String, workDir: String): String = {
      val wh = s"$workDir/warehouse"
      val gate = s"$workDir/gate"
      val runLog = s"$workDir/runlog"
      Files.createDirectories(Paths.get(wh))
      val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      val heldBack = holdBack(docs)
      docs.filter(!col("doc_id").isin(heldBack: _*)).coalesce(1)
        .write.parquet(s"$wh/documents.parquet")
      Files.list(Paths.get(dataDir)).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") && p.getFileName.toString != "documents.parquet")
        .foreach(p => Files.copy(p, Paths.get(wh).resolve(p.getFileName)))
      val sourceBytes = dirBytes(Paths.get(dataDir))

      val n1 = night("night_full", nightJobs(wh), night1, runLog)
      check(s"night 1 builds every tier: ${n1.map(_.note)}")(
        n1.filterNot(_.job == "analyze_raw").forall(_.note.startsWith("mode=full")))
      val store = Paths.get(sys.props("graft.graphstore.dir"))
      layer("io.bytes_written") += dirBytes(store)
      layer("io.files_written") += Files.walk(store).iterator().asScala.count(Files.isRegularFile(_))

      val in = s"$gate/in"; val idx = s"$gate/idx"; val out = s"$gate/out"; val ckpt = s"$gate/ckpt"
      StreamTierIngest.bootstrapIndex(spark.read.parquet(s"$wh/documents.parquet"), idx)
      docs.filter(col("doc_id").isin(heldBack: _*)).coalesce(1).write.mode("append").parquet(in)
      val t0 = System.nanoTime()
      trace.span("streaming.batch") {
        val q = StreamTierIngest.start(spark, in, docs.schema, idx, out, ckpt)
        q.awaitTermination()
        layer("streaming.add_batch_s") += q.recentProgress.toSeq
          .flatMap(p => Option(p.durationMs.get("addBatch")).map(_.toDouble / 1000)).sum
        q.stop()
      }
      val batchS = (System.nanoTime() - t0) / 1e9
      while (spark.streams.active.nonEmpty) Thread.sleep(20)
      val kept = StreamTierIngest.survivors(spark, out).count()
      layer("streaming.batch_s") = batchS
      layer("streaming.kept_ratio") = kept.toDouble / heldBack.size
      layer("streaming.ingest_docs_per_s") = heldBack.size / batchS

      val appendJobs = Seq(
        TierRefresh.streamFoldJob("stream_band_fold", idx, ckpt),
        TierRefresh.survivorsFoldJob("stream_surv_fold", out, ckpt),
        TierRefresh.corpusSyncJob("stream_corpus_sync", out, s"$wh/documents.parquet",
          deps = Seq("stream_surv_fold"))) ++
        nightJobs(wh).map(j => j.copy(deps = j.deps :+ "stream_corpus_sync")(j.body))
      val n2 = night("night_append", appendJobs, night1.plusDays(1), runLog)
      val synced = spark.read.parquet(s"$wh/documents.parquet").count()
      check(s"base ${docs.count() - heldBack.size} + survivors $kept != synced corpus $synced")(
        docs.count() - heldBack.size + kept == synced)
      n2.filter(_.note.startsWith("mode=merge")).foreach { r =>
        check(s"merged ${r.job}: ${r.rows} rows != from-scratch ${goldens.get("tier." + r.job)}")(
          goldens.get("tier." + r.job).contains(r.rows))
      }
      layer("io.store_bytes_per_source_byte") = (dirBytes(store) + dirBytes(Paths.get(gate))).toDouble / sourceBytes
      wh
    }

    /** Seeded hold-back: a fifth of the documents, drawn from those
      * that share no LSH band with another document (so the gate keeps
      * every arrival) and are not centroid-eligible (doc_id % 5 != 0,
      * the media index's merge precondition). */
    private def holdBack(docs: DataFrame): Seq[Long] = {
      val eligible = docs.select("doc_id").collect().map(_.getLong(0))
        .filter(id => id % 5 != 0 && !nearDupDocs(id)).sorted.toSeq
      new Random(seed).shuffle(eligible).take(docs.count().toInt / 5).sorted
    }

    /** Every per-layer metric; layers the workload does not run read 0. */
    def perLayer(e2e: Map[String, Double]): Map[String, Double] = {
      val cores = Runtime.getRuntime.availableProcessors
      val spanS = trace.selfTimes.map { case (n, _, tot, self) => n -> (tot, self) }.toMap
      def total(n: String) = spanS.get(n).map(_._1).getOrElse(0.0)
      val planS = trace.planMs.sum / 1000
      val execS = total("exec.write") - planS
      Map(
        "core.build_s" -> total("core.build"),
        "core.release_s" -> total("core.release"),
        "plans.plan_s" -> planS,
        "exec.exec_s" -> execS,
        "exec.jobs" -> trace.jobs.get.toDouble,
        "exec.stages" -> trace.stages.get.toDouble,
        "exec.tasks" -> trace.tasks.get.toDouble,
        "exec.task_s" -> trace.taskMs.get / 1000.0,
        "exec.core_busy_share" -> (if (execS > 0) trace.taskMs.get / 1000.0 / (execS * cores) else 0.0),
        "exec.shuffle_bytes" -> trace.shuffleBytes.get.toDouble,
        "exec.spill_bytes" -> trace.spillBytes.get.toDouble,
        "exec.input_bytes" -> trace.inputBytes.get.toDouble,
        "exec.gc_s" -> trace.gcMs.get / 1000.0,
        "trace.suite_s" -> e2e("suite_s"),
        "trace.query_p50_s" -> e2e("query_p50_s"),
      ) ++ Modules.map(m => s"$m.s" -> moduleS(m)) ++
        Seq("io.tier_full_s", "io.tiers_full", "io.tier_merge_s", "io.tiers_merge",
          "io.tier_noop_s", "io.tiers_noop", "io.analyze_s", "io.bytes_written", "io.files_written",
          "io.store_bytes_per_source_byte", "pipeline.night_full_s", "pipeline.night_append_s",
          "pipeline.overhead_s", "pipeline.retries", "streaming.ingest_docs_per_s", "streaming.fold_s",
          "streaming.sync_s", "streaming.batch_s", "streaming.add_batch_s",
          "streaming.kept_ratio").map(k => k -> layer(k))
    }
  }

  // ------------------------------------------------------------------

  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile with linear interpolation between closest ranks (the
    * "inclusive" method of Python's statistics.quantiles); NaN for no
    * samples. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = q * (s.size - 1)
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
