package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The nightly tier-refresh DAG — the reference's tiered-ETL cascade
  * (`Airflow_week.py:247-276`: T1→T5 jobs refresh derived tables in
  * dependency order under one scheduled run, each audit-logged)
  * applied to the engine's standing tiers.
  *
  * Every job body just SERVES its tier: [[graft.io.DerivedStore]]'s
  * fingerprint check makes the serve a no-op when the sources haven't
  * moved, an O(Δ) merge on append-only drift, and a full rebuild
  * otherwise — so this DAG is idempotent (re-running a green night
  * re-publishes nothing) and the nightly cost is proportional to what
  * actually changed, never to history. Dependencies express refresh
  * order for the tiers that COMPOSE (the band index builds from the
  * shingle tier; the lexical components merge probes the band index;
  * the serves would re-enter and refresh upstreams themselves, but
  * ordering them makes each job's run-log row carry its OWN cost and
  * an upstream failure SKIP its dependents instead of failing them
  * mid-build).
  *
  * Row counts feed the A4 count gate through [[Pipeline.run]]'s
  * run-log (one row per tier per night, success/failure/skip alike);
  * `TierRefreshSpec` pins the all-green night, the no-op re-run, and
  * the drift night refreshing exactly the touched lineage.
  */
object TierRefresh {

  import Pipeline.Job

  import graft.io.{AtomicPublish, DerivedStore}

  /** Wrap a tier serve so its run-log row carries HOW the tier was
    * served (r10 verdict #4): `mode=noop|merge|full v=<n>` lands in
    * the row's note slot via [[Pipeline.jobNote]] — a nightly operator
    * reads "merge, v=12" from the log instead of grepping build logs.
    * A body that left the tier's committed version where it was is a
    * `noop`; otherwise the mode is the one the new version committed
    * in its `_refresh` record (`unrecorded` if it has none). */
  private def tierJob(jobName: String, tier: String, sfDir: String,
                      deps: Seq[String] = Nil)
                     (serve: SparkSession => Long): Job =
    Job(jobName, s"graphstore.$tier", deps = deps)((s, _) => {
      val store = DerivedStore.storePath(sfDir, tier)
      val before = AtomicPublish.currentVersion(s, store)
      val rows = serve(s)
      val after = AtomicPublish.currentVersion(s, store)
      val mode =
        if (after == before) "noop"
        else after.flatMap(v => DerivedStore.refreshOf(s, s"$store/v=$v"))
          .fold("unrecorded")(_.mode)
      Pipeline.jobNote = Some(s"mode=$mode${after.fold("")(v => s" v=$v")}")
      rows
    })

  /** Nightly ANALYZE of the raw warehouse tables (r13 verdict #1):
    * published tiers get optimizer stats from their `_stats` sidecar,
    * but the SOURCE tables are loaded, not published — without this
    * step every raw-table join that night is priced from file bytes
    * and default column widths. One metadata-count + one column-pruned
    * agg per table ([[graft.io.TableStats.analyze]]), amortized against
    * every query the night runs; its run-log row carries the table
    * count like any job (the reference's run-log discipline,
    * `comlib.py:386-408`). Declared FIRST so declaration-order
    * scheduling runs it before the tier serves, but with no dep edges —
    * tier builds don't REQUIRE stats, so an analyze failure must not
    * skip the night's refreshes. Tables absent from the warehouse dir
    * are skipped, not failed (a fixture or partial warehouse analyzes
    * what it has). */
  def analyzeJob(sfDir: String,
                 tables: Seq[String] = graft.core.Tables.all): Job =
    Job("analyze_raw", "warehouse.stats")((s, _) => {
      val analyzed = graft.io.TableStats.analyzeAll(s, sfDir, tables)
      Pipeline.jobNote = Some(s"tables=${analyzed.size}/${tables.size}")
      analyzed.map(_._2).sum
    })

  /** One job per standing tier, dependency-ordered; the raw-table
    * ANALYZE leads the night. */
  def jobs(sfDir: String): Seq[Job] = Seq(
    analyzeJob(sfDir),
    tierJob("tokens_tier", "tokens", sfDir)(s =>
      graft.text.TokenStore.served(s, sfDir).count()),
    tierJob("shingle_tier", "shingles", sfDir)(s =>
      graft.dedup.ShingleStore.served(s, sfDir).count()),
    tierJob("band_index_tier", "band_index", sfDir,
      deps = Seq("shingle_tier"))(s =>
      graft.dedup.BandIndexStore.corpusIndex(s, sfDir).count()),
    tierJob("lsh_components_tier", "lsh_components", sfDir,
      deps = Seq("band_index_tier"))(s =>
      graft.dedup.ClusterStore.lshComponents(s, sfDir).count()),
    tierJob("emb_components_tier", "emb_components", sfDir)(s =>
      graft.dedup.ClusterStore.embComponents(s, sfDir).count()),
    tierJob("pq_index_tier", "pq_index", sfDir)(s =>
      s.read.parquet(s"${graft.sim.Similarity.s12Index(s, sfDir)}/codes").count()),
    tierJob("media_ann_tier", "media_ann", sfDir)(s =>
      s.read.parquet(s"${graft.multimodal.Multimodal.m7Index(s, sfDir)}/postings").count()),
    tierJob("purchase_tier", "purchase", sfDir)(s =>
      graft.io.GraphStore.purchaseEdges(s, sfDir).count()),
    tierJob("cosupply_tier", "cosupply", sfDir)(s =>
      graft.io.GraphStore.cosupplyUnd(s, sfDir).count()),
  )

  /** Shared run-log body for the stream-compaction jobs: `folded=N
    * mode=M` on a folding night, `noop` on an already-folded one. */
  private def foldJobBody(fold: SparkSession => Option[graft.streaming.StreamTierIngest.Folded])
                         (s: SparkSession): Long =
    fold(s) match {
      case Some(f) =>
        Pipeline.jobNote = Some(s"folded=${f.parts} mode=${f.mode}"); f.rows
      case None =>
        Pipeline.jobNote = Some("noop"); 0L
    }

  /** Nightly compaction of a streaming ingest gate's accumulated
    * batch partitions into its bucket-partitioned base
    * ([[graft.streaming.StreamTierIngest.fold]]) — registered beside
    * the tier serves so the stream's probe cost is bounded by the
    * compaction interval, not ingest history. Run it between stream
    * triggers (the AvailableNow-daily shape); its run-log row carries
    * how many partitions folded, or `noop` on an already-folded night. */
  def streamFoldJob(name: String, indexDir: String, checkpoint: String,
                    deps: Seq[String] = Nil): Job =
    Job(name, s"stream.$name", deps = deps)((s, _) =>
      foldJobBody(graft.streaming.StreamTierIngest.fold(_, indexDir, checkpoint))(s))

  /** [[streamFoldJob]]'s survivors-side twin
    * ([[graft.streaming.StreamTierIngest.foldSurvivors]]): compacts the
    * gate's per-batch survivor partitions into the doc_id-sorted
    * corpus base — without it the corpus sink grows one directory per
    * micro-batch forever. `nearDupAtFold` also runs the d3 band pass
    * over the folded delta (within-batch near-dup families, the
    * compaction's contractual job). */
  def survivorsFoldJob(name: String, survivorsDir: String, checkpoint: String,
                       nearDupAtFold: Boolean = false,
                       deps: Seq[String] = Nil): Job =
    Job(name, s"stream.$name", deps = deps)((s, _) =>
      foldJobBody(graft.streaming.StreamTierIngest
        .foldSurvivors(_, survivorsDir, checkpoint, nearDupAtFold))(s))

  /** Publish newly folded survivors into the warehouse corpus table
    * ([[graft.streaming.StreamTierIngest.syncCorpus]]) — the job that
    * turns stream arrivals into the append-only part-file drift the
    * standing tiers' merge paths consume. Register it with a dep on
    * the survivors fold, and give every tier serve a dep on it, so an
    * append-only stream night refreshes the whole cascade at O(Δ). */
  def corpusSyncJob(name: String, survivorsDir: String, corpusDir: String,
                    deps: Seq[String] = Nil): Job =
    Job(name, s"stream.$name", deps = deps)((s, _) =>
      graft.streaming.StreamTierIngest.syncCorpus(s, survivorsDir, corpusDir) match {
        case Some(sy) =>
          Pipeline.jobNote = Some(s"synced=${sy.rows} upto=${sy.upto}"); sy.rows
        case None =>
          Pipeline.jobNote = Some("noop"); 0L
      })

  /** Run the refresh for one batch date; results + run-log rows. */
  def refresh(spark: SparkSession, sfDir: String,
              batDt: java.time.LocalDate,
              runLogPath: String): Seq[Pipeline.Result] =
    Pipeline.run(spark, jobs(sfDir), batDt, runLogPath)
}
