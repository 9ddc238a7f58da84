package graft.pipeline

import java.nio.file.{Files, Path => JPath, Paths}
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.io.TierSnapshot

/** The nightly tier-refresh DAG: all-green first night, idempotent
  * re-run (nothing re-publishes), and a drift night that refreshes
  * exactly the touched lineage — with a run-log row per tier per
  * night. */
class TierRefreshSpec extends SparkSpec {

  // a Tuesday: weekly gates must not skip anything (all jobs Daily)
  private val night1 = LocalDate.of(2026, 8, 11)

  private def writeTable(df: DataFrame, dir: String, table: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")

  private def appendParts(from: String, into: String): Unit = {
    Files.list(Paths.get(from)).forEach { f: JPath =>
      val n = f.getFileName.toString
      if (!n.startsWith("_") && !n.startsWith("."))
        Files.move(f, Paths.get(into).resolve(n)): Unit
    }
  }

  test("refresh DAG: green night, idempotent re-run, drift refreshes only touched lineage") {
    val dir = tmpDir("tierdag-src")
    val prevRoot = sys.props.get("graft.graphstore.dir")
    sys.props("graft.graphstore.dir") = tmpDir("tierdag-store")
    val runLog = tmpDir("tierdag-log") + "/runlog"
    try {
      // private source snapshot (documents split so day 2 can append;
      // % 5 == 0 keeps every centroid-eligible id in day 1 — the
      // media_ann merge eligibility shape)
      val docs = Tables.load(spark, sfDir, "documents").cache()
      writeTable(docs.filter(col("doc_id") % 5 === 0), dir, "documents")
      for (t <- Seq("embeddings", "lineitem", "orders"))
        writeTable(Tables.load(spark, sfDir, t), dir, t)

      val n1 = TierRefresh.refresh(spark, dir, night1, runLog)
      assert(n1.size == 10)
      assert(n1.forall(_.status == Pipeline.Succeeded),
        s"night 1 must be all green: $n1")
      assert(n1.forall(_.rows > 0), "every tier carries rows")

      // the analyze step ran first and registered every PRESENT raw
      // table (r13 verdict #1): a post-night scan of a raw table
      // carries its exact rowCount — the wiring that used to exist
      // only in TierStatsSpec's direct call
      for (t <- Seq("documents", "embeddings", "lineitem", "orders")) {
        val st = spark.read.parquet(s"$dir/$t.parquet")
          .queryExecution.optimizedPlan.stats
        assert(st.rowCount.isDefined,
          s"nightly analyze must register raw table $t: $st")
      }
      // and the stats change PLANS: a projected raw-documents scan is
      // rowCount-priced (a few KB), so it broadcasts under a threshold
      // its compressed file bytes alone would exceed
      val docBytes = new java.io.File(s"$dir/documents.parquet")
        .listFiles().filter(f => !f.getName.startsWith("_")).map(_.length).sum
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          math.max(docBytes / 2, 8 * 1024))
        val dim = spark.range(2000000).toDF("doc_id")
        val plan = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id").join(dim, "doc_id")
          .queryExecution.sparkPlan.toString
        assert(plan.contains("BroadcastHashJoin"),
          s"analyzed raw scan must be rowCount-priced into a broadcast:\n$plan")
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)

      // night 2, no source movement: every serve is a fingerprint hit
      val night2 = new TierSnapshot(spark)
      val n2 = TierRefresh.refresh(spark, dir, night1.plusDays(1), runLog)
      assert(n2.forall(_.status == Pipeline.Succeeded))
      assert(night2.published.isEmpty,
        "an unchanged night must re-publish nothing")

      // night 3: a new documents part file lands — the doc-derived
      // tiers refresh (merge or rebuild), the others stay fresh
      val stage = tmpDir("tierdag-delta")
      docs.filter(col("doc_id") % 5 =!= 0).coalesce(1).write.parquet(s"$stage/d")
      appendParts(s"$stage/d", s"$dir/documents.parquet")
      val builds = collection.mutable.Map[String, String]()
      val n3 = TierRefresh.jobs(dir).map { j =>
        val snap = new TierSnapshot(spark)
        val r = Pipeline.run(spark, Seq(j.copy(deps = Nil)(j.body)),
          night1.plusDays(2), runLog).head
        builds ++= snap.modesByName
        r
      }
      assert(n3.forall(_.status == Pipeline.Succeeded))
      assert(builds.contains("tokens") && builds.contains("shingles") &&
        builds.contains("media_ann"),
        s"doc-derived tiers must refresh on doc drift: $builds")
      assert(builds("tokens") == "merge" && builds("shingles") == "merge" &&
        builds("media_ann") == "merge",
        s"append-only doc drift takes the merge paths: $builds")
      assert(!builds.contains("purchase") && !builds.contains("cosupply") &&
        !builds.contains("emb_components") && !builds.contains("pq_index"),
        s"tiers not derived from documents must not rebuild: $builds")

      // run-log: one row per job per night (10 jobs x 3 nights; the
      // night-3 single-job runs land their own rows per run)
      val log = spark.read.parquet(runLog)
      assert(log.count() == 10L * 3)
      assert(log.filter(col("success_yn") =!= "Y").count() == 0)

      // every row carries HOW the tier was served (mode + version) in
      // its note slot — the nightly operator's "merge, v=2" at a
      // glance (r10 verdict #4); the analyze job reports its table
      // coverage the same way (4 of the 10 warehouse tables exist in
      // this fixture)
      def notes(dt: String): Map[String, String] = log
        .filter(col("bat_dt") === dt).collect()
        .map(r => r.getAs[String]("job_nm") -> r.getAs[String]("error_msg")).toMap
      def tierNotes(dt: String): Map[String, String] =
        notes(dt).filterNot(_._1 == "analyze_raw")
      assert(notes("20260811")("analyze_raw") == "tables=4/10",
        s"""analyze row: ${notes("20260811")}""")
      val night1Notes = tierNotes("20260811")
      assert(night1Notes.size == 9 && night1Notes.values.forall(_ == "mode=full v=1"),
        s"first night builds everything: $night1Notes")
      val night2Notes = tierNotes("20260812")
      assert(night2Notes.values.forall(_ == "mode=noop v=1"),
        s"an unchanged night serves fingerprint hits: $night2Notes")
      val night3Notes = tierNotes("20260813")
      val mergedJobs = Set("tokens_tier", "shingle_tier", "band_index_tier",
        "lsh_components_tier", "media_ann_tier")
      assert(mergedJobs.forall(j => night3Notes(j) == "mode=merge v=2"),
        s"doc-derived tiers must log their merge: $night3Notes")
      assert((night3Notes.keySet -- mergedJobs)
        .forall(j => night3Notes(j) == "mode=noop v=1"),
        s"untouched tiers log the no-op: $night3Notes")
      docs.unpersist(): Unit
    } finally prevRoot match {
      case Some(v) => sys.props("graft.graphstore.dir") = v
      case None => sys.props.remove("graft.graphstore.dir"): Unit
    }
  }

  test("streamFoldJob: folds the ingest gate's batch partitions on the DAG, run-log notes folded/noop") {
    import graft.streaming.StreamTierIngest
    val base = tmpDir("tierdag-stream")
    val in = s"$base/in"; val out = s"$base/out"
    val idx = s"$base/idx"; val ckpt = s"$base/ckpt"
    val runLog = s"$base/runlog"
    val docs = Tables.load(spark, sfDir, "documents")
    StreamTierIngest.bootstrapIndex(docs.filter(col("doc_id") % 3 === 0), idx)
    docs.filter(col("doc_id") % 3 === 1).limit(50)
      .coalesce(1).write.mode("append").parquet(in)
    val q = StreamTierIngest.start(spark, in, docs.schema, idx, out, ckpt)
    q.awaitTermination(); q.stop()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)

    val job = TierRefresh.streamFoldJob("stream_band_fold", idx, ckpt)
    val r1 = Pipeline.run(spark, Seq(job), night1, runLog).head
    assert(r1.status == Pipeline.Succeeded && r1.rows > 0 &&
      r1.note == "folded=2 mode=full",
      s"first night folds bootstrap + batch 0: $r1")
    val r2 = Pipeline.run(spark, Seq(job), night1.plusDays(1), runLog).head
    assert(r2.status == Pipeline.Succeeded && r2.note == "noop",
      s"an already-folded night is a no-op: $r2")
    val log = spark.read.parquet(runLog)
    assert(log.filter(col("job_nm") === "stream_band_fold").count() == 2)
  }

  test("note bookkeeping is thread-isolated: a concurrent DAG cannot clobber another run's row") {
    import java.util.concurrent.CountDownLatch
    // deterministic interleaving: A writes its note, B then clears and
    // writes its own on another thread, A reads after B finished — a
    // JVM-global slot would hand A thread B's note (the r11 review's
    // two-DAGs-one-JVM shape); the thread-local contract keeps each
    // run's row sourced from its own thread.
    val aWrote = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    @volatile var aNote: Option[String] = None
    val a = new Thread(() => {
      Pipeline.jobNote = Some("mode=merge v=7")
      aWrote.countDown()
      bDone.await()
      aNote = Pipeline.jobNote
    })
    val b = new Thread(() => {
      aWrote.await()
      Pipeline.jobNote = None
      Pipeline.jobNote = Some("mode=full v=1")
      bDone.countDown()
    })
    a.start(); b.start(); a.join(10000); b.join(10000)
    assert(aNote.contains("mode=merge v=7"),
      s"thread B's clear/overwrite leaked into thread A's note: $aNote")
  }
}
