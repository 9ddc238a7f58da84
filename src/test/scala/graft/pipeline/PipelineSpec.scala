package graft.pipeline

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.io.RunLog
import graft.pipeline.Pipeline._

class PipelineSpec extends SparkSpec {

  // 2024-01-01 is a Monday; 2024-01-02 a Tuesday.
  private val monday = LocalDate.of(2024, 1, 1)
  private val tuesday = LocalDate.of(2024, 1, 2)

  private def okJob(name: String, deps: Seq[String] = Nil,
                    schedule: Schedule = Daily) =
    Job(name, s"tbl_$name", schedule, deps)((_, _) => 7L)

  test("topoOrder respects dependencies and detects cycles") {
    val jobs = Seq(okJob("c", deps = Seq("b")), okJob("a"), okJob("b", deps = Seq("a")))
    assert(Pipeline.topoOrder(jobs).map(_.name) == Seq("a", "b", "c"))
    intercept[IllegalArgumentException] {
      Pipeline.topoOrder(Seq(okJob("x", deps = Seq("y")), okJob("y", deps = Seq("x"))))
    }
  }

  test("weekly jobs run on Monday, are Skipped otherwise, with run-log rows") {
    val log = tmpDir("runlog") + "/log"
    val jobs = Seq(okJob("daily"), okJob("weekly", schedule = Weekly))

    val mon = Pipeline.run(spark, jobs, monday, log)
    assert(mon.map(r => r.job -> r.status).toMap ==
      Map("daily" -> Succeeded, "weekly" -> Succeeded))

    val tue = Pipeline.run(spark, jobs, tuesday, log)
    assert(tue.map(r => r.job -> r.status).toMap ==
      Map("daily" -> Succeeded, "weekly" -> Skipped))

    val rows = RunLog.read(spark, log).collect()
    assert(rows.length == 4)
    val tueWeekly = rows.filter(r =>
      r.getAs[String]("bat_dt") == "20240102" && r.getAs[String]("job_nm") == "weekly")
    assert(tueWeekly.head.getAs[String]("success_yn") == "S")
  }

  test("failure exhausts retries, logs N, and skips dependents") {
    val log = tmpDir("runlog") + "/log"
    var attempts = 0
    val boom = Job("boom", "tbl_boom", Daily, Nil, retries = 2)((_, _) => {
      attempts += 1; throw new RuntimeException("nope")
    })
    val results = Pipeline.run(spark, Seq(boom, okJob("down", deps = Seq("boom"))),
      monday, log)
    assert(attempts == 3) // 1 try + 2 retries (Airflow_week.py:47-48)
    assert(results.map(r => r.job -> r.status).toMap ==
      Map("boom" -> Failed, "down" -> Skipped))
    val logged = RunLog.read(spark, log).collect()
      .map(r => r.getAs[String]("job_nm") -> r.getAs[String]("success_yn")).toMap
    assert(logged == Map("boom" -> "N", "down" -> "S"))
  }

  test("retry succeeds after transient failure and reports attempts") {
    val log = tmpDir("runlog") + "/log"
    var n = 0
    val flaky = Job("flaky", "tbl_flaky")((_, _) => {
      n += 1; if (n < 2) throw new RuntimeException("transient") else 5L
    })
    val res = Pipeline.run(spark, Seq(flaky), monday, log)
    assert(res.head.status == Succeeded && res.head.attempts == 2 && res.head.rows == 5L)
  }

  test("jobs using registering query paths leave the cache manager empty") {
    val log = tmpDir("runlog") + "/log"
    val caching = Job("caching", "tbl_caching")((s, _) => {
      import graft.core.Caching.RegisterSyntax
      val df = graft.core.Tables.load(s, sfDir, "nation").registerCache()
      df.count()
    })
    val failing = Job("leaky_fail", "tbl_leaky", Daily, Nil, retries = 0)((s, _) => {
      import graft.core.Caching.RegisterSyntax
      graft.core.Tables.load(s, sfDir, "region").registerCache().count()
      throw new RuntimeException("after registering")
    })
    val res = Pipeline.run(spark, Seq(caching, failing), monday, log)
    assert(res.map(_.status) == Seq(Succeeded, Failed))
    assert(spark.sharedState.cacheManager.isEmpty,
      "Pipeline.run must release registered caches per attempt, success or failure")
  }

  test("no main-code file other than Pipeline.scala declares a ThreadLocal") {
    // a publish reports what it did through a value it returns or a
    // record it commits; the DAG runner's note slot is the one
    // thread-scoped carrier
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val threadLocal = """\bThreadLocal\b""".r
    val declared = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
      .flatMap(p => threadLocal.findAllIn(Files.readString(p)).map(_ => p.getFileName.toString))
    assert(declared == Seq("Pipeline.scala"), declared.mkString(", "))
  }

  test("only DerivedStore.scala turns bytes into file counts or declares a budget hook") {
    // one major-compaction budget and one bytes -> file-count rule,
    // shared by the LSM tiers, the stream folds and the corpus sync:
    // the two divisions by SourceBytesPerFile in DerivedStore are
    // fileBudget and filesFor, and lsmBudgetOverride is the one hook
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val perByte = """/\s*(?:[\w.]*\.)?SourceBytesPerFile\b""".r
    val hook = """\bvar\s+\w*BudgetOverride\b""".r
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    def sites(re: scala.util.matching.Regex) = files.flatMap(p =>
      re.findAllIn(Files.readString(p)).map(_ => p.getFileName.toString)).sorted
    assert(sites(perByte) == Seq("DerivedStore.scala", "DerivedStore.scala"),
      sites(perByte).mkString(", "))
    assert(sites(hook) == Seq("DerivedStore.scala"), sites(hook).mkString(", "))
  }

  test("one in-place swap and one directory swap: their callers rename nothing, one module writes the journal") {
    // the takedown and the corpus sync move files only through
    // InPlaceSwap (journal, replay, manifest restage, recovery);
    // AggView swaps its directory only through AtomicPublish.publishWith
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
      .map(p => p.getFileName.toString -> Files.readString(p))
    def sites(re: scala.util.matching.Regex) =
      files.filter { case (_, src) => re.findFirstIn(src).nonEmpty }.map(_._1).sorted
    val renaming = sites("""\.rename\(""".r).toSet
    Seq("TargetedDelete.scala", "StreamTierIngest.scala", "AggView.scala").foreach(f =>
      assert(!renaming(f), s"$f renames files itself"))
    assert(sites(""""(?:mv|old)\\t""".r) == Seq("InPlaceSwap.scala"),
      "only the swap module spells the journal's line format")
    // pending swap state is per table: one module knows every caller's
    // journal, so every entry recovers all of them
    assert(sites("""-journal\b""".r) == Seq("InPlaceSwap.scala"),
      "only the swap module names a swap journal")
    assert(sites("""def\s+recoverIfCrashed\b""".r) == Seq("AtomicPublish.scala"))
    assert(sites("""\bdeltaFloor\b""".r).isEmpty)
  }
}
