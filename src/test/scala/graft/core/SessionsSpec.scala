package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.pipeline.QueryMetrics

/** The one session factory and the one run/release/drain path every
  * harness shares: the factory's settings reach the suite's session,
  * no other main-code file builds a session, and a drained listener
  * bus leaves nothing to poll for.
  */
class SessionsSpec extends SparkSpec {

  test("the drain delivers a persisting query's and a child-session query's record, no retry") {
    // g5 persists intermediates (several executions per run); q85
    // builds its plan on s.newSession(), whose listener manager is its own
    for (name <- Seq("g5_hits", "q85_hierarchy_rollup")) {
      val df = graft.queries.Registry.queries(name)(spark, sfDir)
      val l = QueryMetrics.attach(df.sparkSession)
      try {
        Sessions.run(df)
        Sessions.drain(spark)
        val recs = l.snapshot
        assert(recs.nonEmpty, s"$name: no QueryMetrics record after the drain")
        assert(!recs.last.failed, s"$name: ${recs.last}")
      } finally {
        QueryMetrics.detach(df.sparkSession, l)
        Sessions.release(spark)
      }
    }
  }

  test("Sessions.local carries the codegen-cache, extensions and UTC settings") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(spark.conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("no main-code file other than Sessions.scala builds a SparkSession") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val builder = """SparkSession\s*\.\s*builder""".r
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    val builders = files.filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
    assert(builders.map(_.getFileName.toString) == Seq("Sessions.scala"),
      builders.map(p => root.relativize(p)).mkString(", "))
  }
}
