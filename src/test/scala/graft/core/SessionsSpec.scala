package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand

import graft.SparkSpec

/** The one session factory and the one run/release/drain path every
  * harness shares: the factory's settings reach the suite's session,
  * no other main-code file builds a session, and a drained listener
  * bus leaves nothing to poll for.
  */
class SessionsSpec extends SparkSpec {

  test("the drain delivers a persisting query's and a child-session query's record, no retry") {
    // g5 persists intermediates (several executions per run); the q85
    // frame is built on a child session, whose executions a capture on
    // the parent still sees (the bus is per context)
    val child = spark.newSession()
    for ((name, session) <- Seq("g5_hits" -> spark, "q85_hierarchy_rollup" -> child)) {
      val df = graft.queries.Registry.queries(name)(session, sfDir)
      try {
        val recs = Sessions.capture(spark)(Sessions.run(df))._2.executions
        assert(recs.nonEmpty, s"$name: no execution captured after the drain")
        assert(recs.last.failure.isEmpty, s"$name: ${recs.last}")
        assert(recs.last.qe.sparkSession eq session, s"$name: the last execution ran on another session")
        assert(recs.last.qe.logical.isInstanceOf[V2WriteCommand], s"$name: ${recs.last.qe.logical.nodeName}")
      } finally Sessions.release(spark)
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

  test("no main-code file other than Sessions.scala adds a listener") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val listener = """listenerManager\s*\.\s*register|addSparkListener|QueryExecutionListener""".r
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    val listeners = files.filter(p => listener.findFirstIn(Files.readString(p)).isDefined)
    assert(listeners.map(_.getFileName.toString) == Seq("Sessions.scala"),
      listeners.map(p => root.relativize(p)).mkString(", "))
  }
}
