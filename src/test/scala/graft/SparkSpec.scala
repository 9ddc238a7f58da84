package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, `Test / fork := true`). */
object TestSession {
  lazy val spark: SparkSession = graft.core.Sessions.local(cores = 8, appName = "graft-test")
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
