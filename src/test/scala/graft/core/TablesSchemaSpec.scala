package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** Pins the TESTDATA contract: the post-normalization loaded schema of
  * every table, as ONE named assertion per table.
  *
  * The driver regenerated TESTDATA between rounds 4 and 5 and silently
  * changed `events.ts` from parquet TIMESTAMP(NANOS) to
  * TIMESTAMP(MICROS, isAdjustedToUTC=false): 7 queries and 3 unrelated-
  * looking suites went red at *analysis* time with no pointer to the
  * cause. This spec makes the next silent regeneration fail HERE, with
  * the table and column named.
  */
class TablesSchemaSpec extends SparkSpec {
  private val expected = Map(
    "region" -> "r_regionkey:int, r_name:string",
    "nation" -> "n_nationkey:int, n_name:string, n_regionkey:int",
    "customer" -> "c_custkey:bigint, c_name:string, c_nationkey:int, c_acctbal:double, c_mktsegment:string",
    "supplier" -> "s_suppkey:bigint, s_name:string, s_nationkey:int, s_acctbal:double",
    "part" -> "p_partkey:bigint, p_name:string, p_brand:string, p_type:string, p_size:int, p_retailprice:double",
    "orders" -> ("o_orderkey:bigint, o_custkey:bigint, o_orderstatus:string, o_totalprice:double, " +
      "o_orderdate:timestamp_ntz, o_orderpriority:string"),
    "lineitem" -> ("l_orderkey:bigint, l_partkey:bigint, l_suppkey:bigint, l_linenumber:int, " +
      "l_quantity:double, l_extendedprice:double, l_discount:double, l_tax:double, " +
      "l_returnflag:string, l_linestatus:string, l_shipdate:timestamp_ntz"),
    // ts MUST load as TIMESTAMP (LTZ): unix_micros/unix_millis and the
    // session-window family require it. Tables.load normalizes both
    // historical physical types (NANOS-as-long, MICROS-as-NTZ) to it.
    "events" -> "event_id:bigint, ts:timestamp, user_id:bigint, event_type:string, value:double, props:string",
    "documents" -> "doc_id:bigint, text:string, lang:string, source:string, n_chars:bigint",
    "embeddings" -> "vec_id:bigint, embedding:array<float>, label:int")

  /** The table's data files, as an append-only refresh hands them to
    * [[Tables.loadFiles]]. */
  private def dataFiles(t: String): Seq[String] = {
    val root = new Path(s"$sfDir/$t.parquet")
    val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .map(_.toString).toSeq
  }

  for (t <- Tables.all) test(s"loaded schema of `$t` matches the pinned TESTDATA contract") {
    for ((via, df) <- Seq("Tables.load" -> Tables.load(spark, sfDir, t),
                          "Tables.loadFiles" -> Tables.loadFiles(spark, sfDir, t, dataFiles(t)))) {
      val got = df
        .schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")
      assert(got == expected(t),
        s"\nTESTDATA drift for `$t` via $via —\n  expected: ${expected(t)}\n  loaded:   $got\n" +
          "If the driver regenerated the parquet, normalize in Tables.load and re-pin here.")
    }
  }

  test("no main-code file other than Tables.scala reads a table's parquet path through spark.read") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    // a `.read` whose statement names an interpolated `…/<table>.parquet`
    val direct = """\.read\b(?:(?!\n\s*(?:val|def|var)\b)[\s\S]){0,200}?s"\$[^"]*/[^"/]*\.parquet"""".r
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    val readers = files.filter(p => direct.findFirstIn(Files.readString(p)).isDefined)
    assert(readers.map(_.getFileName.toString) == Seq("Tables.scala"),
      readers.map(p => root.relativize(p)).mkString(", "))
  }

  test("events.ts normalization requires the UTC session time zone") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Seoul")
      val e = intercept[IllegalArgumentException](Tables.load(spark, sfDir, "events"))
      assert(e.getMessage.contains("UTC"))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }
}
