package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.expr

import graft.SparkSpec

/** Pins the TESTDATA contract — the post-normalization loaded schema of
  * every table, as ONE named assertion per table — and the resolution
  * memo behind [[Tables.load]]: every change to a table's files or read
  * confs is seen by the next load, each load is a fresh instance, and a
  * session only ever receives its own relation.
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
  private def dataFiles(t: String): Seq[String] =
    Tables.sourceFiles(spark, sfDir, t).getOrElse(Seq.empty).map(_.path)

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

  private def schemaOf(df: org.apache.spark.sql.DataFrame): String =
    df.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")

  /** A single-file copy of a TESTDATA table under a fresh dir, as `as`. */
  private def copied(table: String, dir: String, as: String): Unit =
    Files.copy(Paths.get(sfDir, s"$table.parquet"), Paths.get(dir, s"$as.parquet"),
      StandardCopyOption.REPLACE_EXISTING): Unit

  test("memo: a single-file table rewritten with a new schema loads the new schema and rows") {
    val dir = tmpDir("tables-rewrite")
    copied("region", dir, "t")
    assert(schemaOf(Tables.load(spark, dir, "t")) == expected("region"))
    assert(Tables.load(spark, dir, "t").count() == 5)
    copied("nation", dir, "t")
    assert(schemaOf(Tables.load(spark, dir, "t")) == expected("nation"))
    assert(Tables.load(spark, dir, "t").count() == 25)
  }

  test("memo: a file appended to a directory table is read by the next load") {
    val dir = tmpDir("tables-append")
    spark.range(3).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").count() == 3)
    spark.range(3, 5).toDF("k").write.mode("append").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").count() == 5)
    assert(Tables.loadParallel(spark, dir, "t").count() == 5)
  }

  test("memo: a deleted table fails exactly like a plain read") {
    val dir = tmpDir("tables-deleted")
    copied("region", dir, "t")
    assert(Tables.load(spark, dir, "t").count() == 5)
    Files.delete(Paths.get(dir, "t.parquet"))
    val plain = intercept[Exception](spark.read.parquet(s"$dir/t.parquet"))
    val got = intercept[Exception](Tables.load(spark, dir, "t"))
    assert(got.getClass == plain.getClass && got.getMessage == plain.getMessage)
  }

  test("memo: two loads of one table self-join by column reference") {
    val dir = tmpDir("tables-selfjoin")
    spark.range(9).selectExpr("id % 3 AS k", "id AS v").write.parquet(s"$dir/t.parquet")
    // the `<` keeps Dataset.join from auto-resolving a trivially-true
    // `k = k` to both sides: only distinct attribute ids join correctly
    def joined(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("k") === b("k") && a("v") < b("v")).count()
    val plain = joined(spark.read.parquet(s"$dir/t.parquet"), spark.read.parquet(s"$dir/t.parquet"))
    assert(plain == 9)
    assert(joined(Tables.load(spark, dir, "t"), Tables.load(spark, dir, "t")) == plain)
  }

  test("memo: a child session never receives the parent session's relation") {
    val child = spark.newSession()
    Tables.load(spark, sfDir, "nation").count(): Unit
    val rel = Tables.load(child, sfDir, "nation").queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r.relation
    }
    rel match {
      case Some(h: HadoopFsRelation) => assert(h.sparkSession eq child)
      case other => fail(s"expected a file relation, got $other")
    }
  }

  test("memo: events.ts rewritten from nanos-long to TIMESTAMP_NTZ loads as TIMESTAMP both times") {
    val dir = tmpDir("tables-events-ts")
    val path = s"$dir/events.parquet"
    val want = 1704067200000000L // 2024-01-01 00:00:00 UTC, epoch micros
    def ts(): (String, Long) = {
      val df = Tables.load(spark, dir, "events")
      (df.schema("ts").dataType.simpleString, df.selectExpr("unix_micros(ts)").head().getLong(0))
    }
    spark.range(1).select(expr("1704067200000000000L AS ts")).write.parquet(path)
    assert(ts() == ("timestamp" -> want))
    spark.range(1).select(expr("TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ts"))
      .write.mode("overwrite").parquet(path)
    assert(ts() == ("timestamp" -> want))
  }

  test("memo: a changed parquet read conf re-resolves the relation") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.getOption(key)
    assert(Tables.load(spark, sfDir, "orders").schema("o_orderdate").dataType.simpleString == "timestamp_ntz")
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, sfDir, "orders").schema("o_orderdate").dataType.simpleString == "timestamp")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(Tables.load(spark, sfDir, "orders").schema("o_orderdate").dataType.simpleString == "timestamp_ntz")
  }

  test("loadParallel repartitions exactly when a plain read's scan is narrower than the parallelism") {
    val target = spark.sparkContext.defaultParallelism
    def agrees(t: String): Unit = {
      val plain = spark.read.parquet(s"$sfDir/$t.parquet").rdd.getNumPartitions < target
      val got = Tables.loadParallel(spark, sfDir, t).queryExecution.logical.isInstanceOf[Repartition]
      assert(got == plain, s"`$t`: plain read repartitions=$plain, loadParallel=$got")
    }
    Tables.all.foreach(agrees)
    // a split-settings change re-plans the scan: lineitem splits wide
    val confs = Seq("spark.sql.files.maxPartitionBytes" -> "4096",
                    "spark.sql.files.openCostInBytes" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(spark.read.parquet(s"$sfDir/lineitem.parquet").rdd.getNumPartitions >= target)
      Tables.all.foreach(agrees)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    Tables.all.foreach(agrees)
  }

  test("memo: loads hold no CacheManager entry") {
    Sessions.release(spark)
    Tables.all.foreach { t =>
      Tables.load(spark, sfDir, t).count(): Unit
      Tables.loadParallel(spark, sfDir, t).count(): Unit
    }
    Tables.registerAll(spark, sfDir)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
