package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

class Scd2Spec extends SparkSpec {

  private lazy val ss = spark
  import ss.implicits._

  private def dimOf(rows: Seq[(Long, Long)], from: String = "2024-01-01") =
    rows.toDF("k", "v")
      .withColumn("valid_from", lit(from).cast("date"))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))

  private def snapOf(rows: Seq[(Long, Long)]) =
    rows.toDF("k", "v")

  test("merge handles unchanged / changed / deleted / inserted keys") {
    val dim = dimOf(Seq(1L -> 10L, 2L -> 20L, 3L -> 30L))
    val snap = snapOf(Seq(1L -> 10L, 2L -> 99L, 4L -> 40L)) // 3 deleted, 4 new
    val out = Scd2.mergeSnapshot(dim, snap, "k", Seq("v"), "2024-06-01")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getDate(3)).map(_.toString), r.getBoolean(4))).toSet
    assert(out == Set(
      (1L, 10L, None, true),                    // unchanged
      (2L, 20L, Some("2024-06-01"), false),     // old version closed
      (2L, 99L, None, true),                    // new version opened
      (3L, 30L, Some("2024-06-01"), false),     // deleted -> closed
      (4L, 40L, None, true)))                   // inserted -> opened
  }

  test("re-merging the identical snapshot is a no-op on current rows") {
    val dim = dimOf(Seq(1L -> 10L, 2L -> 20L))
    val snap = snapOf(Seq(1L -> 11L, 2L -> 20L))
    val once = Scd2.mergeSnapshot(dim, snap, "k", Seq("v"), "2024-06-01")
    val twice = Scd2.mergeSnapshot(once, snap, "k", Seq("v"), "2024-07-01")
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("closed history passes through later merges untouched") {
    val dim = dimOf(Seq(1L -> 10L))
    val m1 = Scd2.mergeSnapshot(dim, snapOf(Seq(1L -> 20L)), "k", Seq("v"), "2024-02-01")
    val m2 = Scd2.mergeSnapshot(m1, snapOf(Seq(1L -> 30L)), "k", Seq("v"), "2024-03-01")
    // full lineage: 10 (closed), 20 (closed), 30 (open)
    val versions = m2.orderBy("valid_from").collect()
      .map(r => (r.getLong(1), r.getBoolean(4)))
    assert(versions.toSeq == Seq((10L, false), (20L, false), (30L, true)))
  }

  // ---- edge cases: each asserts the exact output row multiset --------

  private val AsOf = "2024-06-01"
  private val From = "2024-01-01"

  /** (k, v, valid_from, valid_to, is_current) */
  private type Scd = (Long, Option[Long], String, Option[String], Boolean)

  /** An SCD2 table from explicit rows, history rows included. */
  private def scdOf(rows: Seq[Scd]) =
    rows.toDF("k", "v", "valid_from", "valid_to", "is_current")
      .withColumn("valid_from", col("valid_from").cast("date"))
      .withColumn("valid_to", col("valid_to").cast("date"))

  private def current(k: Long, v: Option[Long]): Scd = (k, v, From, None, true)

  private def snapOpt(rows: Seq[(Long, Option[Long])]) = rows.toDF("k", "v")

  /** The merge's rows, sorted: equal Seqs are equal multisets. */
  private def merged(dim: Seq[Scd], snap: Seq[(Long, Option[Long])]): Seq[Scd] = {
    val out = Scd2.mergeSnapshot(scdOf(dim), snapOpt(snap), "k", Seq("v"), AsOf)
    assert(out.columns.toSeq == Seq("k", "v", "valid_from", "valid_to", "is_current"))
    out.collect().toSeq.map(r => (r.getLong(0),
      Option(r.get(1)).map(_.asInstanceOf[Long]), r.getDate(2).toString,
      Option(r.getDate(3)).map(_.toString), r.getBoolean(4))).sorted
  }

  test("null tracked values: null->v and v->null change, null->null is unchanged") {
    val out = merged(
      Seq(current(1, None), current(2, Some(20)), current(3, None)),
      Seq(1L -> Some(10L), 2L -> None, 3L -> None))
    assert(out == Seq[Scd](
      (1, None, From, Some(AsOf), false), (1, Some(10), AsOf, None, true),
      (2, None, AsOf, None, true), (2, Some(20), From, Some(AsOf), false),
      (3, None, From, None, true)).sorted)
  }

  test("a key only in the dim is closed") {
    val out = merged(Seq(current(1, Some(10)), current(2, Some(20))), Seq(2L -> Some(20L)))
    assert(out == Seq[Scd](
      (1, Some(10), From, Some(AsOf), false), (2, Some(20), From, None, true)))
  }

  test("a key only in the snapshot is opened") {
    val out = merged(Seq(current(1, Some(10))), Seq(1L -> Some(10L), 5L -> Some(50L)))
    assert(out == Seq[Scd](
      (1, Some(10), From, None, true), (5, Some(50), AsOf, None, true)))
  }

  test("a changed key is closed and re-opened, exactly once each") {
    val out = merged(Seq(current(1, Some(10))), Seq(1L -> Some(11L)))
    assert(out == Seq[Scd](
      (1, Some(10), From, Some(AsOf), false), (1, Some(11), AsOf, None, true)))
  }

  test("closed history rows pass through, whatever the snapshot says about their key") {
    val hist1: Scd = (1, Some(5), "2023-01-01", Some(From), false)
    val hist2: Scd = (2, Some(7), "2023-01-01", Some(From), false)
    val out = merged(
      Seq(hist1, current(1, Some(10)), hist2, current(2, Some(20))),
      Seq(1L -> Some(11L), 2L -> Some(20L), 3L -> Some(5L)))
    assert(out == Seq[Scd](
      hist1, (1, Some(10), From, Some(AsOf), false), (1, Some(11), AsOf, None, true),
      hist2, (2, Some(20), From, None, true),
      (3, Some(5), AsOf, None, true)).sorted)
  }

  test("an empty snapshot closes every current row and keeps history") {
    val hist: Scd = (1, Some(5), "2023-01-01", Some(From), false)
    val out = merged(Seq(hist, current(1, Some(10)), current(2, None)), Seq.empty)
    assert(out == Seq[Scd](
      hist, (1, Some(10), From, Some(AsOf), false), (2, None, From, Some(AsOf), false)).sorted)
  }

  test("an empty dim opens every snapshot row") {
    val out = merged(Seq.empty, Seq(1L -> Some(10L), 2L -> None))
    assert(out == Seq[Scd](
      (1, Some(10), AsOf, None, true), (2, None, AsOf, None, true)))
  }
}
