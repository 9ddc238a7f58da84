package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** SCD2 snapshot merge — history-keeping upsert.
  *
  * The reference's only mutation primitive is delete-then-append (K1,
  * `BkupRs.py:272-280`): yesterday's rows are gone. Its backup tier
  * (`bkup_dt`-stamped copies, O7) exists precisely because history is
  * lost otherwise. This operator is the warehouse-native alternative:
  * merge a fresh snapshot into a slowly-changing-dimension table,
  * closing changed/deleted rows (`valid_to`, `is_current = false`) and
  * opening new versions — full lineage in one table, no daily copies.
  *
  * Execution shape: one full-outer shuffle join on the business key
  * between the *current* slice and the snapshot, read ONCE by one
  * generate: each joined row emits its unchanged / closed / opened
  * arms as entries of one array (a changed key emits two), and the
  * arms that don't apply are null entries dropped right after. A
  * union of three filtered copies of the join ran one join per arm
  * (the optimizer made them an inner, a left and a right join).
  * Closed history rows pass through untouched (union, no shuffle). At
  * 100 TB the current slice is a small fraction of history, and both
  * sides hash-partition on the key — no window, no global sort, no
  * driver state. The write side composes with
  * [[IdempotentWriter.fullRefresh]] (same-day re-runs converge) or
  * partition-by-`valid_to` refresh.
  */
object Scd2 {

  /** Merge `snapshot` (current truth, one row per `key`) into `dim`
    * (SCD2 table: `key`, tracked columns, `valid_from`, `valid_to`,
    * `is_current`). Returns the merged SCD2 table.
    *
    * Row fates: unchanged → pass through; changed → old row closed at
    * `asOf` + new row opened; absent from snapshot → closed (delete);
    * new key → opened.
    */
  def mergeSnapshot(dim: DataFrame, snapshot: DataFrame, key: String,
                    tracked: Seq[String], asOf: String): DataFrame = {
    val active = dim.filter(col("is_current"))
    val history = dim.filter(!col("is_current"))

    val snapCols = tracked.map(c => col(c).as(s"__snap_$c"))
    val snap = snapshot.select(col(key) +: snapCols: _*)
      .withColumn("__in_snap", lit(true))

    val j = active.join(snap, Seq(key), "full_outer")

    val changed = tracked.map(c => !(col(s"__snap_$c") <=> col(c))).reduce(_ || _)
    val inDim = col("is_current").isNotNull
    val inSnap = col("__in_snap").isNotNull
    val asOfDate = lit(asOf).cast("date")

    def dimRow(valid_to: Column, current: Column): Column =
      struct(col(key) +: tracked.map(col) :+ col("valid_from") :+
        valid_to.as("valid_to") :+ current.as("is_current"): _*)

    // one pass over the join: each row emits its (at most two) fates as
    // entries of one array; the null entries of the arms that don't
    // apply are dropped after the generate
    val arms = array(
      // pass-through: present in both, tracked values identical
      when(inDim && inSnap && !changed, dimRow(col("valid_to"), lit(true))),
      // close: changed or deleted
      when(inDim && (!inSnap || changed), dimRow(asOfDate, lit(false))),
      // open: changed or brand-new key takes the snapshot values
      when(inSnap && (!inDim || changed),
        struct(col(key) +: tracked.map(c => col(s"__snap_$c").as(c)) :+
          asOfDate.as("valid_from") :+
          lit(null).cast("date").as("valid_to") :+
          lit(true).as("is_current"): _*)))
    val merged = j.select(explode(arms).as("arm"))
      .filter(col("arm").isNotNull)
      .select("arm.*")

    history.select(merged.columns.map(col): _*).unionByName(merged)
  }

  // =========================================================================
  // q28 — oracle query: one merge step over a derived snapshot
  // =========================================================================

  /** Day-0 dim = customers opened 2024-01-01; day-180 snapshot =
    * customers with balances (exact cents) doubled for every 10th key
    * and every 97th key gone. The merge must close the changed and
    * deleted rows, open the new versions, and pass the rest through.
    */
  val q28Scd2Merge: (SparkSession, String) => DataFrame = (s, dir) => {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"),
        expr("cast(round(c_acctbal*100) as bigint)").as("bal_cents"))
    val dim = cust
      .withColumn("valid_from", lit("2024-01-01").cast("date"))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    val snap = cust.filter(col("c_custkey") % 97 =!= 0)
      .withColumn("bal_cents",
        when(col("c_custkey") % 10 === 0, col("bal_cents") * 2)
          .otherwise(col("bal_cents")))
    mergeSnapshot(dim, snap, "c_custkey", Seq("bal_cents"), "2024-06-29")
  }

  val q28Scd2MergeSql: String = """
    WITH cust AS (
      SELECT c_custkey, CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents
      FROM customer),
    snap AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN bal_cents * 2
                  ELSE bal_cents END AS bal_cents
      FROM cust WHERE c_custkey % 97 <> 0),
    unchanged AS (
      SELECT d.c_custkey, d.bal_cents,
             DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
             true AS is_current
      FROM cust d JOIN snap s ON d.c_custkey = s.c_custkey
      WHERE d.bal_cents = s.bal_cents),
    closed AS (
      SELECT d.c_custkey, d.bal_cents,
             DATE '2024-01-01' AS valid_from, DATE '2024-06-29' AS valid_to,
             false AS is_current
      FROM cust d LEFT JOIN snap s ON d.c_custkey = s.c_custkey
      WHERE s.c_custkey IS NULL OR d.bal_cents <> s.bal_cents),
    opened AS (
      SELECT s.c_custkey, s.bal_cents,
             DATE '2024-06-29' AS valid_from, CAST(NULL AS DATE) AS valid_to,
             true AS is_current
      FROM snap s JOIN cust d ON d.c_custkey = s.c_custkey
      WHERE d.bal_cents <> s.bal_cents)
    SELECT * FROM unchanged
    UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM opened"""

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q28_scd2_merge" -> q28Scd2Merge)
  val oracleSql: Map[String, String] =
    Map("q28_scd2_merge" -> q28Scd2MergeSql)
}
