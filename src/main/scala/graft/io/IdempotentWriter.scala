package graft.io

import org.apache.spark.sql.DataFrame

/** K1 — the reference's signature sink: `preactions = "delete from T
  * [where pred]"` followed by `.mode("append")`
  * (`AWS_GLUE_ETL.py:124-132`, `log_screen.py:306-314`,
  * `Keyword.py:247-255`, `BkupRs.py:272-280`).
  *
  * Spark-native equivalents:
  *  - full refresh (delete-all + append)   → `mode("overwrite")`
  *  - partition refresh (delete-where-key) → `partitionBy(key)` +
  *    the write option `partitionOverwriteMode=dynamic`, which
  *    rewrites only the partitions present in the incoming frame — the
  *    exact semantics of the reference's `delete where bkup_dt = :d`
  *    preaction, and at 100 TB the difference between touching one day
  *    and rewriting the table.
  *
  * Both paths are idempotent: running the same job twice yields the
  * same table (the reference's whole reason for preactions-delete).
  */
object IdempotentWriter {

  /** Full-refresh overwrite. Returns rows written (A4 count gate —
    * `log_screen.py:305` compares source count to written count).
    */
  def fullRefresh(df: DataFrame, path: String): Long = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path).count()
  }

  /** Dynamic partition refresh keyed on `partCol`: only partitions
    * present in `df` are replaced; others are left untouched. The mode
    * is this write's option, never the session's: a session-wide
    * `partitionOverwriteMode` would turn every later static overwrite
    * in the session dynamic.
    */
  def partitionRefresh(df: DataFrame, path: String, partCol: String): Long = {
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)
    df.sparkSession.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col(partCol)
        .isin(df.select(partCol).distinct().collect().map(_.get(0)): _*))
      .count()
  }
}
