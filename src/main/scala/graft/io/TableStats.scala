package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.ColStat

/** ANALYZE-equivalent for RAW warehouse tables (r12 verdict #4's second
  * half): published tiers get their optimizer stats from the `_stats`
  * sidecar their publish wrote, but the warehouse's source tables are
  * loaded, not published — nothing records their row counts, so every
  * join against them is priced from raw file bytes. `analyze` computes
  * the same numbers every tier publish records — exact rows from
  * parquet's metadata-only count (footer row counts, no data pages),
  * bytes from one listing, a measured per-column profile
  * ([[columnProfile]]) from one column-pruned agg — and registers them
  * in [[graft.plans.TierStatsCatalog]] so the injected rule prices the
  * table's scans from reality. Registration is in-memory (the warehouse
  * dirs may be read-only); [[graft.pipeline.TierRefresh]]'s nightly
  * `analyze_raw` job re-analyzes after loads — one metadata pass,
  * amortized against every query that night (the reference's nightly
  * refresh discipline, `Airflow_week.py:325-377`). The catalog entry is
  * signed with the table DIRECTORY's mtime, so a reload that rewrites
  * the files invalidates the stale numbers at the next plan instead of
  * silently pricing the old corpus. */
object TableStats {

  /** Stats registered for `$dir/$table.parquet`. Returns (rows, bytes). */
  def analyze(s: SparkSession, dir: String, table: String): (Long, Long) = {
    val path = new Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(path).toString
    // signature FIRST, stats second: a reload landing mid-analyze then
    // fails the next plan's revalidation (pre-reload signature vs
    // post-reload listing) instead of signing post-reload over numbers
    // counted pre-reload
    val sig = graft.plans.TierStatsCatalog.sigOf(
      s.sparkContext.hadoopConfiguration, qualified)
    val df = s.read.parquet(path.toString)
    val rows = df.count() // metadata-only for parquet
    // the data files the read above scans: Spark's hidden-path rule on
    // every segment, so staging and in-flight copies weigh nothing
    val bytes = graft.core.Tables.filesAt(s, path).getOrElse(Nil).map(_.len).sum
    graft.plans.TierStatsCatalog.register(
      qualified, rows, bytes, columnProfile(df, rows),
      sigPath = qualified, sig = sig)
    (rows, bytes)
  }

  /** Bulk [[analyze]] over the warehouse's tables, skipping absent or
    * unreadable ones (stats must never fail a night) — the nightly
    * `analyze_raw` body and the plan tools' `GRAFT_ANALYZE=1` world
    * share it. Returns (table, rows) per analyzed table. */
  def analyzeAll(s: SparkSession, dir: String,
                 tables: Seq[String] = graft.core.Tables.all): Seq[(String, Long)] =
    tables.flatMap { t =>
      scala.util.Try(analyze(s, dir, t)).toOption.map { case (r, _) => t -> r }
    }

  /** Measured per-column profile, one agg pass:
    *  - avg/max byte widths for var-width columns (string/binary by
    *    length, arrays by size × element width) — the columns whose
    *    DEFAULT widths misprice a scan (string=20B wrongly broadcasts a
    *    2KB text payload);
    *  - NDV + null count for every atomic column — what join-cardinality
    *    estimation keys on (`rows₁·rows₂ / max(ndv₁, ndv₂)`).
    * NDV is `approx_count_distinct` (HLL), NOT an exact multi-distinct:
    * exact NDV over N columns plans an Expand that multiplies the pass
    * by N+1 — at tier scale that turns a publish's one cheap stats scan
    * into the night's biggest shuffle. Spark's own `ANALYZE ... FOR
    * COLUMNS` makes the same trade (HLL at ~5% rsd); estimation needs
    * the magnitude, not the exact count. NDV is clamped to the row
    * count so the sketch's overshoot can never report an impossible
    * statistic. */
  private[graft] def columnProfile(df: DataFrame,
                                   rows: Long): Map[String, ColStat] = {
    import org.apache.spark.sql.types._
    final case class Slot(name: String, kind: String, expr: Column)
    val slots = df.schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      val widths = f.dataType match {
        case StringType | BinaryType => Seq(
          Slot(f.name, "avg", avg(length(c))),
          Slot(f.name, "max", max(length(c)).cast("double")))
        case ArrayType(et, _) => Seq(
          Slot(f.name, "avg", avg(size(c)) * lit(math.max(1, et.defaultSize))))
        case _ => Nil
      }
      // "atomic" by exclusion — AtomicType itself is sql-private; the
      // containers, NULL, and intervals are what HLL can't hash.
      // TimestampNTZ is measurable but must NOT carry stats: Spark
      // 4.1.2's FilterEstimation.evaluateBinary match covers
      // NumericType/Date/Timestamp/Boolean/String/Binary only, so a
      // stats-bearing NTZ column under a comparison predicate throws
      // MatchError inside planning (verified against this container's
      // spark-catalyst). No stats → FilterEstimation skips the column.
      val atomic = f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => false
        case NullType | CalendarIntervalType | TimestampNTZType => false
        case _: YearMonthIntervalType | _: DayTimeIntervalType => false
        case _ => true
      }
      val counts = if (!atomic) Nil else Seq(
        Slot(f.name, "ndv", approx_count_distinct(c).cast("double")),
        Slot(f.name, "nulls", (count(lit(1)) - count(c)).cast("double")))
      // value min/max for numeric columns, in CatalogColumnStat's
      // external-string form (exact via a string cast — a double
      // round-trip would corrupt longs past 2^53). Join estimation
      // REQUIRES these: a numeric key without min/max is a
      // NullValueInterval, and the two sides' interval intersection
      // zeroes the estimate before the NDV formula runs.
      val numeric = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType => true
        case _ => false
      }
      val bounds = if (!numeric) Nil else Seq(
        Slot(f.name, "vmin", min(c).cast("string")),
        Slot(f.name, "vmax", max(c).cast("string")))
      widths ++ counts ++ bounds
    }
    if (slots.isEmpty || rows == 0L) Map.empty
    else {
      val row = df.agg(slots.head.expr, slots.tail.map(_.expr): _*).head()
      val measured = slots.zipWithIndex.flatMap { case (sl, i) =>
        if (row.isNullAt(i)) None
        else Some((sl.name, sl.kind) -> row.get(i))
      }.toMap
      def longOf(name: String, kind: String): Option[Long] =
        measured.get((name, kind))
          .map(v => math.ceil(v.asInstanceOf[Double]).toLong)
      // only finite numerics are recorded: "NaN"/"Infinity" would parse
      // at attach time but poison interval math and the append-night
      // sidecar merge
      def boundOf(name: String, kind: String): Option[String] =
        measured.get((name, kind)).map(_.asInstanceOf[String])
          .filter(s => scala.util.Try(BigDecimal(s)).isSuccess)
      df.schema.fieldNames.flatMap { name =>
        val st = ColStat(
          avgLen = longOf(name, "avg").map(math.max(1L, _)),
          maxLen = longOf(name, "max"),
          ndv = longOf(name, "ndv").map(n => math.min(math.max(1L, n), math.max(1L, rows))),
          nulls = longOf(name, "nulls"),
          min = boundOf(name, "vmin"),
          max = boundOf(name, "vmax"))
        if (st == ColStat.empty) None else Some(name -> st)
      }.toMap
    }
  }
}
